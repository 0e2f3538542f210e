#!/usr/bin/env python3
"""Self-test of the benchmark's own accounting, on a tiny corpus.

    python3 perfbench/selftest.py

Runs one traced extraction job on a 12-document datagen corpus and
checks that

- every Spark stage of the job lands in one of the five stage classes,
  each class is present, and no task time is unclassified;
- plan + per-class stage time + idle time add up to the job's wall
  within 5%;
- the correctness gate passes on the job's output and fails on a golden
  with one span altered.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    run._launch_env(len(os.sched_getaffinity(0)))
    from harvest import CLASSES
    from ocr_service_spark import datagen
    from ocr_service_spark.session import get_spark

    corpus = os.path.join(run.WORK, "datagen", "selftest")
    datagen.ensure_dataset(corpus, 12, 7)
    golden = run._load_golden(corpus)
    spark = get_spark(app_name="perfbench-selftest")
    try:
        docs, media = run.warm_up(spark, corpus)
        traced = run.traced_job(
            spark, docs, media, corpus, os.path.join(run.WORK, "out", "selftest"), golden
        )
        doc = next(d for d, spans in golden.items() if spans)
        kind, text, ref, order = golden[doc][0]
        golden[doc] = [(kind, (text or "") + "#", ref, order)] + golden[doc][1:]
        tampered = run.check_job(spark, traced["job"]["out"], golden)
    finally:
        spark.stop()

    classes = {st["cls"] for st in traced["stages"]}
    m = traced["metrics"]
    failures = []
    if classes != set(CLASSES):
        failures.append(f"stage classes {sorted(classes)}, expected {sorted(CLASSES)}")
    if m["stage.unclassified.task_s"] > 0:
        failures.append(f"unclassified task time {m['stage.unclassified.task_s']:.3f} s")
    if m["trace.reconcile_error"] > 0.05:
        failures.append(f"layer walls miss the job wall by {m['trace.reconcile_error']:.1%}")
    if traced["check"]["mismatches"]:
        failures.append(f"{traced['check']['mismatches']} documents differ from golden")
    if tampered["mismatches"] != 1:
        failures.append("the correctness gate missed an altered golden span")
    for st in traced["stages"]:
        print(f"stage {st['id']:>4} {st['cls']:<12} tasks {st['tasks']:>3} task_s {st['task_s']:.2f}")
    print(f"reconcile error {m['trace.reconcile_error']:.2%}")
    for f in failures:
        print(f"FAIL: {f}")
    print("self-test", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
