#!/usr/bin/env python3
"""Extraction-job benchmark: docs/s and OCR chars/s of the checkpointed
job end to end, and what each Spark stage and media kernel costs.

    python3 perfbench/run.py --workload extract_photo --seed 1 --seconds 12 --trace 0

Run from the repository root. One process starts one ``local[nproc]``
session and drives the program's public entry points in a closed loop:
``run_resumable`` is called again only after the previous job returned,
each time into an empty output directory, until ``--seconds`` of job
wall time have been measured. Every job's output is then checked span by
span against the corpus golden; a mismatch makes the run incorrect.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same loop, then one traced job (stage harvest from the status store,
the job's own ``recognitions/`` and ``_metrics/``), a resume pass over a
half-done checkpoint, a single-process kernel pass, and one ``local[1]``
job for the scaling ratio, and reports the per-layer metrics. The last
line of stdout is one JSON object; the full record of the run is written
under ``perfbench/.work/artifacts``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# workload -> corpus kind (perfbench/corpora.py)
WORKLOADS = {"extract_photo": "photo", "extract_text": "text"}

# metric names and units: BENCHMARK.json at the repository root
SPEC = os.path.join(ROOT, "BENCHMARK.json")

# timed jobs per run, at least: the first still runs 3-25% slower than
# the ones after it, and the median of three or more leaves it out.
# (A second warm-up job did not remove that lag and cost 5-15 s a run.)
MIN_JOBS = 3


def _launch_env(cpus: int) -> None:
    """Launch settings fitted to the machine, as the tier-1 tests use them.
    SPARK_DRIVER_MEMORY is deliberately left to the program's default."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # temporary files (the JVM's native-library copies and scratch dirs,
    # Python's tempfile) stay under the work directory too; the program's
    # own JVM options are left as they are
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tool_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{tool_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    # Python workers import the program from the repository root
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _load_golden(corpus: str) -> dict[str, list[tuple]]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(corpus, "golden.parquet"))
    return {
        doc: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
        for doc, spans in zip(tbl["doc_id"].to_pylist(), tbl["spans"].to_pylist())
    }


def check_job(spark, out_dir: str, golden: dict) -> dict:
    """Correctness of one job's output, and what it wrote.

    Span-sequence equality ``(kind, text, media_ref, order)`` for every
    golden document, no extra documents; media recognitions counted by
    status from ``recognitions/``."""
    import pyarrow.parquet as pq
    from ocr_service_spark.pipeline.checkpoint import read_output

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in read_output(spark, out_dir).collect()
    }
    mismatches = sum(got.get(doc) != spans for doc, spans in golden.items())
    mismatches += len(got.keys() - golden.keys())
    ocr_chars = sum(
        len(text or "")
        for spans in got.values()
        for kind, text, _, _ in spans
        if kind in ("qr", "media_text")
    )
    rec = pq.read_table(os.path.join(out_dir, "recognitions"), columns=["status", "processing_ms"])
    status = rec["status"].to_pylist()
    return {
        "docs": len(got),
        "mismatches": mismatches,
        "ocr_chars": ocr_chars,
        "recognitions": len(status),
        "failed": sum(s != "completed" for s in status),
        "kernel_ms_sum": float(sum(rec["processing_ms"].to_pylist())),
    }


def run_job(spark, docs, media, out_dir: str, fresh: bool = True) -> dict:
    """One timed ``run_resumable`` call, into an empty directory unless
    ``fresh`` is false."""
    from ocr_service_spark.pipeline.checkpoint import run_resumable

    if fresh:
        shutil.rmtree(out_dir, ignore_errors=True)
    t_call = time.time()
    t0 = time.perf_counter()
    summary = run_resumable(spark, docs, media, out_dir)
    wall = time.perf_counter() - t0
    return {"out": out_dir, "wall_s": wall, "t_call": t_call, "t_return": time.time(), **summary}


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for base, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def traced_job(spark, docs, media, corpus: str, out_dir: str, golden: dict) -> dict:
    """One job with its stages harvested and classified, plus the media,
    checkpoint and accounting metrics read from its outputs."""
    import pyarrow.parquet as pq

    from harvest import StageStore, classify, per_class, stage_wall, timeline

    store = StageStore(spark)
    seen = store.seen()
    job = run_job(spark, docs, media, out_dir)
    stages = store.since(seen)
    classify(stages)
    tl = timeline(stages, job["t_call"], job["t_return"])
    check = check_job(spark, out_dir, golden)
    m = per_class(stages, tl["class_wall_s"])
    accounted = tl["plan_s"] + tl["idle_s"] + sum(tl["class_wall_s"].values())
    metrics_tbl = pq.read_table(os.path.join(out_dir, "_metrics"))
    sums = [v for v in metrics_tbl["kernel_ms_sum"].to_pylist() if v is not None]
    extracted = sum(v or 0 for v in metrics_tbl["n_blobs"].to_pylist())
    slots = spark.sparkContext.defaultParallelism
    media_wall = stage_wall(stages, "media")
    n_files, n_bytes = _dir_stats(out_dir)
    doc_bytes = os.path.getsize(os.path.join(corpus, "documents.parquet"))
    m.update(
        {
            "extract.plan_s": tl["plan_s"],
            "spark.driver_idle_s": tl["idle_s"],
            "trace.reconcile_error": abs(accounted - job["wall_s"]) / job["wall_s"],
            "media.blobs": float(extracted),
            "media.kernel_s": check["kernel_ms_sum"] / 1000.0,
            "media.occupancy": (
                check["kernel_ms_sum"] / (media_wall * 1000.0 * slots) if media_wall else 0.0
            ),
            "media.bin_balance": max(sums) / statistics.mean(sums) if sums else 0.0,
            "media.useful_blob_ratio": check["recognitions"] / extracted if extracted else 0.0,
            "ckpt.written_mb": n_bytes / 1e6,
            "ckpt.files": float(n_files),
            "ckpt.write_amplification": n_bytes / doc_bytes,
            "failed_share": check["failed"] / check["recognitions"] if check["recognitions"] else 0.0,
        }
    )
    return {"job": job, "check": check, "metrics": m, "stages": [
        {k: v for k, v in st.items() if k != "ops"} | {"ops": sorted(st["ops"])} for st in stages
    ]}


def resume_pass(spark, docs, media, out_dir: str, golden: dict) -> tuple[dict, dict]:
    """Finish a half-done run: a snapshot of ``run_resumable`` over the
    documents of even ``bucket_expr`` buckets, then one timed call over all
    documents, which reads the checkpoint, anti-joins the completed
    buckets and writes the rest beside them. The media branch extracts
    the whole media table again, so about half the blobs it extracts
    serve a processed document."""
    import pyarrow.parquet as pq
    from ocr_service_spark.pipeline.checkpoint import DEFAULT_BUCKETS, bucket_expr, run_resumable

    def blobs_and_records() -> tuple[int, int]:
        extracted = pq.read_table(os.path.join(out_dir, "_metrics"), columns=["n_blobs"])
        records = sum(
            pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
            for base, _, files in os.walk(os.path.join(out_dir, "recognitions"))
            for f in files
            if f.endswith(".parquet")
        )
        return sum(v or 0 for v in extracted["n_blobs"].to_pylist()), records

    shutil.rmtree(out_dir, ignore_errors=True)
    run_resumable(spark, docs.filter(bucket_expr(DEFAULT_BUCKETS) % 2 == 0), media, out_dir)
    blobs0, records0 = blobs_and_records()
    job = run_job(spark, docs, media, out_dir, fresh=False)
    check = check_job(spark, out_dir, golden)
    blobs1, records1 = blobs_and_records()
    return check, {
        "resume.wall_s": job["wall_s"],
        "resume.docs": float(job["processed_docs"]),
        "resume.useful_blob_ratio": (records1 - records0) / (blobs1 - blobs0) if blobs1 > blobs0 else 0.0,
    }


def warm_up(spark, corpus: str):
    """Load the workload's inputs and run one untimed job on them: it
    starts the Python workers and lets the JVM compile the job's plan. (A
    cold job runs ~2x as long as a warm one. The next job still runs
    3-25% slower than the ones after it, with one warm-up job or two; see
    MIN_JOBS.) Returns the loaded inputs."""
    from ocr_service_spark.pipeline.extract import load_inputs

    docs, media = load_inputs(spark, corpus)
    run_job(spark, docs, media, os.path.join(WORK, "out", "warm"))
    return docs, media


def scaling_docs_per_s(spark, corpus: str) -> float:
    """docs/s of one warm job at ``local[1]``; stops ``spark`` first."""
    from ocr_service_spark.session import get_spark

    spark.stop()
    spark = get_spark(app_name="perfbench-local1", master="local[1]")
    docs, media = warm_up(spark, corpus)
    job = run_job(spark, docs, media, os.path.join(WORK, "out", "local1"))
    return job["processed_docs"] / job["wall_s"]


def _shutdown() -> None:
    """Stop the session, then the JVM this process launched, and wait
    until it and the Python workers it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import probes

    started = probes.descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)
    probes.wait_gone(started)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_service_spark")):
        print(f"error: no ocr_service_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _launch_env(cpus)
    sys.path.insert(0, HERE)

    import corpora
    import probes

    t_build = time.perf_counter()
    corpus = corpora.ensure(WORK, WORKLOADS[args.workload], args.seed)
    build_s = time.perf_counter() - t_build
    golden = _load_golden(corpus)

    from ocr_service_spark.session import get_spark

    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "corpus_build_s": build_s}
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]")
        t1 = time.perf_counter()
        docs, media = warm_up(spark, corpus)
        t2 = time.perf_counter()
        setup_s = time.perf_counter() - T_START - build_s
        layers = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

        # closed loop: the next job starts when the previous one returned
        jobs = []
        out_base = os.path.join(WORK, "out", args.workload)
        while len(jobs) < MIN_JOBS or sum(j["wall_s"] for j in jobs) < args.seconds:
            with probes.PeakRss() as rss:
                jobs.append(run_job(spark, docs, media, os.path.join(out_base, f"job{len(jobs)}")))
            jobs[-1]["peak_rss_gb"] = rss.peak / 1e9
        for job in jobs:
            job["check"] = check_job(spark, job["out"], golden)

        e2e = {
            "wall_s": statistics.median(j["wall_s"] for j in jobs),
            "docs_per_s": statistics.median(j["processed_docs"] / j["wall_s"] for j in jobs),
            "ocr_chars_per_s": statistics.median(j["check"]["ocr_chars"] / j["wall_s"] for j in jobs),
            "setup_s": setup_s,
            # the least per-job peak: the heap grows from job to job, so a
            # faster program (more jobs) must not look bigger, and a
            # transient 1.5-6.5 GB spike seen in some jobs and not others must
            # not decide the figure (every job's peak is in the artifact)
            "peak_rss_gb": min(j["peak_rss_gb"] for j in jobs),
        }
        checks = [j["check"] for j in jobs]
        artifact.update(jobs=jobs, end_to_end=e2e)

        if args.trace:
            import kernel_pass

            traced = traced_job(spark, docs, media, corpus, os.path.join(out_base, "traced"), golden)
            checks.append(traced["check"])
            layers.update(traced["metrics"])
            layers["trace.overhead_ratio"] = traced["job"]["wall_s"] / e2e["wall_s"]
            resume_check, resume = resume_pass(spark, docs, media, os.path.join(out_base, "resume"), golden)
            checks.append(resume_check)
            layers.update(resume)
            kernel, alone_ms = kernel_pass.run(corpus)
            layers.update(kernel)
            layers["media.contention"] = traced["check"]["kernel_ms_sum"] / alone_ms if alone_ms else 0.0
            artifact["traced"] = traced
        artifact["host"] = probes.host_facts(cpus)
        artifact["host"]["gemm_control_s"] = probes.gemm_control(cpus)
        artifact["host"]["gemm_reference_s"] = probes.GEMM_REFERENCE_S
        if args.trace:
            one = scaling_docs_per_s(spark, corpus)
            layers["scaling.efficiency_1_to_n"] = e2e["docs_per_s"] / (cpus * one)
    finally:
        _shutdown()

    attempted = sum(c["recognitions"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    correct = all(c["mismatches"] == 0 and c["docs"] == len(golden) for c in checks)
    with open(SPEC) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    artifact.update(layers=layers, correct=correct)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    path = os.path.join(WORK, "artifacts", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
