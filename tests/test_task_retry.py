"""Task retry, proven by an injected fault: a test-only media frame fails
its first partition's first attempt, ``local[2,2]`` allows one retry, and
the job must still be golden-equal, with the retried task's blobs
recorded as attempt 2 in ``recognitions/`` and every other blob as
attempt 1. Runs in a subprocess because the master (and so the task
attempt limit) is fixed when the session starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = r"""
import json, sys

from pyspark import TaskContext

from ocr_service_spark.pipeline.checkpoint import run_resumable
from ocr_service_spark.pipeline.extract import load_inputs
from ocr_service_spark.session import get_spark

data_dir, out_dir = sys.argv[1:3]
spark = get_spark(app_name="task-retry", master="local[2,2]")
docs, media = load_inputs(spark, data_dir)


def fail_once(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected one-shot task failure")
    yield from batches


def tag(batches):
    pid = TaskContext.get().partitionId()
    for pdf in batches:
        yield pdf[["media_ref"]].assign(pid=pid)


# the Repartition in the plan keeps ops.widen from adding a shuffle, so
# the fault and the media kernel run in the same task
faulty = media.repartition(2).mapInPandas(fail_once, media.schema)
summary = run_resumable(spark, docs, faulty, out_dir, n_buckets=4)
# the same deterministic round-robin layout, read back with its partition ids
retried = [
    r["media_ref"]
    for r in media.repartition(2).mapInPandas(tag, "media_ref string, pid int").collect()
    if r["pid"] == 0
]
print(json.dumps({"summary": summary, "retried": retried}))
spark.stop()
"""


def test_one_shot_task_failure_is_retried_golden_equal(dataset, tmp_path):
    data_dir = os.path.dirname(dataset["documents"])
    out_dir = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-c", _JOB, data_dir, out_dir],
        check=True,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=280,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    retried = set(result["retried"])
    assert retried

    got = duckdb.sql(
        f"""
        WITH o AS (SELECT doc_id, list_transform(spans, s -> struct_pack(
                     kind := s.kind, text := s.text, media_ref := s.media_ref,
                     ord := s."order")) sp
                   FROM read_parquet('{out_dir}/extracted/*/*.parquet')),
        g AS (SELECT doc_id, list_transform(spans, s -> struct_pack(
                     kind := s.kind, text := s.text, media_ref := s.media_ref,
                     ord := s."order")) sp
              FROM '{data_dir}/golden.parquet')
        SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM g),
               (SELECT count(*) FROM o JOIN g USING(doc_id) WHERE o.sp = g.sp)
        """
    ).fetchone()
    assert got[0] == got[1] == got[2] > 0

    attempts = dict(
        duckdb.sql(
            f"SELECT media_ref, attempt_number FROM read_parquet('{out_dir}/recognitions/**/*.parquet')"
        ).fetchall()
    )
    n_media = duckdb.sql(f"SELECT count(*) FROM '{dataset['media']}'").fetchone()[0]
    assert len(attempts) == n_media
    assert {ref for ref, a in attempts.items() if a == 2} == retried
    assert all(a == 1 for ref, a in attempts.items() if ref not in retried)
