"""Structured Streaming execution of the extraction pipeline must produce
exactly the batch result (span-sequence equality per document): the batch
plan, run once per micro-batch of a readStream over the documents."""

from __future__ import annotations

import os


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def test_streaming_file_sink_multibatch_exactly_once(spark, dataset, tmp_path):
    """Documents arriving as THREE separate micro-batches must still
    produce exactly the golden span set (per-batch bucketed writes, no
    duplicates, no losses), and a second run against the same streaming
    checkpoint must be a no-op."""
    from ocr_service_spark.pipeline.checkpoint import run_resumable
    from ocr_service_spark.pipeline.extract import load_inputs
    from ocr_service_spark.pipeline.streaming import (
        extract_stream_to_files,
        read_stream_output,
    )

    data_dir = os.path.dirname(dataset["documents"])
    out_dir = str(tmp_path / "stream-mb")
    summary = extract_stream_to_files(spark, data_dir, out_dir, n_batches=3)
    got = _seqs(read_stream_output(spark, out_dir).collect())
    golden = _seqs(spark.read.parquet(dataset["golden"]).collect())
    assert got == golden
    # one summary over the micro-batches, in the batch job's shape
    assert summary["processed_docs"] == len(golden)
    assert summary["ocr_partitions"] > 0
    # each micro-batch committed through run_resumable: one completed
    # _checkpoint/ row per bucket it wrote
    batches = sorted(os.listdir(f"{out_dir}/batches"))
    assert len(batches) == 3
    for b in batches:
        root = f"{out_dir}/batches/{b}"
        written = sorted(
            int(d.split("=")[1]) for d in os.listdir(f"{root}/extracted") if d.startswith("bucket=")
        )
        ckpt = spark.read.parquet(f"{root}/_checkpoint").collect()
        assert sorted(int(r["partition_key"]) for r in ckpt) == written
        assert {r["status"] for r in ckpt} == {"completed"}
        # the batch's OCR runs on every slot it has blobs for, not in
        # the one task of the semi-joined media scan
        n_blobs = [r["n_blobs"] for r in spark.read.parquet(f"{root}/_metrics").collect()]
        par = spark.sparkContext.defaultParallelism
        assert sum(n > 0 for n in n_blobs) == min(par, sum(n_blobs))
    # the batches' recognitions/ together hold the batch job's records
    docs, media = load_inputs(spark, data_dir)
    batch_dir = str(tmp_path / "batch")
    run_resumable(spark, docs, media, batch_dir, n_buckets=8)
    n_stream = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{out_dir}/batches/*/recognitions")
        .count()
    )
    assert n_stream == spark.read.parquet(f"{batch_dir}/recognitions").count()
    # replay with the same checkpoint: source files already consumed
    replay = extract_stream_to_files(spark, data_dir, out_dir, n_batches=3)
    assert replay["processed_docs"] == 0
    again = _seqs(read_stream_output(spark, out_dir).collect())
    assert again == golden  # no duplicates appeared


def test_streaming_file_sink_matches_golden(spark, dataset, tmp_path):
    """The PRODUCTION path — foreachBatch into a bucketed parquet sink —
    must reproduce the golden span sequences byte-equal, read back from
    disk (no driver-side collect anywhere in the write path)."""
    from ocr_service_spark.pipeline.streaming import (
        extract_stream_to_files,
        read_stream_output,
    )

    data_dir = os.path.dirname(dataset["documents"])
    out_dir = str(tmp_path / "stream-out")
    extract_stream_to_files(spark, data_dir, out_dir)
    got = _seqs(read_stream_output(spark, out_dir).collect())
    golden = _seqs(spark.read.parquet(dataset["golden"]).collect())
    assert set(got) == set(golden)
    mismatched = [d for d in golden if got[d] != golden[d]]
    assert mismatched == [], f"{len(mismatched)} docs mismatch, e.g. {mismatched[:3]}"


def test_stage_crash_leaves_no_stage_and_rerun_matches_golden(
    spark, dataset, tmp_path, monkeypatch
):
    """A crash after the first of two micro-batch files is staged leaves
    no stage directory behind (a half-written stage would lose the second
    file's documents on every later run), so the rerun stages both files
    and streams golden-equal output."""
    import shutil
    import tempfile

    import pytest

    from ocr_service_spark.pipeline.streaming import (
        extract_stream_to_files,
        read_stream_output,
    )

    stage_root = tmp_path / "stage-root"
    stage_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(stage_root))
    copyfile = shutil.copyfile
    calls = []

    def crash_once(src, dst, *a, **kw):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("injected crash during staging")
        return copyfile(src, dst, *a, **kw)

    data_dir = os.path.dirname(dataset["documents"])
    out_dir = str(tmp_path / "stream-crash")
    monkeypatch.setattr(shutil, "copyfile", crash_once)
    with pytest.raises(OSError, match="injected crash"):
        extract_stream_to_files(spark, data_dir, out_dir, n_batches=2)
    assert [p.name for p in stage_root.iterdir() if p.name.startswith("stage-")] == []
    extract_stream_to_files(spark, data_dir, out_dir, n_batches=2)
    assert len(calls) == 4  # the rerun staged both parts
    got = _seqs(read_stream_output(spark, out_dir).collect())
    assert got == _seqs(spark.read.parquet(dataset["golden"]).collect())


def test_stateful_state_evicted_after_watermark(spark):
    """The custom stateful operator must FREE per-user state once the
    watermark passes last_ts + gap (EventTimeTimeout + remove): on the
    replayed events table all users whose sessions closed before the
    final watermark leave the state store, so state rows end well below
    the user count instead of growing without bound."""
    import json

    from ocr_service_spark.ops.streaming import stateful_session_frame

    sf_dir = "/root/testdata/sf0.001"
    df = stateful_session_frame(spark, sf_dir)
    q = (
        df.writeStream.outputMode("update")
        .format("memory")
        .queryName("evict_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        progs = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    totals = [
        op["numRowsTotal"]
        for p in progs
        for op in (p.get("stateOperators") or [])
    ]
    removed = sum(
        op["numRowsRemoved"]
        for p in progs
        for op in (p.get("stateOperators") or [])
    )
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert max(totals) == n_users  # every user held state at the peak
    assert removed > 0  # eviction actually fired
    assert totals[-1] < n_users  # and the store drained
