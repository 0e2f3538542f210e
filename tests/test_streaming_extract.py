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
    from ocr_service_spark.pipeline.streaming import (
        extract_stream_to_files,
        read_stream_output,
    )

    data_dir = os.path.dirname(dataset["documents"])
    out_dir = str(tmp_path / "stream-mb")
    extract_stream_to_files(spark, data_dir, out_dir, n_batches=3)
    got = _seqs(read_stream_output(spark, out_dir).collect())
    golden = _seqs(spark.read.parquet(dataset["golden"]).collect())
    assert got == golden
    # replay with the same checkpoint: source files already consumed
    extract_stream_to_files(spark, data_dir, out_dir, n_batches=3)
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
