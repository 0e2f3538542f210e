"""The direct-read media stage runs exactly one non-empty task per bin
of the cost cut (_cut_bins): the bins are placed by a ``spark.range``
with one id per partition (no Python partitioner shuffle, no RDD scan),
and the bin count is a slot multiple unless the run references fewer
rows than that: documents that reference only the table's last rows
decode just those, over every slot. The Arrow fallback spreads a one-split frame over every slot
(ops.widen), and keeps the layout of a frame the caller already
repartitioned. The output plan reads the documents once, into one span
table that takes the media records by broadcast, and its reassembly
shuffles once, by bucket."""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.ops import widen
from ocr_service_spark.pipeline.checkpoint import bucket_expr, run_resumable
from ocr_service_spark.pipeline.extract import (
    _bin_count,
    _direct_read_splits,
    _media_results,
    _split_cost_ms,
    load_inputs,
    run_extract,
    split_media_results,
)


def test_one_nonempty_task_per_bin(spark, dataset, tmp_path):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    splits = _direct_read_splits(media)
    assert splits is not None  # precondition: the direct-read path runs
    par = spark.sparkContext.defaultParallelism
    total = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits)
    n_rows = sum(rows for *_, rows in splits)
    expected = min(_bin_count(total, par), n_rows)
    assert expected % par == 0 or expected == n_rows

    out_dir = str(tmp_path / "layout")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="lay"), n_buckets=4)
    rows = (
        spark.read.parquet(f"{out_dir}/_metrics")
        .filter(F.col("run_id") == "lay")
        .select("part_id", "n_blobs")
        .collect()
    )
    assert len(rows) == expected
    assert sorted(r["part_id"] for r in rows) == list(range(expected))
    assert all(r["n_blobs"] >= 1 for r in rows)  # no task came up empty
    assert sum(r["n_blobs"] for r in rows) == media.count()


def test_tail_subset_decodes_only_its_blobs_on_every_slot(spark, dataset, tmp_path):
    """Documents that reference only the media table's last rows (the new
    blobs of an append-only table) decode exactly those blobs, spread over
    min(slots, blobs) non-empty tasks: unreferenced rows cost nothing in
    the cut, so the tail is not one bin."""
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    tail = set(pq.read_table(dataset["media"], columns=["media_ref"]).column(0).to_pylist()[-40:])
    refs_of = {
        r["doc_id"]: {ref for ref in r["refs"] if ref is not None}
        for r in docs.select("doc_id", F.col("spans.media_ref").alias("refs")).collect()
    }
    chosen = [d for d, refs in refs_of.items() if refs and refs <= tail]
    referenced = set().union(*(refs_of[d] for d in chosen))
    par = spark.sparkContext.defaultParallelism
    assert len(referenced) > par  # precondition: more blobs than slots

    out_dir = str(tmp_path / "tail")
    subset = docs.filter(F.col("doc_id").isin(chosen))
    run_resumable(spark, subset, media, out_dir, ExtractConfig(run_id="tail"), n_buckets=8)
    n_blobs = [r["n_blobs"] for r in spark.read.parquet(f"{out_dir}/_metrics").collect()]
    assert sum(n_blobs) == len(referenced)
    assert sum(n > 0 for n in n_blobs) == min(par, len(referenced))
    rec = spark.read.parquet(f"{out_dir}/recognitions").select("media_ref").collect()
    assert {r["media_ref"] for r in rec} == referenced


def test_direct_read_plan_is_range_into_map_in_pandas(spark, dataset):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    results = _media_results(docs.withColumn("bucket", bucket_expr(8)), media, ExtractConfig())
    plan = results._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Range (" in plan
    assert "MapInPandas" in plan
    assert "ExistingRDD" not in plan


def test_bucketed_reassembly_has_one_exchange_repartition_by_num_on_bucket(spark, dataset):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    bucketed = docs.withColumn("bucket", bucket_expr(8))
    output, _ = run_extract(spark, bucketed, media, ExtractConfig())
    plan = output._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    lines = plan.splitlines()
    # shuffle exchanges only: the media results join by broadcast
    shuffles = [ln for ln in lines if re.search(r"(?<!Broadcast)Exchange ", ln)]
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(bucket#" in shuffles[0]
    assert "REPARTITION_BY_NUM" in shuffles[0]
    # one span table: the documents are scanned and exploded once, and
    # the media records reach it by one broadcast
    scans = [ln for ln in lines if "FileScan" in ln and "documents.parquet" in ln]
    assert len(scans) == 1, plan
    assert len([ln for ln in lines if re.search(r"\bGenerate ", ln)]) == 1, plan
    assert "Union" not in plan
    assert len([ln for ln in lines if "BroadcastExchange " in ln]) == 1, plan


def test_fallback_spreads_one_file_over_every_slot(spark, dataset):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    # a filter makes the frame non-bare: the Arrow fallback over one file
    filtered = media.filter(F.col("media_ref").isNotNull())
    assert _direct_read_splits(filtered) is None
    results = _media_results(docs.withColumn("bucket", bucket_expr(8)), filtered, ExtractConfig())
    rows = split_media_results(results)[0].collect()
    par = spark.sparkContext.defaultParallelism
    assert len(rows) == par
    assert sorted(r["part_id"] for r in rows) == list(range(par))
    assert sum(r["n_blobs"] for r in rows) == media.count()


def test_widen_keeps_a_repartitioned_file_frame(spark, dataset):
    _, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    # a one-file frame the caller spread itself is not shuffled again
    spread = media.repartition(2)
    assert widen(spread) is spread
    assert widen(media) is not media
