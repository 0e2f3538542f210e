"""Checkpointed, idempotently-resumable runs.

Replaces the reference's queue-retry machinery (BullMQ attempts ×3 —
reference services/gateway/src/platform/queue/index.ts:29-34) with the
batch-native equivalent (SURVEY.md §4): documents hash into a fixed set
of buckets; each run processes only buckets not yet marked completed in
the checkpoint table (anti-join), writes output partitioned by bucket
with dynamic partition overwrite (idempotent re-write), and only then
appends the bucket's lineage row. A crash between the two steps just
re-does the bucket — byte-identical, no duplicates.

A bucket's output, its recognitions and its lineage row are one commit
unit, built from one materialized result, so nothing is read back from
the sink. The reassembly shuffle already hash-partitions on bucket
(extract.run_extract), so the write is one file per bucket from every
slot. The media task gives each recognition record its bucket
(extract._media_results). run_resumable owns the run's caches: it
persists the media task's results and the output, in that order, and
releases them when it returns or raises. Every action after the write
reads them, so OCR runs once per run. The counts, the OCR chars and the
OCR-partition balance are observed on the writes themselves (pyspark
Observation).

Checkpoint row layout follows FIXTURES.md §4 (the batch analog of the
reference event stream, events/map.ts:1-60, and its prometheus metrics,
aligner/src/observability/metrics.py:5-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import ExtractConfig
from . import iceberg
from .extract import run_extract, split_media_results

# Size n_buckets so each bucket holds at least a few hundred documents:
# buckets are the resume granularity AND the output file count (one file
# per bucket: the reassembly hash-partitions on bucket into one partition
# per slot, so each slot writes n_buckets / slots of them), so oversizing
# trades small-file overhead for finer resume (measured: 8000 docs at
# 512 buckets ran ~35% slower than at 64 purely on partitioned-write
# overhead). At 10^12 docs, thousands of buckets keep
# both resume granularity and file sizes sane.
DEFAULT_BUCKETS = 64


def bucket_expr(n_buckets: int):
    """Stable doc_id → bucket (xxhash64 is seed-fixed in Spark)."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def read_completed_buckets(spark: SparkSession, ckpt_path: str) -> DataFrame | None:
    """Completed buckets, or None before the first checkpoint append.
    Asked of the file system, which also lists the data files: they are
    read by path, because Spark's reader skips (and warns about) a
    directory whose name starts with ``_``. A directory a crashed first
    append left without data files holds no completed bucket."""
    path = spark._jvm.org.apache.hadoop.fs.Path(ckpt_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    files = [
        st.getPath().toString()
        for st in fs.listStatus(path)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    if not files:
        return spark.createDataFrame([], "bucket int")
    return (
        spark.read.schema("partition_key string, status string")
        .parquet(*files)
        .filter(F.col("status") == "completed")
        .select(F.col("partition_key").cast("int").alias("bucket"))
        .distinct()
    )


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    use_iceberg: bool = False,
) -> dict:
    """Run extraction for all not-yet-completed buckets.

    With ``use_iceberg`` the results sink is an Iceberg table append
    (bucket-partitioned) and the checkpoint a real MERGE INTO upsert
    (pipeline/iceberg.py) instead of the parquet dynamic-partition-
    overwrite + append-lineage emulation; requires the iceberg-spark
    runtime on the classpath (job.py --catalog).

    Returns {"processed_docs", "processed_buckets", "ocr_chars" (media
    chars over the written spans), "ocr_partitions",
    "ocr_partition_balance"}; a run with nothing to do returns the same
    keys with zero counts and no balance.
    """
    cfg = cfg or ExtractConfig()
    out_path = f"{out_dir}/extracted"
    ckpt_path = f"{out_dir}/_checkpoint"

    if use_iceberg:
        done = iceberg.completed_buckets(spark)
    else:
        done = read_completed_buckets(spark, ckpt_path)
    docs_b = docs.withColumn("bucket", bucket_expr(n_buckets))
    todo = docs_b.join(done, "bucket", "left_anti") if done is not None else docs_b

    if todo.limit(1).isEmpty():
        return {"processed_docs": 0, "processed_buckets": 0, "ocr_chars": 0,
                "ocr_partitions": 0, "ocr_partition_balance": None}

    output, results = run_extract(spark, todo, media, cfg)
    metrics, records = split_media_results(results)
    # the run's caches, released in reverse (dependents first) by the
    # finally, so a run that raises drops them too
    cached: list[DataFrame] = []
    try:
        # the results before the output: a cached plan reads only the
        # caches that existed when it was persisted. Everything after the
        # write reads these, not the sink; the output holds only todo
        # buckets, so it needs no anti-join against the checkpoint
        cached.append(results.persist())
        cached.append(output.persist())
        # media chars per span, as the lineage rows count them
        ocr_chars = F.aggregate(
            F.filter("spans", lambda s: s["kind"].isin("qr", "media_text")),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), F.lit(0)),
        )
        written = Observation("written")
        observed = output.observe(
            written,
            F.count("*").alias("processed_docs"),
            F.size(F.collect_set("bucket")).alias("processed_buckets"),
            F.sum(ocr_chars).alias("ocr_chars"),
        )
        if use_iceberg:
            iceberg.write_output(observed)
        else:
            # write-scoped: a session conf misses docs of another session
            # (a foreachBatch clone), whose static overwrite deletes done buckets
            writer = observed.write.mode("overwrite").partitionBy("bucket")
            writer.option("partitionOverwriteMode", "dynamic").parquet(out_path)

        # per-blob recognition records (reference recognition_results,
        # schema.ts:31-58): status, engine, confidence, QR fields, error,
        # processing_ms. The reference UPSERTS recognition rows, so this
        # table mirrors extracted/'s idempotent layout: the media task gave
        # each record the bucket of the documents that reference its blob
        # (one record per bucket), and it writes with per-bucket dynamic
        # overwrite — a partial resume decodes and REPLACES exactly its
        # re-processed buckets' records, never duplicating. It reads the
        # cached results, as the lineage aggregate does.
        recognitions = records.withColumn("run_id", F.lit(cfg.run_id))
        (
            recognitions.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/recognitions")
        )

        # lineage rows only after the bucket's data is written (crash-safe
        # ordering): per bucket, docs/spans/OCR chars from the cached output
        # and the p50/max per-blob kernel wall from its recognitions (the
        # cached results), in one aggregate over both (a bucket with no
        # media keeps NULL kernel_ms).
        per_doc = output.select(
            "bucket",
            F.lit(1).alias("docs"),
            F.size("spans").alias("spans"),
            ocr_chars.alias("ocr_chars"),
            F.lit(None).cast("double").alias("ms"),
        )
        per_blob = recognitions.select(
            "bucket",
            F.lit(0).alias("docs"),
            F.lit(0).alias("spans"),
            F.lit(0).cast("long").alias("ocr_chars"),
            F.col("processing_ms").alias("ms"),
        )
        lineage = (
            per_doc.unionByName(per_blob)
            .groupBy("bucket")
            .agg(
                F.sum("docs").alias("docs"),
                F.sum("spans").alias("spans"),
                F.sum("ocr_chars").alias("ocr_chars"),
                F.median("ms").alias("kernel_ms_p50"),
                F.max("ms").alias("kernel_ms_max"),
            )
            .select(
                F.lit(cfg.run_id).alias("run_id"),
                F.col("bucket").cast("string").alias("partition_key"),
                F.lit("completed").alias("status"),
                "docs",
                "spans",
                "ocr_chars",
                "kernel_ms_p50",
                "kernel_ms_max",
                F.lit(1).alias("attempt"),
                F.lit(None).cast("string").alias("error"),
                F.current_timestamp().alias("completed_at"),
            )
            # at most n_buckets rows: one checkpoint file per run
            .coalesce(1)
        )
        if use_iceberg:
            iceberg.merge_checkpoint(lineage)
        else:
            lineage.write.mode("append").parquet(ckpt_path)

        # per-OCR-partition metrics sideband (north rule: "lineage + per-
        # partition metrics (docs, spans, OCR chars, model latency)"): one
        # row per media partition with its blob count, OCR chars, kernel
        # wall (p50/max/sum) and blob read wall. The kernel sum is the
        # quantity the cost cut balances, so max/avg over partitions,
        # observed on this write, is the measured straggler-balance evidence
        # for this run.
        # Cheap: the OCR results are persisted, so the write reads the
        # cache, not the blobs.
        balance = Observation("balance")
        (
            metrics.withColumn("run_id", F.lit(cfg.run_id))
            .observe(
                balance,
                F.max("kernel_ms_sum").alias("mx"),
                F.avg("kernel_ms_sum").alias("avg"),
                F.count("kernel_ms_sum").alias("n"),
            )
            .write.mode("append")
            .parquet(f"{out_dir}/_metrics")
        )
        bal = balance.get
        ocr_balance = (
            round(float(bal["mx"]) / float(bal["avg"]), 3)
            if bal["n"] and bal["avg"]
            else None
        )

        stats = written.get
    finally:
        for df in reversed(cached):
            df.unpersist()
    return {
        **stats,
        "ocr_partitions": bal["n"],
        # max/avg of per-partition kernel wall: 1.0 = perfectly balanced
        "ocr_partition_balance": ocr_balance,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/extracted").drop("bucket")
