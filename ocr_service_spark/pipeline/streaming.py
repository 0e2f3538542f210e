"""Structured Streaming execution of the extraction pipeline.

`extract_stream_to_files` commits each micro-batch of a ``readStream``
over the documents table through `checkpoint.run_resumable`, the batch
job's commit protocol and its four tables: one pipeline for bounded and
unbounded input, a micro-batch being a bounded batch with its own commit
unit. New interleaved documents appear as files (or Iceberg snapshots /
Kafka batches) and extracted span rows stream out continuously.

Documents are assumed complete within one micro-batch (the input is an
append-only table of finished documents, matching the reference's
one-job-per-complete-upload semantics — reference
services/gateway/src/worker/processor.ts:8-115), so ordered reassembly
needs no cross-batch state. Each micro-batch decodes only the blobs its
documents reference: the media task reads the bare media table
directly and skips the rest (extract._media_results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import ExtractConfig
from ..ops.streaming import staged_stream
from .checkpoint import DEFAULT_BUCKETS, run_resumable


def extract_stream_to_files(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    n_batches: int = 1,
) -> dict:
    """Streaming sink: readStream over the documents table (split by a
    doc_id hash into ``n_batches`` micro-batches) → ``foreachBatch``
    committing each micro-batch with ``run_resumable`` into
    ``{out_dir}/batches/<id>``. Returns run_resumable's summary over all
    micro-batches: the counts summed, ``ocr_partition_balance`` the worst
    micro-batch's.

    foreachBatch, not a streaming aggregation: the input is an
    append-only table of COMPLETE documents (worker/processor.ts:8-115),
    so each micro-batch is a self-contained batch job and nothing is
    collected to the driver. A micro-batch replayed from the streaming
    checkpoint (``{out_dir}/_stream_checkpoint``) keeps its id, so it
    resumes as a batch run does: completed buckets are skipped."""
    cfg = cfg or ExtractConfig()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    parts = None
    if n_batches > 1:
        key = F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
        parts = [key == i for i in range(n_batches)]
    docs_stream = staged_stream(
        spark, f"{data_dir}/documents.parquet", f"docs-{n_batches}", parts
    )
    summaries: list[dict] = []

    def commit(docs: DataFrame, epoch: int) -> None:
        summaries.append(run_resumable(spark, docs, media, f"{out_dir}/batches/{epoch}", cfg, n_buckets))

    q = (
        docs_stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", f"{out_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = {
        k: sum(s[k] for s in summaries)
        for k in ("processed_docs", "processed_buckets", "ocr_chars", "ocr_partitions")
    }
    balances = [s["ocr_partition_balance"] for s in summaries]
    total["ocr_partition_balance"] = max((b for b in balances if b is not None), default=None)
    return total


def read_stream_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The micro-batches' extracted/ tables in the batch output shape. The
    per-batch bucket layouts are not one partitioned table, so the files
    are listed recursively, without partition columns; the batch paths are
    listed, not globbed (a glob path logs a failed metadata-dir lookup)."""
    root = spark._jvm.org.apache.hadoop.fs.Path(f"{out_dir}/batches")
    batches = root.getFileSystem(spark._jsc.hadoopConfiguration()).listStatus(root)
    paths = [f"{b.getPath().toString()}/extracted" for b in batches]
    return spark.read.option("recursiveFileLookup", "true").parquet(*paths)
