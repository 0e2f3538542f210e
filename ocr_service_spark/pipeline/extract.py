"""The extraction pipeline: one declarative plan, three kernel branches.

Batch re-expression of the reference worker hot path (SURVEY.md §3.2):
the whole gateway→aligner→tesseract/paddle→Postgres dance becomes

    read → sort spans in-row → posexplode → (textual | media) branches
         → union → groupBy([bucket,] doc_id) ordered reassembly → write

Blob bytes never shuffle. A file-backed media table is read directly by
the python workers, its rows cut in order into contiguous bins of
near-equal estimated decode cost, one bin per task; any other media frame
takes the Arrow fallback on its own scan (see _media_branch). Only the
narrow extraction result (media_ref, kind, text) joins the spans, and the
reassembly is the one document-sized shuffle. When the documents carry a ``bucket`` column
(checkpoint.run_resumable), that shuffle hash-partitions on it into one
partition per slot, which is also the bucketed write's layout.

run_extract only builds the plan and caches nothing: it returns the media
task's result frame next to the output, and the caller that runs several
actions over them (checkpoint.run_resumable) persists and releases both.

Span order is computed *inside the document row* (sort_array + posexplode)
— no window, no extra shuffle, and the output is independent of partition
count (SURVEY.md §7 hard part (b)).
"""

from __future__ import annotations

import functools
import itertools
import math
import os
import statistics
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..config import ExtractConfig
from ..kernels.html import strip_boilerplate
from ..kernels.media import extract_media_span
from ..kernels.pdf import reconstruct_reading_order
from ..kernels.text import normalize_text
from ..ops import widen

# media extraction output: one row per BLOB (not per span) + a per-scan-
# partition metrics sideband row. A span row is the blob's recognition
# record (reference recognition_results, schema.ts:31-58: status, engine,
# confidence, used_preprocessed, qr fields, error, processing_time), led
# by the fields recognitions/ writes; the metrics row fills _METRIC_COLUMNS
_MEDIA_RESULT_SCHEMA = (
    "media_ref string, status string, kind string, text string, "
    "engine string, confidence double, used_preprocessed boolean, "
    "qr_data string, qr_format string, "
    "qr_location struct<x:int,y:int,width:int,height:int>, "
    "found_in_preprocessed boolean, error string, processing_ms double, "
    "attempt_number int, row_type string, part_id int, n_blobs long, "
    "ocr_chars long, kernel_ms_p50 double, kernel_ms_max double, "
    "kernel_ms_sum double, read_ms_sum double"
)
_MEDIA_RESULT_COLUMNS = [f.split(" ")[0] for f in _MEDIA_RESULT_SCHEMA.split(", ")]
_METRIC_COLUMNS = (
    "part_id", "n_blobs", "ocr_chars",
    "kernel_ms_p50", "kernel_ms_max", "kernel_ms_sum", "read_ms_sum",
)


def _doc_keys(df: DataFrame) -> list[str]:
    """The document key every stage carries: (bucket, doc_id) when the
    input has a bucket column, else doc_id alone."""
    return ["bucket", "doc_id"] if "bucket" in df.columns else ["doc_id"]


def prepare_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per span with its final output order,
    keyed by _doc_keys(docs).

    Order = position of the span when the doc's spans are sorted by
    `offset` — computed row-locally: re-root the struct on offset,
    sort_array, posexplode. Offsets are unique per doc (input contract).

    posexplode_OUTER: a document with an empty (or null) spans array
    still yields one carrier row (null kind/order) so it survives to the
    output with spans = [] instead of silently disappearing — handled
    row-locally, no extra doc-id join. Carrier rows flow through the
    textual branch with a null kind and are dropped at reassembly.
    """
    sorted_spans = F.sort_array(
        F.transform(
            "spans",
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )
    keys = _doc_keys(docs)
    return docs.select(
        *keys, F.posexplode_outer(sorted_spans).alias("order", "s")
    ).select(
        *keys,
        F.col("order").cast("int").alias("order"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


# --------------------------------------------------------------------------
# textual branch (text / html / pdf) — vectorized pandas UDF, no join
# --------------------------------------------------------------------------

_TEXT_KERNELS = {
    "text": normalize_text,
    "html": strip_boilerplate,
    "pdf": reconstruct_reading_order,
}


@F.pandas_udf(T.StringType())
def _extract_textual(kind: pd.Series, text: pd.Series) -> pd.Series:
    out = pd.Series(index=kind.index, dtype=object)
    for k, fn in _TEXT_KERNELS.items():
        mask = kind == k
        if mask.any():
            out[mask] = text[mask].map(fn)
    out[~kind.isin(_TEXT_KERNELS)] = ""
    return out


def _textual_branch(spans: DataFrame) -> DataFrame:
    # null kind = empty-doc carrier row (prepare_spans): keep it so the
    # doc reaches reassembly, with kind left null to be dropped there
    branch = spans.filter(
        (F.col("kind") != "media") | F.col("kind").isNull()
    )
    return branch.select(
        *_doc_keys(spans),
        "order",
        F.when(F.col("kind").isNull(), F.lit(None).cast("string"))
        .otherwise(F.lit("text"))
        .alias("kind"),
        _extract_textual("kind", "text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


# --------------------------------------------------------------------------
# media branch — scan-side extraction: blob bytes NEVER shuffle
# --------------------------------------------------------------------------

def _arrow_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """Blob source of the Arrow fallback: rows arrive as (media_ref,
    content) batches through the JVM."""
    for pdf in batches:
        yield pdf["media_ref"], pdf["content"]


def _split_blobs(bins: list, batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """Blob source of the direct read: rows are bin ids (spark.range) into
    ``bins``, the contiguous (path, row_group, row_lo, row_hi) cuts of
    _cut_bins, and the python worker reads the blob bytes itself (pyarrow
    C++, GIL-released) so they never pass through the JVM heap. A bin
    opens each file once and decodes each row group it touches once.
    With the Arrow-transfer path, 2 GiB of blobs allocated through the JVM
    caused ~300 s of summed GC in one stage at 32 tasks; direct reads
    eliminate that entirely. The paths are local files (_direct_read_splits
    strips only a ``file://`` scheme); an object-store table would need a
    pyarrow filesystem here."""
    import pyarrow.parquet as pq

    for pdf in batches:
        for i in pdf["id"]:
            for path, ranges in itertools.groupby(bins[i], key=lambda r: r[0]):
                pf = pq.ParquetFile(path)
                for _, rg, row_lo, row_hi in ranges:
                    yield from _read_rows(pf, rg, row_lo, row_hi)


def _read_rows(pf, rg: int, row_lo: int, row_hi: int) -> Iterator[tuple]:
    """(media_refs, blobs) of rows [row_lo, row_hi) of row group ``rg``,
    in one decode of the group that stops at row_hi. The group streams in
    bounded batches instead of materializing whole: datagen writes 16-row
    groups, but an externally-written table with default-sized row groups
    would otherwise pull hundreds of MB of blobs into the python worker
    at once (the Arrow path is capped at 32 MiB/batch; 16 rows × the
    10 MiB ingest gate bounds this path similarly)."""
    cursor = 0
    for tbl in pf.iter_batches(batch_size=16, row_groups=[rg], columns=["media_ref", "content"]):
        b_lo = max(row_lo - cursor, 0)
        b_hi = min(row_hi - cursor, tbl.num_rows)
        cursor += tbl.num_rows
        if b_lo < b_hi:
            tbl = tbl.slice(b_lo, b_hi - b_lo)
            yield tbl.column("media_ref").to_pylist(), tbl.column("content").to_pylist()
        if cursor >= row_hi:
            break


def _media_frame(rows: list[dict]) -> pd.DataFrame:
    """One _MEDIA_RESULT_SCHEMA frame: each field filled from the row
    dicts by name, null where a row does not set it."""
    return pd.DataFrame({c: [r.get(c) for r in rows] for c in _MEDIA_RESULT_COLUMNS})


def _make_media_fn(cfg: ExtractConfig, blob_batches):
    """mapInPandas function: extract every blob that ``blob_batches``
    (_arrow_blobs or _split_blobs) yields as (media_refs, blobs) from the
    task's input batches. Emits one span row per blob per batch, then one
    metrics sideband row for the partition: its kernel wall, and the wall
    spent waiting on ``blob_batches`` for the blobs (read_ms_sum)."""

    def media_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        # task attempt (1-based): spark.task.maxFailures is the BullMQ-retry
        # analog, and the attempt lands in the record like schema.ts:53
        attempt = (ctx.attemptNumber() + 1) if ctx else 1
        ocr_chars = 0
        kernel_ms: list[float] = []
        read_ms = 0.0
        blob_iter = blob_batches(batches)
        while True:
            t0 = time.perf_counter()
            item = next(blob_iter, None)
            read_ms += (time.perf_counter() - t0) * 1000.0
            if item is None:
                break
            rows = []
            for ref, blob in zip(*item):
                t0 = time.perf_counter()
                res = extract_media_span(
                    bytes(blob) if blob is not None else None,
                    cfg.confidence_low,
                    cfg.accepted_qr_formats,
                    aggressive=cfg.aggressive,
                    timeout_s=cfg.kernel_timeout_s,
                    warp_interp=cfg.warp_interp,
                    alignment_mode=cfg.alignment_mode,
                )
                ms = (time.perf_counter() - t0) * 1000.0
                kernel_ms.append(ms)
                ocr_chars += len(res.get("text") or "")
                rows.append(
                    {
                        **res,
                        "media_ref": ref,
                        "row_type": "span",
                        "part_id": part_id,
                        "processing_ms": round(ms, 3),
                        "attempt_number": attempt,
                    }
                )
            yield _media_frame(rows)
        # metrics sideband row — per-partition lineage (north rule), the
        # batch analog of the reference event stream (events/map.ts:16-43);
        # kernel_ms_sum is the partition's total model/kernel wall, the
        # number the cost cut balances (straggler evidence); read_ms_sum
        # is the rest of the task's wait on its blob source
        yield _media_frame(
            [
                {
                    "row_type": "metrics",
                    "part_id": part_id,
                    "n_blobs": len(kernel_ms),
                    "ocr_chars": ocr_chars,
                    # interpolated, as _checkpoint/'s F.median
                    "kernel_ms_p50": statistics.median(kernel_ms) if kernel_ms else None,
                    "kernel_ms_max": max(kernel_ms, default=None),
                    "kernel_ms_sum": round(sum(kernel_ms), 3) if kernel_ms else None,
                    "read_ms_sum": round(read_ms, 3),
                }
            ]
        )

    return media_fn


# estimated decode cost model for a media split (ms): model inference is a
# fixed per-image cost (the CNN runs at capped resolution regardless of
# source size); decode + streaming image ops scale with bytes. Both
# constants are estimates, not measurements: only their RATIO places the
# cuts (_cut_bins), and ROADMAP item 4 fits them to recorded kernel times.
COST_MS_PER_ROW = 90.0
COST_MS_PER_MB = 15.0
# target estimated cost per bin: bins must hold seconds of work, because
# every Python task pays a fixed start-up cost (measured 70-95 ms on a
# 4-core host, against ~0 for a JVM-only task); at cluster scale the
# final wave's quantization error stays a few percent of stage wall.
TARGET_COST_MS_PER_BIN = 5000.0


def _split_cost_ms(rows: int, nbytes: int) -> float:
    return rows * COST_MS_PER_ROW + (nbytes / 1e6) * COST_MS_PER_MB


def _is_bare_scan(media: DataFrame) -> bool:
    """True only when the analyzed logical plan is a plain file relation —
    no Filter/Project/anything above it. inputFiles() alone is NOT enough:
    it also succeeds for filtered/projected parquet-backed frames, and a
    direct read of those files would silently ignore the caller's
    transformations (the Arrow fallback path honors the full plan)."""
    try:
        plan = media._jdf.queryExecution().analyzed()  # noqa: SLF001
        return plan.getClass().getSimpleName() == "LogicalRelation"
    except Exception:
        return False


SPLIT_MANIFEST_NAME = "_split_manifest.parquet"
_FOOTER_READ_THREADS = 16


def _footer_splits(paths: list[str]) -> list[tuple[str, int, int, int]]:
    """(path, row_group, bytes, rows) of every row group of the parquet
    files ``paths``, read from their footers on a thread pool (metadata
    only, GIL-released pyarrow C++): bounded wall even at thousands of
    files, where a serial loop stalls a 10^12-doc listing."""
    import concurrent.futures as cf

    import pyarrow.parquet as pq

    def footer(path: str) -> list[tuple[str, int, int, int]]:
        meta = pq.ParquetFile(path).metadata
        return [
            (path, rg, meta.row_group(rg).total_byte_size, meta.row_group(rg).num_rows)
            for rg in range(meta.num_row_groups)
        ]

    with cf.ThreadPoolExecutor(max_workers=_FOOTER_READ_THREADS) as ex:
        return [split for part in ex.map(footer, paths) for split in part]


def write_split_manifest(table_path: str) -> str:
    """Write SPLIT_MANIFEST_NAME beside a parquet table path (file or
    dir): one (file, row_group, bytes, rows) row per _footer_splits
    entry. Nothing in the program reads this file: the direct read plans
    from the footers themselves (_direct_read_splits). The writer stays
    only because the benchmark's corpus builder (perfbench/corpora.py)
    calls it; the benchmark-tagged change of ROADMAP item 3 drops that
    call, and with it this function."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    splits = _footer_splits(_parquet_files_under(table_path))
    table = pa.table(
        {
            "file": [os.path.basename(path) for path, *_ in splits],
            "row_group": [rg for _, rg, _, _ in splits],
            "bytes": [nbytes for _, _, nbytes, _ in splits],
            "rows": [rows for *_, rows in splits],
        }
    )
    base = table_path if os.path.isdir(table_path) else os.path.dirname(table_path)
    out = os.path.join(base, SPLIT_MANIFEST_NAME)
    pq.write_table(table, out)
    return out


def _parquet_files_under(table_path: str) -> list[str]:
    if os.path.isdir(table_path):
        return sorted(
            os.path.join(table_path, f)
            for f in os.listdir(table_path)
            if f.endswith(".parquet") and not f.startswith("_")
        )
    return [table_path]


def _direct_read_splits(media: DataFrame) -> list[tuple[str, int, int, int]] | None:
    """(path, row_group, bytes, rows) splits of a file-backed media
    DataFrame, from the footers of the files it scans (_footer_splits),
    so a file rewritten in place is planned as it is now; None when the
    frame is not a bare untransformed file scan (_is_bare_scan)."""
    if not _is_bare_scan(media):
        return None
    try:
        files = media.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        if not path.endswith(".parquet"):
            return None
        paths.append(path)
    return _footer_splits(paths) or None


def _cut_bins(
    splits: list[tuple[str, int, int, int]], n: int
) -> list[list[tuple[str, int, int, int]]]:
    """Cut the rows of the (path, row_group, bytes, rows) splits, in
    order, into min(n, total rows) contiguous runs of near-equal
    estimated cost (_split_cost_ms, spread evenly over a group's rows).
    Returns each bin as (path, row_group, row_lo, row_hi) ranges, at most
    one per row group, so a task decodes each row group it touches once.

    A row goes to the bin its starting prefix cost falls in (k·total/n
    boundaries), so no bin exceeds total/n plus one row's cost; a row
    never skips a bin, and the tail takes one row per bin when only as
    many rows are left as bins, so no bin is empty."""
    left = sum(rows for *_, rows in splits)
    n = max(1, min(n, left))
    total = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits if rows)
    bins: list[list[tuple[str, int, int, int]]] = [[] for _ in range(n)]
    done = 0.0  # estimated cost of the rows already placed
    k = 0
    for path, rg, nbytes, rows in splits:
        row_ms = _split_cost_ms(rows, nbytes) / rows if rows else 0.0
        for row in range(rows):
            k = min(k + 1, n - 1, max(k, int(done * n / total), n - left))
            ranges = bins[k]
            if ranges and ranges[-1][:2] == (path, rg):
                ranges[-1] = (path, rg, ranges[-1][2], row + 1)
            else:
                ranges.append((path, rg, row, row + 1))
            done += row_ms
            left -= 1
    return bins


def _bin_count(total_cost_ms: float, slots: int) -> int:
    """Bin count for the direct read: ⌈total cost / TARGET_COST_MS_PER_BIN⌉
    rounded UP to a slot multiple, capped at 4096. _cut_bins makes bins
    near-equal, so a remainder wave would idle (slots - remainder) cores
    for a full bin length (measured at 32 slots / 8000 docs: 136 bins =
    4.25 waves cost ~4.5 s of a 25 s ideal stage wall). A small job gets
    one wave of ``slots`` bins, not several waves of tiny ones."""
    raw = max(1, math.ceil(total_cost_ms / TARGET_COST_MS_PER_BIN))
    return min(4096, -(-raw // slots) * slots)


def split_media_results(results: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(metrics, records) of the media task's result frame: one metrics
    row per media partition (_METRIC_COLUMNS), and one recognition record
    per blob (its span rows without row_type and _METRIC_COLUMNS)."""
    metrics = results.filter(F.col("row_type") == "metrics").select(*_METRIC_COLUMNS)
    records = results.filter(F.col("row_type") == "span").drop("row_type", *_METRIC_COLUMNS)
    return metrics, records


def _media_branch(
    spans: DataFrame, media: DataFrame, cfg: ExtractConfig
) -> tuple[DataFrame, DataFrame]:
    """Returns (per-span branch rows, the media task's result frame: one
    _MEDIA_RESULT_SCHEMA row per blob plus one metrics row per partition,
    which split_media_results separates).

    Blob bytes never cross the wire. Extraction (decode → align → QR →
    OCR cascade) runs in one mapInPandas function (_make_media_fn) fed by
    whichever blob source the media frame allows:

    1. direct read — a bare parquet scan (_direct_read_splits): the rows
       of the (file, row_group) splits are cut in order into _bin_count
       contiguous bins of near-equal estimated decode cost on the driver
       (_cut_bins); a spark.range with one id per partition runs one bin
       per task, and the python workers read the blob bytes themselves,
       one decode per row group per bin (_split_blobs);
    2. Arrow fallback — any other frame (in-memory, filtered, joined or
       non-parquet media): the frame's own scan (_arrow_blobs), which
       honors the caller's full logical plan, spread over every slot by
       ops.widen when it arrives in fewer splits than that.

    Only the narrow extraction RESULT (media_ref, kind, text) joins the
    span table — a text-sized shuffle, independent of blob bytes.
    Measured here: at 2 GiB of blobs a join-then-extract plan was
    shuffle-IO-bound and got SLOWER with more cores.

    Each blob is decoded once even if referenced by many spans (the old
    join-first plan decoded per reference). Unreferenced media rows do get
    decoded; the input contract (FIXTURES.md §1) references every blob.
    Corollary for checkpoint RESUME over a doc subset: the whole media
    table is re-extracted and the join discards the results for refs
    outside the subset. Nothing here partitions the media table by the
    documents' bucket key, so every resume pays this (perfbench's
    resume.useful_blob_ratio: 0.71 on extract_photo, 0.50 on
    extract_text).
    """
    keys = _doc_keys(spans)
    media_spans = spans.filter(F.col("kind") == "media").select(
        *keys, "order", "media_ref"
    )
    spark = media.sparkSession
    splits = _direct_read_splits(media)
    if splits is not None:
        # python-direct read: distribute (file, row_group) splits by
        # ESTIMATED COST (fixed inference cost per row + streaming cost
        # per byte — packing by bytes alone left equal-byte bins with 4×
        # different blob counts and a 4× straggler tail); blob bytes never
        # enter the JVM. The rows are cut into _bin_count contiguous bins.
        total_cost = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits)
        bins = _cut_bins(
            splits, _bin_count(total_cost, spark.sparkContext.defaultParallelism)
        )
        # EXACTLY one bin per task: Range puts one id per partition when
        # numPartitions equals its length, and each task looks its bin up
        # by id (_split_blobs). No shuffle, and no Python runs outside the
        # kernel task. Round-robin repartition(n) does NOT guarantee this
        # (each input slice starts at a random offset, so bins collide and
        # half the tasks come up empty — measured p50 task time of 0.17 s
        # next to a 50 s straggler).
        results = spark.range(len(bins), numPartitions=len(bins)).mapInPandas(
            _make_media_fn(cfg, functools.partial(_split_blobs, bins)),
            schema=_MEDIA_RESULT_SCHEMA,
        )
    else:
        # Arrow fallback: the caller's own plan, spread over every slot
        results = widen(media.select("media_ref", "content")).mapInPandas(
            _make_media_fn(cfg, _arrow_blobs), schema=_MEDIA_RESULT_SCHEMA
        )
    res_spans = split_media_results(results)[1].select("media_ref", "kind", "text")
    branch = media_spans.join(res_spans, "media_ref", "left").select(
        *keys,
        "order",
        # dangling media_ref (no blob row) → same failed-span shape the
        # kernel emits for an unreadable blob
        F.coalesce(F.col("kind"), F.lit("media_text")).alias("kind"),
        "text",
        "media_ref",
    )
    return branch, results


# --------------------------------------------------------------------------
# assembly
# --------------------------------------------------------------------------

def run_extract(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the full pipeline's plan; no Spark action runs and nothing is
    cached here. Returns (output, results):

    output  — (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,order>>),
              led by the input's ``bucket`` when ``docs`` has one
    results — the media task's result frame, which output reads and which
              split_media_results splits into the per-OCR-partition
              metrics rows (part_id, n_blobs, ocr_chars, kernel_ms_p50,
              kernel_ms_max, kernel_ms_sum, read_ms_sum) and one
              recognition record per blob (status/engine/confidence/QR
              fields/error/processing_ms/attempt_number — the reference's
              recognition_results analog, schema.ts:31-58)

    A caller that runs more than one action over these persists
    ``results`` before ``output`` (checkpoint.run_resumable), so every
    action reads one OCR pass.
    """
    cfg = cfg or ExtractConfig()
    keys = _doc_keys(docs)
    spans = prepare_spans(docs)
    media_rows, results = _media_branch(spans, media, cfg)
    span_rows = _textual_branch(spans).unionByName(media_rows)
    if "bucket" in keys:
        # the reassembly shuffle is the write layout: one partition per
        # slot, each bucket whole in one of them, so every slot writes and
        # each bucket stays one file. An explicit count (REPARTITION_BY_NUM)
        # is not coalesced by AQE, which folded the text-sized shuffle into
        # one task that wrote every bucket directory in turn.
        span_rows = span_rows.repartition(spark.sparkContext.defaultParallelism, "bucket")

    output = (
        span_rows.groupBy(*keys)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("order").alias("order"),
                        F.col("kind").alias("kind"),
                        F.col("text").alias("text"),
                        F.col("media_ref").alias("media_ref"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            *keys,
            F.transform(
                # drop empty-doc carrier rows (null kind): the doc keeps
                # its output row with spans = []
                F.filter("ordered", lambda s: s["kind"].isNotNull()),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["order"].alias("order"),
                ),
            ).alias("spans"),
        )
    )
    return output, results


def load_inputs(spark: SparkSession, data_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return docs, media
