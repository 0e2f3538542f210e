"""The extraction pipeline: one declarative plan, three kernel branches.

Batch re-expression of the reference worker hot path (SURVEY.md §3.2):
the whole gateway→aligner→tesseract/paddle→Postgres dance becomes

    read → sort spans in-row → posexplode → (textual | media) branches
         → union → groupBy(doc_id) ordered reassembly → write

Blob bytes never shuffle. A file-backed media table is read directly by
the python workers from parquet row-range atoms, LPT-packed by estimated
decode cost into one bin per task; any other media frame takes the Arrow
fallback on its own scan (see _media_branch). Only the narrow extraction
result (media_ref, kind, text) joins the spans, and the final
groupBy(doc_id) is the one document-sized shuffle.

Span order is computed *inside the document row* (sort_array + posexplode)
— no window, no extra shuffle, and the output is independent of partition
count (SURVEY.md §7 hard part (b)).
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..config import TARGET_BYTES_PER_TASK, ExtractConfig
from ..kernels.html import strip_boilerplate
from ..kernels.media import extract_media_span
from ..kernels.pdf import reconstruct_reading_order
from ..kernels.text import normalize_text

# per-span branch-result schema (both branches union into this)
_BRANCH_COLS = ["doc_id", "order", "kind", "text", "media_ref"]

# media extraction output: one row per BLOB (not per span) + a per-scan-
# partition metrics sideband row
# span rows double as the recognition_results-analog detail record
# (reference schema.ts:31-58: status, engine, confidence,
# used_preprocessed, qr fields, error, processing_time)
_MEDIA_RESULT_SCHEMA = (
    "media_ref string, kind string, text string, row_type string, "
    "part_id int, n_blobs long, ocr_chars long, "
    "kernel_ms_p50 double, kernel_ms_max double, kernel_ms_sum double, "
    "status string, engine string, confidence double, "
    "used_preprocessed boolean, qr_data string, qr_format string, "
    "qr_location struct<x:int,y:int,width:int,height:int>, "
    "found_in_preprocessed boolean, error string, processing_ms double, "
    "attempt_number int"
)


def prepare_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per span with its final output order.

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
    return docs.select(
        "doc_id", F.posexplode_outer(sorted_spans).alias("order", "s")
    ).select(
        "doc_id",
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
        "doc_id",
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

# per-blob recognition detail columns (recognition_results analog)
_DETAIL_KEYS = (
    "status", "engine", "confidence", "used_preprocessed", "qr_data",
    "qr_format", "qr_location", "found_in_preprocessed", "error",
    "processing_ms", "attempt_number",
)


def _append_detail(details: dict, res: dict, ms: float, attempt: int) -> None:
    details["status"].append(res.get("status"))
    details["engine"].append(res.get("engine"))
    c = res.get("confidence")
    details["confidence"].append(float(c) if c is not None else None)
    details["used_preprocessed"].append(res.get("used_preprocessed"))
    details["qr_data"].append(res.get("qr_data"))
    details["qr_format"].append(res.get("qr_format"))
    # the typed {x,y,width,height} struct the reference persists as
    # jsonb (schema.ts:48) — dict → Arrow struct in the batch transfer
    details["qr_location"].append(res.get("qr_location"))
    details["found_in_preprocessed"].append(res.get("found_in_preprocessed"))
    details["error"].append(res.get("error"))
    details["processing_ms"].append(round(ms, 3))
    # task attempt (1-based): spark.task.maxFailures is the BullMQ-retry
    # analog, and the attempt lands in the record like schema.ts:53
    details["attempt_number"].append(attempt)


def _arrow_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """Blob source of the Arrow fallback: rows arrive as (media_ref,
    content) batches through the JVM."""
    for pdf in batches:
        yield pdf["media_ref"], pdf["content"]


def _split_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """Blob source of the direct read: rows are LPT bins of parquet
    (path, row_group, row_lo, row_hi) atoms, and the python worker reads
    the blob bytes itself (pyarrow C++, GIL-released) so they never pass
    through the JVM heap. With the Arrow-transfer path, 2 GiB of blobs
    allocated through the JVM caused ~300 s of summed GC in one stage at
    32 tasks; direct reads eliminate that entirely. At cluster scale the
    same code reads object-store URIs (pyarrow/fsspec) — the standard
    layout for binary-heavy inference pipelines."""
    import pyarrow.parquet as pq

    for pdf in batches:
        work = [
            (p, int(rg), int(lo), int(hi))
            for paths, rgs, los, his in zip(
                pdf["paths"], pdf["row_groups"], pdf["row_los"], pdf["row_his"]
            )
            for p, rg, lo, hi in zip(paths, rgs, los, his)
        ]
        for path, rg, row_lo, row_hi in work:
            # stream the row group in bounded batches instead of
            # materializing it whole: datagen writes 16-row groups,
            # but an externally-written table with default-sized row
            # groups would otherwise pull hundreds of MB of blobs
            # into the python worker at once (the Arrow path is
            # capped at 32 MiB/batch; 16 rows × the 10 MiB ingest
            # gate bounds this path similarly). [row_lo, row_hi)
            # selects this bin's packing atom within the group
            # (_atomize_splits); rows outside it are skipped.
            cursor = 0
            for tbl in pq.ParquetFile(path).iter_batches(
                batch_size=16, row_groups=[rg], columns=["media_ref", "content"]
            ):
                b_lo = max(row_lo - cursor, 0)
                b_hi = min(row_hi - cursor, tbl.num_rows)
                cursor += tbl.num_rows
                if b_lo >= b_hi:
                    if cursor >= row_hi:
                        break
                    continue
                tbl = tbl.slice(b_lo, b_hi - b_lo)
                yield tbl.column("media_ref").to_pylist(), tbl.column("content").to_pylist()


def _make_media_fn(cfg: ExtractConfig, blob_batches):
    """mapInPandas function: extract every blob that ``blob_batches``
    (_arrow_blobs or _split_blobs) yields as (media_refs, blobs) from the
    task's input batches. Emits one span row per blob per batch, then one
    metrics sideband row for the partition."""
    conf_low = cfg.confidence_low
    accepted = cfg.accepted_qr_formats
    aggressive = cfg.aggressive
    timeout_s = cfg.kernel_timeout_s
    warp_interp = cfg.warp_interp
    alignment_mode = cfg.alignment_mode

    def media_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        attempt = (ctx.attemptNumber() + 1) if ctx else 1
        n_blobs = 0
        ocr_chars = 0
        kernel_ms: list[float] = []
        for refs, blobs in blob_batches(batches):
            texts, kinds = [], []
            details = {k: [] for k in _DETAIL_KEYS}
            for blob in blobs:
                t0 = time.perf_counter()
                res = extract_media_span(
                    bytes(blob) if blob is not None else None,
                    conf_low,
                    accepted,
                    aggressive=aggressive,
                    timeout_s=timeout_s,
                    warp_interp=warp_interp,
                    alignment_mode=alignment_mode,
                )
                ms = (time.perf_counter() - t0) * 1000.0
                kernel_ms.append(ms)
                kinds.append(res["kind"] if res["status"] == "completed" else "media_text")
                texts.append(res.get("text"))
                _append_detail(details, res, ms, attempt)
                ocr_chars += len(res.get("text") or "")
            n_blobs += len(refs)
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "kind": kinds,
                    "text": texts,
                    "row_type": "span",
                    "part_id": part_id,
                    "n_blobs": None,
                    "ocr_chars": None,
                    "kernel_ms_p50": None,
                    "kernel_ms_max": None,
                    "kernel_ms_sum": None,
                    **details,
                }
            )
        # metrics sideband row — per-partition lineage (north rule), the
        # batch analog of the reference event stream (events/map.ts:16-43);
        # kernel_ms_sum is the partition's total model/kernel wall, the
        # number the LPT cost packer balances (straggler evidence)
        ms = sorted(kernel_ms)
        yield pd.DataFrame(
            {
                "media_ref": [None],
                "kind": [None],
                "text": [None],
                "row_type": ["metrics"],
                "part_id": [part_id],
                "n_blobs": [n_blobs],
                "ocr_chars": [ocr_chars],
                "kernel_ms_p50": [ms[len(ms) // 2] if ms else None],
                "kernel_ms_max": [ms[-1] if ms else None],
                "kernel_ms_sum": [round(sum(ms), 3) if ms else None],
                **{k: [None] for k in _DETAIL_KEYS},
            }
        )

    return media_fn


# estimated decode cost model for a media split (ms): model inference is a
# fixed per-image cost (the CNN runs at capped resolution regardless of
# source size); decode + streaming image ops scale with bytes. Constants
# measured on this container (~90 ms/inference, ~15 ms/MB streaming) —
# only their RATIO matters for balancing.
COST_MS_PER_ROW = 90.0
COST_MS_PER_MB = 15.0
# target estimated cost per bin: small enough that the final wave's
# quantization error is a few percent of stage wall, large enough that
# per-task overhead (~10 ms) stays negligible. Env-overridable so the
# wave geometry can be tuned per deployment (more, smaller bins =
# better LPT smoothing at high parallelism; fewer = less per-atom page
# re-decode) without a code change.
TARGET_COST_MS_PER_BIN = float(
    os.environ.get("SPARK_GRAFT_BIN_TARGET_MS", "5000")
)


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


def write_split_manifest(table_path: str) -> str:
    """Write the split manifest for a parquet table path (file or dir):
    one row per (file, row_group) with exact byte/row stats — the
    parquet-side analog of Iceberg's manifest files, read in O(1) driver
    work by `_direct_read_splits`. Called by datagen after writing the
    media table; any externally-produced table gets the same benefit by
    running this once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _parquet_files_under(table_path)
    rows = {"file": [], "row_group": [], "bytes": [], "rows": []}
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            rows["file"].append(os.path.basename(path))
            rows["row_group"].append(rg)
            rows["bytes"].append(g.total_byte_size)
            rows["rows"].append(g.num_rows)
    base = table_path if os.path.isdir(table_path) else os.path.dirname(table_path)
    out = os.path.join(base, SPLIT_MANIFEST_NAME)
    pq.write_table(pa.table(rows), out)
    return out


def _parquet_files_under(table_path: str) -> list[str]:
    if os.path.isdir(table_path):
        return sorted(
            os.path.join(table_path, f)
            for f in os.listdir(table_path)
            if f.endswith(".parquet") and not f.startswith("_")
        )
    return [table_path]


def _splits_from_manifest(files: list[str]) -> list[tuple[str, int, int, int]] | None:
    """Load (path, row_group, bytes, rows) from the sibling split
    manifest when one covers every input file; None otherwise."""
    import pyarrow.parquet as pq

    by_dir: dict[str, list[str]] = {}
    for path in files:
        by_dir.setdefault(os.path.dirname(path), []).append(path)
    splits: list[tuple[str, int, int, int]] = []
    for d, paths in by_dir.items():
        man = os.path.join(d, SPLIT_MANIFEST_NAME)
        if not os.path.exists(man):
            return None
        tbl = pq.read_table(man)
        # regroup per file name
        per_file: dict[str, list[tuple[int, int, int]]] = {}
        for name, rg, b, r in zip(
            tbl.column("file").to_pylist(),
            tbl.column("row_group").to_pylist(),
            tbl.column("bytes").to_pylist(),
            tbl.column("rows").to_pylist(),
        ):
            per_file.setdefault(name, []).append((rg, b, r))
        for path in paths:
            entries = per_file.get(os.path.basename(path))
            if not entries:
                return None  # manifest stale for this file → footer path
            for rg, b, r in entries:
                splits.append((path, rg, b, r))
    return splits or None


def _direct_read_splits(media: DataFrame) -> list[tuple[str, int, int, int]] | None:
    """(path, row_group, bytes, rows) splits for a file-backed media
    DataFrame, or None when the frame is not a bare untransformed file
    scan (_is_bare_scan). Split stats come from, in order of preference:

    1. the sibling split manifest (`write_split_manifest`) — O(1) driver
       reads, the parquet-side analog of planning from Iceberg
       manifests; with an Iceberg catalog (iceberg.py) the same tuples
       come from the table's own manifest files;
    2. parquet footers read on a thread pool (metadata-only,
       GIL-released pyarrow C++) — bounded wall even at thousands of
       files, vs the serial loop that stalls a 10^12-doc listing.
    """
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

    manifest_splits = _splits_from_manifest(paths)
    if manifest_splits is not None:
        return manifest_splits

    import concurrent.futures as cf

    import pyarrow.parquet as pq

    def footer(path: str) -> list[tuple[str, int, int, int]]:
        meta = pq.ParquetFile(path).metadata
        return [
            (path, rg, meta.row_group(rg).total_byte_size, meta.row_group(rg).num_rows)
            for rg in range(meta.num_row_groups)
        ]

    splits: list[tuple[str, int, int, int]] = []
    with cf.ThreadPoolExecutor(max_workers=_FOOTER_READ_THREADS) as ex:
        for part in ex.map(footer, paths):
            splits.extend(part)
    return splits or None


# atoms per bin: row groups are cut into row ranges fine enough that LPT
# has ~8 atoms per bin to balance with. Without sub-row-group atoms, a
# table whose row-group count is close to the bin count degenerates to
# one-group-per-bin — zero packing freedom, and the per-group cost
# variance lands directly on the stage tail (measured: 107 groups vs
# 128 bins at local[32] → max/avg 1.77 and a 3.3-wave straggler tail);
# with atoms sized off the TARGET constant instead of the actual bin
# cost, 2-3 atoms/bin still left a 1.6 max/avg last-atom quantization.
ATOMS_PER_BIN = 8.0


def _atomize_splits(
    splits: list[tuple[str, int, int, int]], atom_cost_ms: float
) -> list[tuple[float, str, int, int, int]]:
    """Cut (path, row_group, bytes, rows) splits into (cost, path, rg,
    row_lo, row_hi) packing atoms of ~atom_cost_ms estimated cost (floor:
    one row). Rows within a group are assumed cost-uniform (the per-row
    inference cost dominates; bytes prorate). Sub-group reads re-decode
    the group's pages once per atom — a few ms of pyarrow I/O against
    hundreds of ms of kernel work per atom."""
    atoms: list[tuple[float, str, int, int, int]] = []
    for path, rg, nbytes, rows in splits:
        cost = _split_cost_ms(rows, nbytes)
        pieces = max(1, min(rows, int(cost // max(atom_cost_ms, 1e-6)) + 1))
        base, extra = divmod(rows, pieces)
        lo = 0
        for p in range(pieces):
            cnt = base + (1 if p < extra else 0)
            if cnt == 0:
                continue
            atoms.append((cost * cnt / rows if rows else 0.0, path, rg, lo, lo + cnt))
            lo += cnt
    return atoms


def _lpt_pack(
    splits: list[tuple[str, int, int, int]], n: int
) -> list[tuple[list[str], list[int], list[int], list[int]]]:
    """Longest-processing-time-first bin packing into n bins by estimated
    cost (_split_cost_ms), over sub-row-group atoms (_atomize_splits)
    sized at ~1/ATOMS_PER_BIN of the ACTUAL expected bin cost (total/n);
    returns per-bin (paths, row_groups, row_los, row_his)."""
    import heapq

    total_cost = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits)
    atom_ms = total_cost / max(n, 1) / ATOMS_PER_BIN
    atoms = _atomize_splits(splits, atom_ms)
    n = max(1, min(n, len(atoms)))
    heap = [(0.0, i) for i in range(n)]  # (bin_cost, bin_idx)
    bins: list[tuple[list[str], list[int], list[int], list[int]]] = [
        ([], [], [], []) for _ in range(n)
    ]
    packed = [0.0] * n
    for cost, path, rg, lo, hi in sorted(atoms, key=lambda s: -s[0]):
        size, idx = heapq.heappop(heap)
        bins[idx][0].append(path)
        bins[idx][1].append(rg)
        bins[idx][2].append(lo)
        bins[idx][3].append(hi)
        packed[idx] = size + cost
        heapq.heappush(heap, (size + cost, idx))
    # heaviest bins first: partition index is (approximately) launch
    # order, so descending cost = LPT list scheduling — when the bin
    # count is not an exact slot multiple, the spill-over wave holds the
    # CHEAPEST bins instead of random ones, bounding the tail
    order = sorted(range(n), key=lambda i: (-packed[i], i))
    return [bins[i] for i in order]


# frames persisted by runs in this session, released via release_persisted()
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every frame cached by prior run_extract calls. Call
    after the run's output/metrics actions complete; a long-lived session
    would otherwise accumulate one cached frame per run in executor
    storage memory."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:  # session already stopped — nothing to release
            pass


def cost_partition_count(media: DataFrame) -> int:
    """Partition count for the Arrow fallback's blob repartition: total
    blob bytes over TARGET_BYTES_PER_TASK, floored at the cluster's
    parallelism (at least 8) and capped at 4096. The sizing aggregate
    scans only the int file_size column (pruned — blob bytes are never
    read), so it is cheap at any scale."""
    total = media.agg(F.sum("file_size").alias("b")).collect()[0]["b"] or 0
    lo = max(8, media.sparkSession.sparkContext.defaultParallelism)
    return int(min(4096, max(lo, total // TARGET_BYTES_PER_TASK + 1)))


def _media_branch(
    spans: DataFrame, media: DataFrame, cfg: ExtractConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (per-span branch rows, per-partition metrics, per-blob
    recognition details).

    Blob bytes never cross the wire. Extraction (decode → align → QR →
    OCR cascade) runs in one mapInPandas function (_make_media_fn) fed by
    whichever blob source the media frame allows:

    1. direct read — a bare parquet scan with cfg.direct_blob_read: the
       (file, row_group) splits are cut into row-range atoms, LPT-packed
       by estimated decode cost into bins (one bin per task), and the
       python workers read the blob bytes themselves (_split_blobs);
    2. Arrow fallback — in-memory, filtered or non-parquet media, or
       direct_blob_read=False: the frame's own scan (_arrow_blobs), which
       honors the caller's full logical plan. Only when it arrives in
       fewer splits than the cluster has slots are the blobs
       repartitioned by media_ref (cost_partition_count).

    Only the narrow extraction RESULT (media_ref, kind, text) joins the
    span table — a text-sized shuffle, independent of blob bytes.
    Measured here: at 2 GiB of blobs a join-then-extract plan was
    shuffle-IO-bound and got SLOWER with more cores.

    Each blob is decoded once even if referenced by many spans (the old
    join-first plan decoded per reference). Unreferenced media rows do get
    decoded; the input contract (FIXTURES.md §1) references every blob.
    Corollary for checkpoint RESUME over a doc subset: the whole media
    table is re-extracted (results for unmatched refs are discarded by the
    join). At production scale the media table is partitioned by the same
    bucket key as documents (Iceberg partition transform), so a resume
    lists only the matching data files and this is moot.
    """
    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "order", "media_ref"
    )
    spark = media.sparkSession
    splits = _direct_read_splits(media) if cfg.direct_blob_read else None
    if splits is not None:
        # python-direct read: distribute (file, row_group) splits by
        # ESTIMATED COST (fixed inference cost per row + streaming cost
        # per byte — packing by bytes alone left equal-byte bins with 4×
        # different blob counts and a 4× straggler tail); blob bytes never
        # enter the JVM. Splits are LPT-bin-packed into n bins (one row
        # per bin, round-robin → one bin per task). n is over-provisioned
        # 4× vs task slots so wave quantization stays ≤ ~1/4 wave.
        total_cost = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits)
        par = spark.sparkContext.defaultParallelism
        raw = max(4 * par, int(total_cost // TARGET_COST_MS_PER_BIN) + 1)
        # round the bin count UP to a slot multiple: LPT makes bins
        # near-equal, so any remainder wave idles (slots - remainder)
        # cores for a full bin length. Measured at 32 slots / 8000 docs:
        # 136 bins = 4.25 waves cost ~4.5 s of a 25 s ideal stage wall
        # (136 happens to be a multiple of 8 — the 8-core level never
        # paid this, which masqueraded as poor 8->32 scaling)
        n = min(4096, -(-raw // par) * par)
        bins = _lpt_pack(splits, n)
        # EXACTLY one bin per task: round-robin repartition(n) does NOT
        # guarantee this (each input slice starts at a random offset, so
        # bins collide and half the tasks come up empty — measured p50
        # task time of 0.17 s next to a 50 s straggler). A keyed RDD with
        # an identity partitioner is deterministic.
        rdd = (
            spark.sparkContext.parallelize(
                list(enumerate(bins)), numSlices=max(1, len(bins))
            )
            .partitionBy(len(bins), lambda k: k)
            .values()
        )
        pairs = spark.createDataFrame(
            rdd,
            "paths array<string>, row_groups array<int>, "
            "row_los array<int>, row_his array<int>",
        )
        results = pairs.mapInPandas(
            _make_media_fn(cfg, _split_blobs), schema=_MEDIA_RESULT_SCHEMA
        )
    else:
        # generic fallback (in-memory, filtered, or non-parquet media):
        # Arrow path, which honors the caller's full logical plan
        from ..ops import estimated_scan_partitions

        blobs = media.select("media_ref", "content")
        est = estimated_scan_partitions(blobs)
        if est is None:
            est = blobs.rdd.getNumPartitions()  # in-memory frames only
        if est < spark.sparkContext.defaultParallelism:
            blobs = blobs.repartition(cost_partition_count(media), F.col("media_ref"))
        results = blobs.mapInPandas(
            _make_media_fn(cfg, _arrow_blobs), schema=_MEDIA_RESULT_SCHEMA
        )
    # persist the NARROW results so the metrics action does not re-run OCR
    # (text-sized cache; blob bytes are not retained). Registered so
    # long-lived sessions (bench.py runs many queries) can release the
    # cache once the run's actions complete (release_persisted).
    results = results.persist()
    _PERSISTED.append(results)
    res_spans = results.filter(F.col("row_type") == "span").select(
        "media_ref", "kind", "text"
    )
    metrics = results.filter(F.col("row_type") == "metrics").select(
        "part_id", "n_blobs", "ocr_chars",
        "kernel_ms_p50", "kernel_ms_max", "kernel_ms_sum",
    )
    # full recognition record per blob (reference recognition_results,
    # schema.ts:31-58) — written by run_resumable as recognitions/
    details = results.filter(F.col("row_type") == "span").select(
        "media_ref", "status", "kind", "text", "engine", "confidence",
        "used_preprocessed", "qr_data", "qr_format", "qr_location",
        "found_in_preprocessed", "error", "processing_ms", "attempt_number",
    )
    branch = media_spans.join(res_spans, "media_ref", "left").select(
        "doc_id",
        "order",
        # dangling media_ref (no blob row) → same failed-span shape the
        # kernel emits for an unreadable blob
        F.coalesce(F.col("kind"), F.lit("media_text")).alias("kind"),
        "text",
        "media_ref",
    )
    return branch, metrics, details


# --------------------------------------------------------------------------
# assembly
# --------------------------------------------------------------------------

def run_extract(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig | None = None,
    details_out: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full pipeline. Returns (output, metrics):

    output  — (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,order>>)
    metrics — per-OCR-partition lineage rows (part_id, n_blobs, ocr_chars,
              kernel_ms_p50, kernel_ms_max, kernel_ms_sum)

    Pass a list as ``details_out`` to also receive the per-blob
    recognition record frame (status/engine/confidence/QR fields/error/
    processing_ms — the reference's recognition_results analog,
    schema.ts:31-58); run_resumable writes it as ``recognitions/``.
    """
    cfg = cfg or ExtractConfig()
    spans = prepare_spans(docs)
    media_rows, metrics, details = _media_branch(spans, media, cfg)
    if details_out is not None:
        details_out.append(details)
    span_rows = _textual_branch(spans).unionByName(media_rows)

    output = (
        span_rows.groupBy("doc_id")
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
            "doc_id",
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
    return output, metrics


def load_inputs(spark: SparkSession, data_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return docs, media
