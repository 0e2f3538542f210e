"""Query registry: every implemented operator exposed for the driver
contract (__spark_entry__.py) with its DuckDB oracle where the semantics
are SQL-expressible.

Rows-only entries (extraction pipeline, multimodal kernels) run on the
engine's own deterministic synthetic dataset — a pure function of
(N_DOCS, SEED) — since the driver's parquet tables carry no media blobs.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .config import ExtractConfig
from .datagen import ensure_dataset
from .ops import dedup, packing, relational, similarity, streaming, textstats
from .pipeline.checkpoint import DEFAULT_BUCKETS, bucket_expr
from .pipeline.extract import load_inputs, run_extract

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_DS_DIR = os.path.join(_REPO, ".data", "entry-ds")
ENTRY_N_DOCS = 200
ENTRY_SEED = 42


def _entry_dataset_dir() -> str:
    ensure_dataset(ENTRY_DS_DIR, ENTRY_N_DOCS, ENTRY_SEED)
    return ENTRY_DS_DIR


def extract_pipeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full interleaved-document extraction. sf_dir is ignored;
    the input is the deterministic synthetic dataset, and the oracle is
    its golden.parquet sidecar — the expected span sequence datagen
    computes from the generator spec, independent of the Spark path —
    so the whole decode→align→binarize→OCR→reassemble chain is
    hash-checked, not just row-counted. media_ref and text (NULL on
    failed media spans) coalesce to '' in both twins: pandas
    materializes VARCHAR NULLs unpredictably. The documents are bucketed
    as run_resumable buckets them. Building the frame runs one Spark job,
    run_extract's collect of the documents' media references."""
    data_dir = _entry_dataset_dir()
    docs, media = load_inputs(spark, data_dir)
    docs = docs.withColumn("bucket", bucket_expr(DEFAULT_BUCKETS))
    output, _ = run_extract(spark, docs, media, ExtractConfig())
    from pyspark.sql import functions as F

    # flatten for a stable, hashable shape
    return output.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        F.col("s.order").alias("span_order"),
    )


def media_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.multimodal import media_metadata

    data_dir = _entry_dataset_dir()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return media_metadata(media)


def media_size_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.multimodal import media_size_stats

    data_dir = _entry_dataset_dir()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return media_size_stats(media)


def media_phash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup stats over the synthetic media table;
    the oracle recomputes the identical band-blocking arithmetic from
    the generation-time dhash sidecar, so decode + dHash + blocking is
    checked end to end."""
    from .ops.multimodal import media_phash_dedup

    data_dir = _entry_dataset_dir()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return media_phash_dedup(media)


def media_thumbnail_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .ops.multimodal import media_thumbnails

    data_dir = _entry_dataset_dir()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    return media_thumbnails(media).select(
        "media_ref", F.md5("thumb").alias("thumb_md5"), "thumb_w", "thumb_h"
    )


def video_frame_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.multimodal import synthetic_videos, video_frame_sample

    return video_frame_sample(synthetic_videos(spark))


def audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.multimodal import audio_features, synthetic_audio

    return audio_features(synthetic_audio(spark))


STRUCTURED_RECEIPTS_N = 400


def structured_receipts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 full-schema structuring, hash-checked (round-4 verdict Next #2):
    the input is the deterministic receipt corpus datagen renders from a
    spec, and the oracle is its generation-time expected-record sidecar
    (receipts_expected.parquet — spec arithmetic, independent of the line
    parser in kernels/structuring.py), the extract_pipeline golden
    pattern. The Spark side runs the REAL mapInPandas stage
    (structure_spans → HeuristicStructurer offline; LLMStructurer when
    LLM_API_URL/KEY are set — reference deepseek_client.py:24-114,
    schema prompt.txt:147-163).

    Projection rules for the driver hasher: no array/map/struct columns
    ever (warnings → to_json; items is already a JSON string), strings
    coalesced to '' and doubles to -1.0 (pandas/DuckDB NULL handling
    would sabotage the value compare otherwise)."""
    from pyspark.sql import functions as F

    from .datagen import ensure_receipts
    from .kernels.structuring import structure_spans

    paths = ensure_receipts(ENTRY_DS_DIR, STRUCTURED_RECEIPTS_N, ENTRY_SEED)
    docs = spark.read.parquet(paths["receipts"]).select(
        "doc_id", F.lit(0).alias("span_order"), "text"
    )
    out = structure_spans(docs)
    return out.select(
        "doc_id",
        "span_order",
        F.coalesce("merchant", F.lit("")).alias("merchant"),
        F.coalesce("date", F.lit("")).alias("date"),
        "items",
        F.coalesce("subtotal", F.lit(-1.0)).alias("subtotal"),
        F.coalesce("tax", F.lit(-1.0)).alias("tax"),
        F.coalesce("total", F.lit(-1.0)).alias("total"),
        "confidence",
        F.to_json("warnings").alias("warnings"),
        F.coalesce("error", F.lit("")).alias("error"),
    )


def receipt_fields_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 heuristic-parser oracle: synthesize receipt-shaped text from
    doc_id (4 deterministic variants: full receipt, no-total, plain text,
    comma-decimal + ru keywords + dotted date), run the REAL python
    structurer (kernels/structuring.py HeuristicStructurer via
    mapInPandas), and project SQL-comparable fields. The DuckDB oracle
    computes the expected values per variant straight from the parser
    spec (deepseek prompt schema, prompt.txt:147-163) — an independent
    implementation, so a green hash validates merchant/item/total/tax/
    date/confidence parsing end-to-end."""
    from pyspark.sql import functions as F

    from .kernels.structuring import structure_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    ds = d.cast("string")
    v = d % 4
    text = (
        F.when(v == 0, F.concat_ws("\n",
            F.concat(F.lit("Shop "), ds),
            F.concat(F.lit("2024-03-"), F.lpad(((d % 28) + 1).cast("string"), 2, "0")),
            F.concat(F.lit("apple "), (d % 9).cast("string"), F.lit(".25")),
            F.lit("bread 2.00"),
            F.concat(F.lit("total "), ((d % 9) + 2).cast("string"), F.lit(".25")),
            F.lit("tax 0.40")))
        .when(v == 1, F.concat_ws("\n",
            F.concat(F.lit("Market "), ds),
            F.concat(F.lit("coffee "), (d % 5).cast("string"), F.lit(".10")),
            F.lit("milk 1.80")))
        .when(v == 2, F.concat(F.lit("plain note "), ds))
        .otherwise(F.concat_ws("\n",
            F.concat(F.lit("Кафе "), ds),
            F.lit("15.03.2024"),
            F.lit("чай 3,50"),
            F.lit("итог 3,50")))
    )
    inp = docs.select(ds.alias("doc_id"), F.lit(0).alias("span_order"), text.alias("text"))
    out = structure_spans(inp)
    items = F.from_json(
        "items", "array<struct<name:string,quantity:double,price:double,total:double>>"
    )
    return out.select(
        "doc_id",
        "merchant",
        F.col("date").alias("rdate"),
        F.size(items).alias("n_items"),
        F.round(
            F.aggregate(
                items, F.lit(0.0), lambda acc, x: acc + F.coalesce(x["total"], F.lit(0.0))
            ),
            2,
        ).alias("items_total"),
        # -1.0 sentinel instead of NULL: DuckDB's fetchdf materializes
        # NULL doubles as NaN, which would sabotage the value compare
        F.coalesce("subtotal", F.lit(-1.0)).alias("subtotal"),
        F.coalesce("tax", F.lit(-1.0)).alias("tax"),
        F.coalesce("total", F.lit(-1.0)).alias("total"),
        "confidence",
        F.size("warnings").alias("n_warnings"),
    )


RECEIPT_FIELDS_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  CASE doc_id % 4
    WHEN 0 THEN 'Shop ' || doc_id
    WHEN 1 THEN 'Market ' || doc_id
    WHEN 2 THEN 'plain note ' || doc_id
    ELSE 'Кафе ' || doc_id END AS merchant,
  CASE doc_id % 4
    WHEN 0 THEN '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
    WHEN 3 THEN '2024-03-15' END AS rdate,
  CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 1 END AS n_items,
  CASE doc_id % 4
    WHEN 0 THEN round(CAST(doc_id % 9 || '.25' AS DOUBLE) + 2.00, 2)
    WHEN 1 THEN round(CAST(doc_id % 5 || '.10' AS DOUBLE) + 1.80, 2)
    WHEN 2 THEN 0.0
    ELSE 3.5 END AS items_total,
  CASE doc_id % 4
    WHEN 1 THEN round(CAST(doc_id % 5 || '.10' AS DOUBLE) + 1.80, 2)
    ELSE -1.0 END AS subtotal,
  CASE doc_id % 4 WHEN 0 THEN 0.4 ELSE -1.0 END AS tax,
  CASE doc_id % 4
    WHEN 0 THEN CAST(doc_id % 9 + 2 || '.25' AS DOUBLE)
    WHEN 3 THEN 3.5
    ELSE -1.0 END AS total,
  CASE doc_id % 4 WHEN 0 THEN 'high' WHEN 1 THEN 'medium'
    WHEN 2 THEN 'low' ELSE 'high' END AS confidence,
  CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END AS n_warnings
FROM documents
"""


# The driver reports exactly 50 CORRECTNESS rows: the first 50 registry
# entries, in order. Registration order is therefore a rotation schedule,
# computed from the committed report history by _rotation_order, so each
# new report rotates the weakest-verified queries into that window with
# no hand edit.


def _row_clean(row: dict) -> bool:
    """A driver CORRECTNESS row that needs no fresh slot: hash-green, or
    a clean rows-only check (no oracle registered, no error)."""
    if row.get("err"):
        return False
    if row.get("hash_match") is True:
        return True
    return row.get("hash_match") is None and row.get("rows_match") is not False


def _report_history() -> dict[str, int]:
    """name -> latest round with a clean driver row, from the committed
    CORRECTNESS_r*.json artifacts (deterministic given the repo state)."""
    import glob
    import json
    import re

    last_ok: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _row_clean(row):
                last_ok[name] = max(last_ok.get(name, 0), rnd)
    return last_ok


def _rotation_order(names: list[str]) -> list[str]:
    """Self-maintaining rotation: flagships pinned to slots 1-2, then all
    remaining queries sorted by (latest clean driver row ascending,
    registration order) — never-reported/failed first, stalest-green
    next — so the driver's 50-row window always lands on the entries
    with the weakest verification record."""
    history = _report_history()
    pinned = [n for n in ("extract_pipeline", "structured_receipts") if n in names]
    idx = {n: i for i, n in enumerate(names)}
    rest = sorted(
        (n for n in names if n not in pinned),
        key=lambda n: (history.get(n, 0), idx[n]),
    )
    return pinned + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "extract_pipeline": extract_pipeline_query,
        "structured_receipts": structured_receipts_query,
        "receipt_fields": receipt_fields_query,
        "media_metadata": media_metadata_query,
        "media_size_stats": media_size_stats_query,
        "media_thumbnails": media_thumbnail_query,
        "media_phash_dedup": media_phash_query,
        "video_frame_sample": video_frame_sample_query,
        "audio_features": audio_features_query,
    }
    for mod in (relational, textstats, dedup, similarity, streaming):
        all_q.update(mod.QUERIES)
    all_q.update(textstats.EXTRA_QUERIES)
    all_q.update(similarity.EXTRA_QUERIES)
    all_q.update(dedup.EXTRA_QUERIES)
    all_q.update(packing.QUERIES)
    all_q.update(streaming.EXTRA_QUERIES)
    all_q.update(relational.EXTRA_QUERIES)
    order = _rotation_order(list(all_q))
    return {name: all_q[name] for name in order}


def _media_oracles() -> dict[str, str]:
    """Oracles for the synthetic-media kernels, checked against ground
    truth computed at generation time (datagen sidecar) or re-derived
    from the generator spec without the codec/Spark path (ops/multimodal
    truth writers) — independent of the kernels under test."""
    from .ops.multimodal import ensure_av_truth

    _entry_dataset_dir()  # materializes media_truth.parquet + golden.parquet
    av = ensure_av_truth(ENTRY_DS_DIR)
    media_truth = os.path.join(ENTRY_DS_DIR, "media_truth.parquet")
    golden = os.path.join(ENTRY_DS_DIR, "golden.parquet")
    return {
        "extract_pipeline": (
            "SELECT doc_id, s.kind AS kind, coalesce(s.text, '') AS text, "
            "coalesce(s.media_ref, '') AS media_ref, s.\"order\" AS span_order "
            f"FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{golden}'))"
        ),
        "media_metadata": (
            "SELECT media_ref, width, height, mean_brightness, n_pixels, codec "
            f"FROM read_parquet('{media_truth}')"
        ),
        "media_size_stats": (
            "SELECT count(*) AS n_blobs, CAST(sum(file_size) AS BIGINT) AS total_bytes, "
            "max(file_size) AS max_bytes, "
            "CAST(quantile_disc(file_size, 0.5) AS INTEGER) AS p50_bytes "
            f"FROM read_parquet('{media_truth}')"
        ),
        "media_thumbnails": (
            "SELECT media_ref, thumb_md5, 16 AS thumb_w, 16 AS thumb_h "
            f"FROM read_parquet('{media_truth}')"
        ),
        "media_phash_dedup": f"""
WITH t AS (SELECT media_ref, dhash FROM read_parquet('{media_truth}')),
bands AS (
  SELECT media_ref, dhash, b.band,
         substring(dhash, 1 + 4 * b.band, 4) AS bkey
  FROM t, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
sizes AS (SELECT band, bkey, count(*) AS bs FROM bands GROUP BY 1, 2)
SELECT bands.media_ref, bands.dhash,
       CAST(sum(bs - 1) AS BIGINT) AS n_band_neighbors
FROM bands JOIN sizes USING (band, bkey)
GROUP BY 1, 2
""",
        "video_frame_sample": (
            "SELECT media_ref, frame_idx, mean_brightness, frame_md5 "
            f"FROM read_parquet('{av['video']}')"
        ),
        "audio_features": (
            "SELECT media_ref, duration_sec, rms, zero_crossing_rate "
            f"FROM read_parquet('{av['audio']}')"
        ),
    }


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in (relational, textstats, dedup, similarity, streaming):
        out.update(mod.ORACLES)
    out["receipt_fields"] = RECEIPT_FIELDS_ORACLE
    out.update(textstats.EXTRA_ORACLES)
    out.update(similarity.EXTRA_ORACLES)
    out.update(dedup.EXTRA_ORACLES)
    out.update(packing.ORACLES)
    out.update(streaming.EXTRA_ORACLES)
    out.update(relational.EXTRA_ORACLES)
    out.update(_media_oracles())
    # round 5: structured_receipts gains a generation-time sidecar oracle
    # (spec-derived expected records, independent of the line parser) —
    # every registered query is now hash-checked.
    from .datagen import ensure_receipts

    expected = ensure_receipts(ENTRY_DS_DIR, STRUCTURED_RECEIPTS_N, ENTRY_SEED)[
        "receipts_expected"
    ]
    out["structured_receipts"] = (
        'SELECT doc_id, span_order, merchant, "date", items, subtotal, tax, '
        "total, confidence, warnings, error "
        f"FROM read_parquet('{expected}')"
    )
    return out
