"""End-to-end pipeline: span-sequence equality vs golden fixtures.

The primary invariant (BASELINE.json): for every doc_id, the ordered
sequence of (kind, text, media_ref, order) equals the golden sequence.
"""

from __future__ import annotations

import pytest

from ocr_service_spark.pipeline.checkpoint import bucket_expr
from ocr_service_spark.pipeline.extract import load_inputs, run_extract, split_media_results


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def _bucketed(docs):
    return docs.withColumn("bucket", bucket_expr(8))


@pytest.fixture(scope="module")
def result(spark, dataset):
    docs, media = load_inputs(spark, __import__("os").path.dirname(dataset["documents"]))
    out, results = run_extract(spark, _bucketed(docs), media)
    metrics, _ = split_media_results(results)
    return _seqs(out.collect()), metrics.collect(), spark.read.parquet(dataset["golden"])


def test_span_sequence_equality(result, spark, dataset):
    got, _, golden_df = result
    golden = _seqs(golden_df.collect())
    assert set(got) == set(golden)
    mismatched = [d for d in golden if got[d] != golden[d]]
    assert mismatched == [], f"{len(mismatched)} docs mismatch, e.g. {mismatched[:3]}"


def test_orders_are_contiguous(result):
    got, _, _ = result
    for doc_id, seq in got.items():
        assert [s[3] for s in seq] == list(range(len(seq))), doc_id


def test_metrics_cover_all_media_blobs(result):
    _, metrics, _ = result
    assert sum(m["n_blobs"] for m in metrics) > 0
    assert all(m["ocr_chars"] >= 0 for m in metrics)
    assert any(m["kernel_ms_max"] is not None for m in metrics)


def test_real_png_media_end_to_end(spark, tmp_path_factory):
    """Pipeline-level real-image coverage, non-gated: a dataset whose
    first 4 media blobs are REAL PNG bytes (datagen png_media option)
    runs the full distributed extract — python-direct row-group reads,
    decode_real_image → align → binarize → QR chain → RealRecognizer
    cascade → reassembly — and still matches the golden sidecar span
    for span. Without OCR libraries the PNG spans complete as the
    documented failed media_text spans with NULL text; with libraries
    they carry engine text — the golden producer runs the same per-blob
    kernel single-threaded, so the invariant holds either way."""
    import importlib.util

    from ocr_service_spark.datagen import ensure_dataset

    out_dir = str(tmp_path_factory.mktemp("png-ds"))
    paths = ensure_dataset(out_dir, 24, seed=7, png_media=4)
    docs, media = load_inputs(spark, out_dir)
    out, _ = run_extract(spark, _bucketed(docs), media)
    got = _seqs(out.collect())
    golden = _seqs(spark.read.parquet(paths["golden"]).collect())
    assert got == golden
    # the PNG blobs actually traveled the real path
    truth = spark.read.parquet(paths["media_truth"])
    png_refs = {r["media_ref"] for r in truth.filter("codec = 'png'").collect()}
    assert len(png_refs) == 4
    png_spans = [s for seq in got.values() for s in seq if s[2] in png_refs]
    assert len(png_spans) == 4
    have_engine = importlib.util.find_spec("pytesseract") is not None or (
        importlib.util.find_spec("paddleocr") is not None
    )
    if not have_engine:
        for kind, text, _ref, _order in png_spans:
            assert kind == "media_text" and text is None


def test_color_png_media_end_to_end(spark, tmp_path_factory):
    """COLOR real-image coverage, non-gated: the first 2 media blobs are
    truecolor PNGs (datagen png_color), which travel the color front end
    — decode_real_image_any → dark-invert on the gray mean → LAB-channel
    CLAHE (kernels/colorspace.py, reference common.py:21-33) — before
    the shared mask/warp/OCR stages. Golden equality holds by the same
    argument as the grayscale PNG test, and the media_truth sidecar for
    pngc rows is pinned to the Rec.601 gray view the kernels decode."""
    from ocr_service_spark.datagen import ensure_dataset

    out_dir = str(tmp_path_factory.mktemp("pngc-ds"))
    paths = ensure_dataset(out_dir, 24, seed=7, png_media=4, png_color=2)
    docs, media = load_inputs(spark, out_dir)
    out, _ = run_extract(spark, _bucketed(docs), media)
    got = _seqs(out.collect())
    golden = _seqs(spark.read.parquet(paths["golden"]).collect())
    assert got == golden
    truth = spark.read.parquet(paths["media_truth"])
    assert truth.filter("codec = 'pngc'").count() == 2
    assert truth.filter("codec = 'png'").count() == 2
    # multimodal metadata oracle holds through the color decode: the
    # kernel's gray view must match the generation-time truth
    from ocr_service_spark.ops.multimodal import media_metadata

    meta = {
        r["media_ref"]: r
        for r in media_metadata(media).collect()
    }
    for t in truth.filter("codec = 'pngc'").collect():
        m = meta[t["media_ref"]]
        assert m["width"] == t["width"] and m["height"] == t["height"]
        assert abs(m["mean_brightness"] - t["mean_brightness"]) < 1e-6


def test_query_path_leaves_no_cache(spark):
    """The flagship extraction query builds the plan only: after
    its collect, no persisted frame is left in the session."""
    from ocr_service_spark.queries import extract_pipeline_query

    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    assert extract_pipeline_query(spark, "").collect()
    assert jsc.getPersistentRDDs().size() == cached_before
