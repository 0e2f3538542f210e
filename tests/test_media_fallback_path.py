"""The media task has two physical paths with identical semantics:
python-direct parquet row-group reads (file-backed media) and the Arrow
fallback (any other DataFrame). This suite pins the fallback path, the
dangling-media_ref contract, and the span join's rule that only a media
span takes a record, on both."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.kernels.media import encode_simg
from ocr_service_spark.pipeline.checkpoint import bucket_expr
from ocr_service_spark.pipeline.extract import run_extract, split_media_results


def _bucketed(docs):
    return docs.withColumn("bucket", bucket_expr(8))


def _mk_blob(lines, conf=0.9):
    rng = np.random.default_rng(7)
    px = rng.integers(120, 200, size=(40, 30)).astype(np.uint8)
    meta = {
        "w": 30, "h": 40,
        "quad": [[4, 5], [26, 5], [26, 35], [4, 35]],
        "lines": lines,
        "conf": {"tesseract_preprocessed": conf, "paddleocr_preprocessed": 0.2, "paddleocr_warped": 0.2},
    }
    return encode_simg(meta, px)


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [
            ("d1", [
                {"kind": "text", "text": "hello  world", "media_ref": None, "offset": 1},
                {"kind": "media", "text": None, "media_ref": "m1", "offset": 0},
            ]),
            ("d2", [
                {"kind": "media", "text": None, "media_ref": "GONE", "offset": 0},
            ]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m1", bytearray(_mk_blob(["alpha beta"])), len(_mk_blob(["alpha beta"])))],
        "media_ref string, content binary, file_size int",
    )
    return docs, media


def _collect_spans(output):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in output.collect()
    }


def test_fallback_path_used_for_inmemory_media(spark, frames):
    docs, media = frames
    assert media.inputFiles() == []  # precondition: not file-backed
    output, results = run_extract(spark, _bucketed(docs), media, ExtractConfig())
    metrics, _ = split_media_results(results)
    got = _collect_spans(output)
    # d1: media span (order 0, offset 0) then text span (order 1)
    assert got["d1"][0] == ("media_text", "alpha beta", "m1", 0)
    assert got["d1"][1][0] == "text" and got["d1"][1][3] == 1
    assert sum(m["n_blobs"] for m in metrics.collect()) == 1


def test_empty_spans_doc_survives(spark, frames):
    """A document with an empty (or null) spans array must appear in the
    output with spans = [], not silently disappear."""
    docs = spark.createDataFrame(
        [("empty", []), ("nullspans", None),
         ("normal", [{"kind": "text", "text": "hi", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [], "media_ref string, content binary, file_size int"
    )
    output, _ = run_extract(spark, _bucketed(docs), media, ExtractConfig())
    got = _collect_spans(output)
    assert got["empty"] == []
    assert got["nullspans"] == []
    assert got["normal"] == [("text", "hi", None, 0)]


def test_dangling_media_ref_yields_failed_span(spark, frames):
    docs, media = frames
    output, _ = run_extract(spark, _bucketed(docs), media, ExtractConfig())
    got = _collect_spans(output)
    # no blob row for ref GONE → media_text span with null text, order kept
    assert got["d2"] == [("media_text", None, "GONE", 0)]


def test_filtered_media_frame_honors_plan(spark, dataset):
    """A filtered media frame must NOT be direct-read (the direct path
    reads whole files and would ignore the filter): excluded blobs yield
    dangling-ref spans, exactly like the Arrow path."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(dataset["documents"])
    media = spark.read.parquet(dataset["media"])
    some_ref = media.select("media_ref").first()["media_ref"]
    filtered = media.filter(F.col("media_ref") != some_ref)
    output, _ = run_extract(spark, _bucketed(docs), filtered, ExtractConfig())
    spans = _collect_spans(output)
    hits = [
        s
        for doc in spans.values()
        for s in doc
        if s[2] == some_ref
    ]
    assert hits, "dataset should reference the excluded blob"
    # excluded blob → no extraction result joined in (null text)
    assert all(s[1] is None for s in hits)


def test_direct_and_fallback_paths_agree(spark, dataset):
    """Same dataset through both physical paths → identical span output.
    A filter that keeps every row still makes the frame a non-bare scan,
    so it takes the Arrow fallback."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(dataset["documents"])
    media = spark.read.parquet(dataset["media"])
    direct, _ = run_extract(spark, _bucketed(docs), media, ExtractConfig())
    fallback, _ = run_extract(
        spark, _bucketed(docs), media.filter(F.col("media_ref").isNotNull()), ExtractConfig()
    )
    assert _collect_spans(direct) == _collect_spans(fallback)


@pytest.mark.parametrize("source", ["direct", "arrow"])
def test_text_span_naming_a_blob_stays_text(spark, tmp_path, source):
    """A text or HTML span whose media_ref names a real blob is a text
    span, as golden.extract_document gives it: kind 'text', its kernel's
    text and a null media_ref, whether or not a media span references the
    same blob. It decodes nothing: _metrics/ counts only the blob a media
    span references."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ocr_service_spark.golden import extract_document
    from ocr_service_spark.pipeline.checkpoint import read_output, run_resumable

    blobs = {"m1": _mk_blob(["alpha beta"]), "m2": _mk_blob(["gamma"])}
    pq.write_table(
        pa.table({"media_ref": list(blobs), "content": pa.array(list(blobs.values()), pa.binary())}),
        f"{tmp_path}/media.parquet",
    )
    spans = [
        {"kind": "media", "text": None, "media_ref": "m1", "offset": 0},
        {"kind": "text", "text": "shared  ref", "media_ref": "m1", "offset": 1},
        {"kind": "text", "text": "text  only", "media_ref": "m2", "offset": 2},
        {"kind": "html", "text": "<p>html  only</p>", "media_ref": "m2", "offset": 3},
    ]
    docs = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.read.parquet(f"{tmp_path}/media.parquet")
    if source == "arrow":
        media = media.filter(F.col("media_ref").isNotNull())

    out_dir = str(tmp_path / "out")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="guard"), n_buckets=4)
    got = _collect_spans(read_output(spark, out_dir))["d1"]
    want = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in extract_document(spans, blobs)]
    assert got == want
    assert [s[0] for s in got[1:]] == ["text", "text", "text"]
    assert all(s[2] is None for s in got[1:])
    n_blobs = spark.read.parquet(f"{out_dir}/_metrics").agg(F.sum("n_blobs")).collect()[0][0]
    assert n_blobs == 1
    refs = [r["media_ref"] for r in spark.read.parquet(f"{out_dir}/recognitions").collect()]
    assert refs == ["m1"]


def test_text_span_is_not_repeated_by_a_repeated_blob_row(spark):
    """A media table that holds one ref in two rows gives that ref two
    records. A text span naming the ref must still come out once: only a
    media span meets the records."""
    blob = bytearray(_mk_blob(["alpha beta"]))
    media = spark.createDataFrame(
        [("m1", blob), ("m1", blob)], "media_ref string, content binary"
    )
    docs = spark.createDataFrame(
        [("d1", [
            {"kind": "media", "text": None, "media_ref": "m1", "offset": 0},
            {"kind": "text", "text": "shared  ref", "media_ref": "m1", "offset": 1},
        ])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    output, _ = run_extract(spark, _bucketed(docs), media, ExtractConfig())
    got = _collect_spans(output)["d1"]
    assert [s for s in got if s[0] == "text"] == [("text", "shared ref", None, 1)]
