"""A malformed blob fails its span, never its task or the job: a
checkpointed run over a corpus with one poisoned SIMG blob completes on
both blob sources (direct parquet read and the Arrow fallback)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.datagen import generate
from ocr_service_spark.kernels.media import encode_simg
from ocr_service_spark.pipeline.checkpoint import read_output, run_resumable
from ocr_service_spark.pipeline.extract import load_inputs


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def _truncated(blob: bytes) -> bytes:
    return blob[:-10]


def _one_pixel(blob: bytes) -> bytes:
    return encode_simg({"h": 1, "w": 1}, np.zeros((1, 1), np.uint8))


@pytest.fixture(scope="module", params=[_truncated, _one_pixel], ids=["truncated", "one_pixel"])
def poisoned_corpus(request, tmp_path_factory):
    """40-doc datagen corpus with its third blob poisoned. Both poisons
    pass the magic-byte gate: a truncated pixel payload no longer
    decodes, and a 1x1 SIMG decodes but breaks the alignment warp."""
    data_dir = str(tmp_path_factory.mktemp("poisoned"))
    paths = generate(data_dir, 40, seed=5)
    media = pq.read_table(paths["media"])
    content = media.column("content").to_pylist()
    ref = media.column("media_ref")[2].as_py()
    content[2] = request.param(content[2])
    media = media.set_column(
        media.schema.get_field_index("content"), "content", pa.array(content, pa.binary())
    )
    pq.write_table(media, paths["media"], row_group_size=16)
    return data_dir, ref


@pytest.mark.parametrize("direct", [True, False], ids=["split_source", "arrow_source"])
def test_poisoned_blob_fails_span_not_job(spark, poisoned_corpus, tmp_path, direct):
    data_dir, ref = poisoned_corpus
    docs, media = load_inputs(spark, data_dir)
    if not direct:
        # a non-bare frame: the media branch takes the Arrow fallback
        media = media.filter(F.col("media_ref").isNotNull())
    out_dir = str(tmp_path / "run")
    cfg = ExtractConfig(run_id="poison")
    s = run_resumable(spark, docs, media, out_dir, cfg, n_buckets=4)
    assert s["processed_docs"] == docs.count()

    got = _seqs(read_output(spark, out_dir).collect())
    golden = _seqs(spark.read.parquet(f"{data_dir}/golden.parquet").collect())
    assert got.keys() == golden.keys()
    poisoned = {d for d, spans in golden.items() if any(sp[2] == ref for sp in spans)}
    assert poisoned
    for doc_id, spans in golden.items():
        if doc_id in poisoned:
            spans = [
                ("media_text", None, r, o) if r == ref else (k, t, r, o)
                for k, t, r, o in spans
            ]
        assert got[doc_id] == spans, doc_id

    rec = spark.read.parquet(f"{out_dir}/recognitions")
    assert rec.count() == media.count()
    bad = rec.filter(F.col("media_ref") == ref).collect()
    assert len(bad) == 1
    assert bad[0]["status"] == "failed" and bad[0]["error"] is not None
    assert rec.filter(F.col("status") == "failed").count() == 1
