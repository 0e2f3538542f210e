"""A malformed blob fails its span, never its task or the job: a
checkpointed run over a corpus with one poisoned SIMG blob completes on
both blob sources (direct parquet read and the Arrow fallback)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.datagen import generate
from ocr_service_spark.pipeline.checkpoint import read_output, run_resumable
from ocr_service_spark.pipeline.extract import load_inputs, write_split_manifest


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


@pytest.fixture(scope="module")
def poisoned_corpus(tmp_path_factory):
    """40-doc datagen corpus whose third blob has its pixel payload cut
    short: it still passes the magic-byte gate but no longer decodes."""
    data_dir = str(tmp_path_factory.mktemp("poisoned"))
    paths = generate(data_dir, 40, seed=5)
    media = pq.read_table(paths["media"])
    content = media.column("content").to_pylist()
    ref = media.column("media_ref")[2].as_py()
    content[2] = content[2][:-10]
    media = media.set_column(
        media.schema.get_field_index("content"), "content", pa.array(content, pa.binary())
    )
    pq.write_table(media, paths["media"], row_group_size=16)
    write_split_manifest(paths["media"])
    return data_dir, ref


@pytest.mark.parametrize("direct", [True, False], ids=["split_source", "arrow_source"])
def test_poisoned_blob_fails_span_not_job(spark, poisoned_corpus, tmp_path, direct):
    data_dir, ref = poisoned_corpus
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "run")
    cfg = ExtractConfig(run_id="poison", direct_blob_read=direct)
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
