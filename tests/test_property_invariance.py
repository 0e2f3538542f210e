"""Property: output span sequences are invariant to input partitioning and
row order (SURVEY.md §5.5 / §7 hard part (b))."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.pipeline.checkpoint import bucket_expr
from ocr_service_spark.pipeline.extract import load_inputs, run_extract


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def _bucketed(docs):
    return docs.withColumn("bucket", bucket_expr(8))


@pytest.fixture(scope="module")
def baseline(spark, dataset):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    out, _ = run_extract(spark, _bucketed(docs), media)
    return _seqs(out.collect())


@pytest.mark.parametrize("n_parts", [1, 3, 17])
def test_partition_count_invariance(spark, dataset, baseline, n_parts):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    out, _ = run_extract(spark, _bucketed(docs.repartition(n_parts)), media.repartition(n_parts))
    assert _seqs(out.collect()) == baseline


def test_row_order_invariance(spark, dataset, baseline):
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    shuffled = docs.orderBy(F.reverse(F.col("doc_id")))
    out, _ = run_extract(spark, _bucketed(shuffled), media.orderBy(F.rand(7)))
    assert _seqs(out.collect()) == baseline


def test_input_span_array_order_irrelevant(spark, dataset, baseline):
    # reverse each doc's span array — offsets still define the output order
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    reversed_docs = docs.select("doc_id", F.reverse("spans").alias("spans"))
    out, _ = run_extract(spark, _bucketed(reversed_docs), media)
    assert _seqs(out.collect()) == baseline
