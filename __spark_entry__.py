"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``ocr_service_spark``; see SURVEY.md §2 for the
operator inventory these queries cover.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ocr_service_spark import queries as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved-document extraction pipeline (explode →
    kind-routed kernels → OCR cascade → ordered reassembly), flattened to
    one row per extracted span. Building it runs one Spark job, the
    collect of the documents' media references that picks the blobs to
    decode."""
    return _registry.extract_pipeline_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
