"""Iceberg table surface (catalog wiring, MERGE-based checkpointing).

The north rule's input is "an Iceberg table of interleaved documents";
everything in this engine speaks plain parquet paths by default because
this container ships no iceberg-spark runtime jar (and no network to
fetch one). This module is the complete catalog integration, gated on
the runtime's presence:

- `iceberg_confs` — SparkSession conf block for a local hadoop catalog
  (the standard no-metastore layout; on a cluster the same confs point
  at a REST/Glue/Hive catalog).
- `iceberg_available` — detects the runtime on the JVM classpath.
- `write_output` / `merge_checkpoint` — the S5 results sink as an
  Iceberg append and the S6 checkpoint as a real `MERGE INTO`
  (upsert-by-bucket), replacing the dynamic-partition-overwrite +
  append-lineage emulation in checkpoint.py.

An Iceberg media table is not a bare parquet scan, so extract.py's
`_media_results` reads its blobs through the Arrow fallback.

`tests/test_iceberg_surface.py` runs the full resume flow against a
hadoop catalog when the runtime jar is present and skips cleanly here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CATALOG = "local"


def iceberg_confs(warehouse: str, catalog: str = CATALOG) -> dict[str, str]:
    """SparkSession conf block for a filesystem ("hadoop") Iceberg
    catalog rooted at `warehouse`. Pass to get_spark(extra_conf=...)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def require_iceberg(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark runtime not on the classpath: add "
            "iceberg-spark-runtime-3.5_2.13 (or the matching Spark build) "
            "via --packages/--jars and pass iceberg_confs() to the session"
        )


def ensure_namespace(spark: SparkSession, catalog: str = CATALOG) -> None:
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.ocr")


def write_output(
    output_b: DataFrame, catalog: str = CATALOG, table: str = "ocr.extracted"
) -> None:
    """S5 results sink: append extracted spans (bucket column included)
    to the Iceberg table, creating it partitioned by bucket on first
    write (Iceberg hidden partitioning — readers never see the layout)."""
    spark = output_b.sparkSession
    require_iceberg(spark)
    ensure_namespace(spark, catalog)
    full = f"{catalog}.{table}"
    if not spark.catalog.tableExists(full):
        output_b.writeTo(full).partitionedBy("bucket").create()
    else:
        # idempotent bucket re-run: overwritePartitions replaces exactly
        # the partitions present in output_b in ONE Iceberg commit —
        # concurrent readers see either the old or the new bucket rows,
        # never a bucket mid-replace, and a crash leaves the previous
        # snapshot intact (a separate DELETE + append would be two
        # commits with a deleted-but-unwritten window between them)
        output_b.writeTo(full).overwritePartitions()


def merge_checkpoint(
    lineage: DataFrame, catalog: str = CATALOG, table: str = "ocr.checkpoint"
) -> None:
    """S6 work-queue state: MERGE the bucket lineage rows into the
    checkpoint table — the real upsert the parquet path emulates with
    append + read-distinct (checkpoint.py)."""
    spark = lineage.sparkSession
    require_iceberg(spark)
    ensure_namespace(spark, catalog)
    full = f"{catalog}.{table}"
    if not spark.catalog.tableExists(full):
        lineage.writeTo(full).create()
        return
    lineage.createOrReplaceTempView("_new_lineage")
    spark.sql(
        f"""
        MERGE INTO {full} t
        USING _new_lineage s
        ON t.partition_key = s.partition_key
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )


def completed_buckets(
    spark: SparkSession, catalog: str = CATALOG, table: str = "ocr.checkpoint"
) -> DataFrame | None:
    full = f"{catalog}.{table}"
    if not spark.catalog.tableExists(full):
        return None
    from pyspark.sql import functions as F

    return (
        spark.table(full)
        .filter(F.col("status") == "completed")
        .select(F.col("partition_key").cast("int").alias("bucket"))
        .distinct()
    )

