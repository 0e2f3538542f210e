"""Analytics operators beyond the extraction pipeline.

Each module exposes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent ANSI/DuckDB SQL). Column
names are aliased identically on both sides (driver compares value
hashes after sorting columns by name).
"""

from __future__ import annotations


def md5_bucket(salt: str, col, mod):
    """First 13 hex chars (52 bits) of the salted md5, mod ``mod`` — THE
    portable bucket-hash construction shared by the CMS, Bloom, and DSIR
    sketches (and mirrored by md5_bucket_sql on the oracle side).
    Salting — not disjoint digest slices — keeps the address space
    52-bit per hash so the modulus can grow with the corpus. ``mod``
    may be an int or a Column."""
    from pyspark.sql import functions as F

    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 13), 16, 10)
        .cast("long")
        % mod
    )


def md5_bucket_sql(salt_sql: str, col_sql: str, mod_sql) -> str:
    """DuckDB twin of md5_bucket; arguments are SQL expression strings."""
    return (
        f"CAST(concat('0x', substring(md5(concat({salt_sql}, {col_sql})), 1, 13)) "
        f"AS BIGINT) % {mod_sql}"
    )


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load(spark, sf_dir: str, name: str):
    return spark.read.parquet(table_path(sf_dir, name))


def parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf string ('16m', '128k', '1g', '134217728')."""
    s = str(s).strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def estimated_scan_partitions(df) -> int | None:
    """Estimated scan partition count for a file-backed frame from file
    sizes and spark.sql.files.maxPartitionBytes — WITHOUT df.rdd, which
    would force an RDD conversion of the whole plan. None for non-file
    frames."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    mpb = parse_size_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    return max(1, -(-total // max(1, mpb)))


_WIDE_STEPS = ("Aggregate", "Join", "Window", "Deduplicate", "Repartition")


def _has_wide_step(node) -> bool:
    """True when a wide step (_WIDE_STEPS) lies under the analyzed plan
    ``node`` and may set its output partitioning."""
    return any(k in node.nodeName() for k in _WIDE_STEPS) or any(
        _has_wide_step(node.children().apply(i)) for i in range(node.children().size())
    )


def widen(df):
    """Spread a narrow scan across all cores before CPU-heavy per-row
    expressions.

    Local parquet test files are a single row-group → a single input
    split → one task, which serializes shingling/hashing work that is
    embarrassingly parallel. At production scale inputs arrive in many
    splits and this is a no-op (partitions already ≥ parallelism), so the
    extra shuffle only exists where it buys a ~#cores speedup.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # if the plan already contains a wide step, its partitioning comes
    # from the caller's repartition or spark.sql.shuffle.partitions
    # (≥ parallelism in our sessions), so widening is a no-op — and for a
    # file-backed frame the scan estimate below would not see that step
    # and shuffle the rows a second time
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if _has_wide_step(analyzed):
            return df
        plan = analyzed.toString()
    except Exception:
        return df
    est = estimated_scan_partitions(df)
    if est is None:
        # Non-file frame. df.rdd.getNumPartitions() forces an RDD
        # conversion of the whole plan — fine for the local/test-sized
        # frames that reach here, a silent cost at scale.
        # defensive cap (round-4 review): the getNumPartitions probe is
        # job-free (partition METADATA, no execution) but df.rdd still
        # compiles the whole plan to an RDD on the driver. Allow it only
        # for LocalRelation/LogicalRDD roots — driver-created frames
        # (createDataFrame analyzes to LogicalRDD) whose plans are tiny
        # by construction. Any other narrow file-less frame (JDBC scan,
        # catalog source) skips widening rather than paying the
        # plan-compilation cost on an arbitrarily deep plan.
        if not any(k in plan for k in ("LocalRelation", "LogicalRDD")):
            return df
        est = df.rdd.getNumPartitions()  # narrow local frame: cheap probe
    if est < target:
        return df.repartition(target)
    return df
