"""Driver-contract gate, mirrored locally: every queries() entry must
match its DuckDB oracle (row count + columns + order-insensitive values)
at sf0.001. Rows-only entries must return rows."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_DIR = "/root/testdata/sf0.001"


def test_all_queries_match_oracle(spark):
    from check_oracle import run_checks

    failures = run_checks(spark, SF_DIR)
    assert failures == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "span_order"}


def test_registry_consistency():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every registered query is oracle-checked: the media kernels against
    # datagen-ground-truth sidecars (round 3; thumbnails via a
    # generation-time thumb_md5), extract_pipeline against its
    # golden.parquet, and — round 5 — structured_receipts against its
    # generation-time expected-record sidecar (receipts_expected.parquet).
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()
    # registry order is part of the driver contract: the driver reports
    # exactly the FIRST 50 entries, so queries._rotation_order pins the
    # two flagships and rotates the weakest-verified queries in behind them.
    import glob
    import json

    names = list(qs)
    assert names[0] == "extract_pipeline"
    assert names[1] == "structured_receipts"
    # the general rotation invariant, data-driven: the report window must
    # never WASTE a slot — a query with no clean row in any historical
    # driver CORRECTNESS report may sit outside the first 50 slots only
    # when the window is already saturated with never-reported queries
    # (no previously-green veteran holds a slot while one waits);
    # overflow rotates in on the next report.
    reported: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            reported |= set(json.load(fh))
    stranded = [n for n in names[50:] if n not in reported]
    if stranded:
        # staleness form: everything stranded must be at least as
        # recently verified as the most-recently-verified non-flagship
        # INSIDE the window (never-reported counts as round 0) — the
        # window always holds the weakest verification records
        from ocr_service_spark.queries import _report_history

        history = _report_history()
        strand_min = min(history.get(n, 0) for n in stranded)
        window_max = max(history.get(n, 0) for n in names[2:50])
        assert strand_min >= window_max, (
            f"stranded {stranded} (oldest clean round {strand_min}) wait "
            f"outside the window while a slot-holder has a newer clean "
            f"row (round {window_max})"
        )


def test_similarity_cache_eviction(spark, tmp_path):
    """_shared builds once per (session, sf_dir, name); a changed
    embeddings fingerprint rebuilds the entry and unpersists the stale
    frame, so a sweep over regenerated tables never pins a chain of dead
    persisted frames in executor storage. Other datasets are left alone,
    and clear_similarity_caches() releases everything."""
    import shutil

    from ocr_service_spark.ops.similarity import _shared, clear_similarity_caches

    ds, other = str(tmp_path / "ds"), str(tmp_path / "other")
    for d in (ds, other):
        os.makedirs(d)
        shutil.copy(os.path.join(SF_DIR, "embeddings.parquet"), d)
    builds = []

    def build():
        # a distinct plan per build: equal plans share one CacheManager
        # entry, and storageLevel would then hide the unpersist
        df = spark.range(len(builds) + 1).selectExpr("id AS shared_cache_probe")
        builds.append(df.persist())
        return df

    first = _shared(spark, ds, "probe", build)
    assert _shared(spark, ds, "probe", build) is first
    assert len(builds) == 1
    kept = _shared(spark, other, "probe", build)

    emb = os.path.join(ds, "embeddings.parquet")
    st = os.stat(emb)
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = _shared(spark, ds, "probe", build)
    assert second is not first and len(builds) == 3
    assert not first.storageLevel.useMemory  # unpersisted on rebuild
    assert kept.storageLevel.useMemory  # another sf_dir is untouched
    assert _shared(spark, other, "probe", build) is kept

    clear_similarity_caches()
    assert not any(df.storageLevel.useMemory for df in builds)


def test_ivf_pandas_matches_declarative(spark):
    """The default pandas-UDF argmax assignment and the declarative
    explode×K window-argmax must agree vector-for-vector (the float
    summation orders differ — BLAS matmul vs left-fold — so this pins
    that no assignment flips at oracle scale)."""
    from ocr_service_spark.ops.similarity import _ivf_cells, _ivf_cells_declarative

    fast = {
        r["vec_id"]: r["cid"]
        for r in _ivf_cells(spark, SF_DIR).select("vec_id", "cid").collect()
    }
    slow = {
        r["vec_id"]: r["cid"]
        for r in _ivf_cells_declarative(spark, SF_DIR)
        .select("vec_id", "cid")
        .collect()
    }
    assert fast == slow


def test_set_ops_forms_agree(spark):
    """The 2-exchange flag-aggregation default and the set-operator
    (intersect/subtract) form compute identical counts."""
    from ocr_service_spark.ops.relational import (
        q_user_set_ops,
        q_user_set_ops_operators,
    )

    fast = q_user_set_ops(spark, SF_DIR).collect()[0].asDict()
    ops = q_user_set_ops_operators(spark, SF_DIR).collect()[0].asDict()
    assert fast == ops
