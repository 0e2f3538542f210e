"""Measured shuffle-volume scaling audit (PLANS.md "Measured shuffle
scaling" section + SHUFFLE.json generator).

The plan audit (tools/plan_audit.py) counts exchanges; this tool
measures what actually moves THROUGH them: per-query shuffle-write
bytes from Spark's AppStatusStore, at two scale factors, and the growth
ratio against the input-row growth. A blocked/capped operator (LSH
buckets, banded range join, capped posting lists) must show shuffle
growing ~linearly with its driving table — if candidate generation were
quadratic, bytes would grow with the SQUARE of the input ratio and this
audit would catch it long before a 100 TB run does.

Each scale factor runs in a FRESH SparkSession so the per-module
model/cell caches (similarity.py) and persisted frames cannot bleed
bytes between measurements; within a session, per-query bytes are
snapshot deltas of the cumulative stage totals.

Usage: python tools/shuffle_audit.py [sf_small] [sf_big]
       (defaults /root/testdata/sf0.001 -> /root/testdata/sf0.1)
Writes SHUFFLE.json and prints the table body for the PLANS.md section.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# query -> driving table (whose row growth bounds a scalable op's
# shuffle growth; modest super-linearity from richer overlap structure
# in bigger corpora is expected, quadratic growth is the failure mode)
AUDIT = {
    # documents-driven (10x rows sf0.001 -> sf0.1)
    "token_stats": "documents",            # linear baseline
    "exact_dup_clusters": "documents",
    "minhash_lsh_buckets": "documents",
    "simhash_histogram": "documents",
    "ngram_jaccard_pairs": "documents",    # capped posting lists
    "duplicate_passages": "documents",     # capped posting lists
    "decontam_hits": "documents",          # broadcast bench side
    "dsir_weights": "documents",
    "tfidf_top_terms": "documents",
    "pmi_cooccurrence": "documents",       # row-local skipgram pairs
    "doc_chunks": "documents",             # pure projection: zero-shuffle
    "source_overlap_matrix": "documents",  # banded pairs -> source matrix (r4)
    "neardup_pagerank": "lsh_edges",       # capped-band edges, 1 shuffle/iter (r4)
    "minhash_lsh_recall": "documents",     # capped truth + capped candidates (r4)
    "quality_signal_corr": "documents",    # fixed-width moment summary (r4)
    "priority_sample": "documents",        # TakeOrdered top-(k+1), no global sort (r4)
    "frequent_ngrams": "documents",        # MG candidates + exact recount (r4)
    "curation_pipeline": "documents",      # composite funnel, per-stage aggs (r4)
    "token_budget_select": "documents",    # band-pruned per-source prefix (r5)
    "gopher_quality_rules": "documents",   # one scan, 8-number final agg (r5)
    "bm25_retrieval": "documents",         # query-term-filtered tf (r5)
    "winnowing_fingerprints": "documents", # row-local selection (r5)
    "rrf_hybrid_retrieval": "documents",   # two bounded arm pools (r5)
    "ks_drift": "documents",               # (source,value)-grid ECDFs (r5)
    "neardup_canonical": "documents",      # one fp-keyed window shuffle (r5)
    "ccnet_ppl_buckets": "documents",      # tf shuffle + per-lang ntile (r5)
    # full-registry widening (r5): every remaining single-plan batch query
    "span_explode_reassemble": "documents",
    "stratified_sample": "documents",
    "quality_scores": "documents",
    "langid_heuristic": "documents",
    "fingerprint_clusters": "documents",
    "corpus_curation": "documents",
    "pii_scrub_stats": "documents",
    "repetition_filter": "documents",
    "unigram_logprob": "documents",
    "cms_token_counts": "documents",
    "bloom_seen_probe": "documents",
    "sequence_packing": "documents",
    "source_mixture_weights": "documents",
    "minhash_signatures": "documents",
    "neardup_components": "documents",     # CC fixpoint: shuffle/iter, lineage truncated
    "leakage_safe_split": "documents",     # hashes the CC component id
    "token_entropy_zipf": "documents",     # one tf shuffle + stats windows (r5)
    "domain_cap_sample": "documents",      # salted two-stage top-k (r5)
    "neardup_triangles": "lsh_edges",      # capped-band ordered-triple join (r5)
    "lpa_communities": "lsh_edges",        # 2 bounded label rounds (r5)
    "semantic_decontam": "embeddings",     # broadcast panel, 1 row out per row in (r4)
    # embeddings-driven (4x)
    "embedding_neardup": "embeddings",     # corpus-sized LSH blocking
    "ann_lsh_buckets": "embeddings",
    "hard_negatives": "embeddings",        # panel broadcast + 2-level topk
    # embeddings-driven, round 4
    "ann_ivfpq_multiprobe": "embeddings",  # shared PQ panel + cell filters
    "kmeans_clusters": "embeddings",       # K=sqrt(n), 2-level model update
    "embedding_covariance": "embeddings",  # per-batch moment triangles (r5)
    "knn_bruteforce": "embeddings",
    "ann_lsh_probe": "embeddings",
    "ann_ivf_cells": "embeddings",
    "ann_ivf_probe": "embeddings",
    "ann_recall": "embeddings",
    "label_centroid_sizes": "embeddings",
    "pq_codes": "embeddings",
    "pq_adc_probe": "embeddings",
    "pq_recall": "embeddings",
    "ann_ivfpq_probe": "embeddings",
    "semantic_dedup": "embeddings",
    "ann_sq8_probe": "embeddings",         # 64-group stats + broadcast codes (r5)
    "rp_distortion": "embeddings",         # row-local matmul, panel-only pairs (r5)
    # lineitem-driven (100x)
    "hll_distinct": "lineitem",            # register sketch: 1 shuffle, m rows (r4)
    "pricing_summary": "lineitem",
    "parts_with_lineitems": "lineitem",
    "running_quantity": "lineitem",
    # orders/customer-driven (100x)
    "segment_order_stats": "customer",
    "shipping_priority": "customer",
    "customers_without_orders": "customer",
    "order_priority_cube": "orders",
    "qr_format_classify": "orders",
    "kmv_distinct_estimate": "orders",
    # events-driven (100x)
    "quantile_sketch": "events",           # mergeable W-counter sketch
    "range_join_event_pairs": "events",    # time-bucket blocking
    "asof_last_order": "events",
    "sessionization": "events",
    "zorder_locality": "events",           # two-phase prefix rank (r4)
    "timeseries_gapfill": "events",        # (type x bucket) summary + calendar (r4)
    "touch_attribution": "events",         # banded conv x touch join (r4)
    "hopping_window_counts": "events",     # 2x Expand + stats-sized agg (r5)
    "status_rollup": "events",
    "top_error_events": "events",
    "first_event_per_user": "events",
    "user_set_ops": "events",
    "value_percentiles": "events",
    "value_quartiles": "events",
    "user_event_pivot": "events",
    "event_props_json": "events",
    "funnel_conversion": "events",
    "retention_cohorts": "events",
    "psi_drift": "events",
    "ab_test": "events",
    "dq_checks": "events",
    "volume_anomalies": "events",
    "shuffle_key_skew": "events",
    "event_transitions": "events",         # per-user lead window + 2 tiny aggs (r5)
}


def _snapshot(spark) -> int:
    """Cumulative shuffle-write bytes across all stages so far. The
    status store is fed by an ASYNC listener queue — drain it first or
    a heavy query's tail bytes land in the next query's delta."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.Collections.emptyList()
    stages = store.stageList(empty, False, False, gw.new_array(jvm.double, 0), empty)
    total = 0
    it = stages.iterator()
    while it.hasNext():
        total += it.next().shuffleWriteBytes()
    return total


def _table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    if table == "lsh_edges":
        # the graph family's true input is the banded candidate-pair
        # edge table, not raw documents: richer overlap structure makes
        # it grow FASTER than the corpus (while the bucket cap bounds it
        # at bucket_cap x bands x corpus, i.e. still linear). Judging
        # edge-driven shuffles against document growth would flag a
        # constant per-edge cost as super-linear. Counted with DuckDB
        # via the same CTEs the oracles use.
        import duckdb

        from ocr_service_spark.ops.dedup import _ORACLE_LSH_CAND_CTES

        con = duckdb.connect()
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
        )
        return con.execute(
            f"WITH {_ORACLE_LSH_CAND_CTES} SELECT count(*) FROM cand"
        ).fetchone()[0]
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def measure(sf_dir: str, names=None) -> dict[str, int]:
    """One fresh session; per-query shuffle-write deltas."""
    from ocr_service_spark.queries import queries
    from ocr_service_spark.session import get_spark

    spark = get_spark(app_name=f"shuffle-audit-{os.path.basename(sf_dir)}")
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 2).repartition(cpus).mapInPandas(lambda it: it, "id long").count()
    qs = queries()
    out: dict[str, int] = {}
    for name in names or AUDIT:
        before = _snapshot(spark)
        qs[name](spark, sf_dir).collect()
        out[name] = _snapshot(spark) - before
    spark.stop()
    # drop model/persisted-frame caches keyed to the stopped session so a
    # multi-dataset sweep in one process never chains stale entries
    from ocr_service_spark.ops.similarity import clear_similarity_caches

    clear_similarity_caches()
    return out


def main() -> int:
    args = list(sys.argv[1:])
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = [n for n in args[i + 1].split(",") if n]
        del args[i : i + 2]
        unknown = set(only) - set(AUDIT)
        if unknown:
            print(f"--only names not in AUDIT: {sorted(unknown)}")
            return 2
    small = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    big = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    b_small = measure(small, only)
    b_big = measure(big, only)
    rows = []
    for name, table in AUDIT.items():
        if only is not None and name not in only:
            continue
        in_ratio = _table_rows(big, table) / max(_table_rows(small, table), 1)
        s, b = b_small[name], b_big[name]
        ratio = (b / s) if s else None
        # scalable = shuffle grows no faster than ~input x log-ish slack;
        # the hard failure is growth tracking the SQUARE of input
        verdict = (
            "zero-shuffle" if b == 0 else
            "n/a (tiny at small sf)" if s == 0 else
            "SUB-LINEAR" if ratio <= 0.8 * in_ratio else
            "~linear" if ratio <= 2.0 * in_ratio else
            "SUPER-LINEAR (investigate)" if ratio < 0.5 * in_ratio ** 2 else
            "QUADRATIC (broken)"
        )
        rows.append({
            "query": name, "table": table, "input_ratio": round(in_ratio, 1),
            "bytes_small": s, "bytes_big": b,
            "bytes_ratio": round(ratio, 2) if ratio is not None else None,
            "verdict": verdict,
        })
    path = os.path.join(REPO, "SHUFFLE.json")
    if only is not None and os.path.exists(path):
        # single-query refresh: splice the re-measured rows into the
        # committed audit (AUDIT order) instead of dropping the rest
        with open(path) as fh:
            doc = json.load(fh)
        merged = {r["query"]: r for r in doc.get("rows", [])}
        merged.update({r["query"]: r for r in rows})
        doc["rows"] = [merged[n] for n in AUDIT if n in merged]
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
    else:
        with open(path, "w") as fh:
            json.dump({"sf_small": small, "sf_big": big, "rows": rows}, fh, indent=1)
    w = max(len(r["query"]) for r in rows)
    print(f"{'query':{w}}  table       in-ratio  bytes@small  bytes@big  ratio  verdict")
    for r in rows:
        br = "-" if r["bytes_ratio"] is None else f"{r['bytes_ratio']:.2f}"
        print(
            f"{r['query']:{w}}  {r['table']:<10}  {r['input_ratio']:8}  "
            f"{r['bytes_small']:11,}  {r['bytes_big']:9,}  {br:>5}  {r['verdict']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
