"""Relational/dataflow operators (SURVEY.md §2.4 Q1-Q10 + §2.5).

The reference's implicit relational surface — FK joins, projections,
status counts, rollups, top-N, dedup-by-window — re-expressed as
declarative DataFrame plans so Catalyst handles pushdown, join
strategy, and partial aggregation. Broadcast hints are applied where a
dimension side is small by construction (customer/supplier vs orders/
lineitem), mirroring what a 100 TB run needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from . import load


# Q1-style aggregation (pricing summary): groupBy + 8 partial-aggregable
# aggs — map-side combine makes this shuffle-light at any scale.
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# FK join images↔recognitions analog (Q2): dim side broadcast.
def q_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


_ORACLE_SEGMENT = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       count(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# 3-way join + top-N (TPC-H Q3 shape).
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", F.col("o_orderdate").cast("string").alias("orderdate"), "revenue")
    )


_ORACLE_SHIPPING = """
SELECT l_orderkey,
       CAST(o_orderdate AS VARCHAR) AS orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# group-by-status stats with rollup total (visualizer fold, Q5;
# reference services/visualizer/src/event_listener.py:156-167)
def q_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce("event_type", F.lit("__total__")).alias("event_type"),
            "n",
            "total_value",
        )
    )


_ORACLE_ROLLUP = """
SELECT coalesce(event_type, '__total__') AS event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY ROLLUP (event_type)
"""


# filter + order-by + limit (job list, Q6;
# reference event_listener.py:124-149)
def q_top_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .orderBy(F.desc("value"), "event_id")
        .limit(20)
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


_ORACLE_TOP_ERRORS = """
SELECT event_id, user_id, round(value, 2) AS value
FROM events
WHERE event_type = 'error'
ORDER BY value DESC, event_id
LIMIT 20
"""


# dedup + ordered reassembly (pipeline view, Q7;
# reference services/visualizer/src/ui/pipeline_view.py:79-101)
def q_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


_ORACLE_FIRST_EVENT = """
SELECT user_id, event_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


# anti join: the checkpoint-resume primitive (SURVEY.md §2.5 "Joins").
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


_ORACLE_ANTI = """
SELECT count(*) AS n_customers_without_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# semi join.
def q_parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


_ORACLE_SEMI = """
SELECT p_brand, count(*) AS n_parts
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""


# window running aggregate (needed for ordered reassembly patterns).
def q_running_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "running_qty",
            F.round(F.sum("l_quantity").over(w.rowsBetween(W.unboundedPreceding, 0)), 2),
        )
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "rn", "running_qty")
    )


_ORACLE_RUNNING = """
SELECT l_suppkey, rn, running_qty
FROM (
  SELECT l_suppkey,
         row_number() OVER w AS rn,
         round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
)
WHERE rn <= 3
"""


# QR payload format classification (R4, pure string predicates —
# reference services/gateway/src/services/processor.ts:341-355) applied
# to deterministic synthetic payloads derived from orders.
_PAYLOAD_EXPR = """
CASE o_orderkey % 4
  WHEN 0 THEN concat('t=2024&s=', o_custkey, '&fn=', o_orderkey, '&fp=1')
  WHEN 1 THEN concat('https://shop.example/r/', o_orderkey)
  WHEN 2 THEN concat('t=2024&s=', o_custkey)
  ELSE o_orderpriority
END
"""


def q_qr_format_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    payload = F.expr(_PAYLOAD_EXPR)
    fmt = (
        F.when(
            payload.contains("fn=")
            | (payload.contains("t=") & payload.contains("s=") & payload.contains("fp=")),
            "fiscal",
        )
        .when(payload.startswith("http://") | payload.startswith("https://"), "url")
        .otherwise("unknown")
    )
    return orders.select(fmt.alias("qr_format")).groupBy("qr_format").agg(
        F.count("*").alias("n")
    )


_ORACLE_QR = f"""
WITH payloads AS (SELECT {_PAYLOAD_EXPR} AS p FROM orders)
SELECT CASE
         WHEN contains(p, 'fn=') OR (contains(p, 't=') AND contains(p, 's=') AND contains(p, 'fp=')) THEN 'fiscal'
         WHEN starts_with(p, 'http://') OR starts_with(p, 'https://') THEN 'url'
         ELSE 'unknown'
       END AS qr_format,
       count(*) AS n
FROM payloads
GROUP BY 1
"""


# span explode → ordered reassembly, the structural core of the
# extraction pipeline (Q7 pattern: sort_array(collect_list(struct(...))))
# expressed on the driver's documents table: split text into word spans,
# explode with position, reassemble in REVERSE order.
def q_span_explode_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    return (
        words.groupBy("doc_id")
        .agg(
            F.array_join(
                F.reverse(F.array_sort(F.collect_list(F.struct("pos", "word")))).word,
                " ",
            ).alias("reversed_text"),
            F.count("*").alias("n_spans"),
        )
    )


_ORACLE_REASSEMBLE = """
SELECT doc_id,
       string_agg(word, ' ' ORDER BY pos DESC) AS reversed_text,
       count(*) AS n_spans
FROM (
  SELECT doc_id, u.word, u.pos
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                       generate_subscripts(string_split(text, ' '), 1) AS pos) u
)
GROUP BY doc_id
"""


# --- as-of join (temporal: latest order at-or-before each event) -------------
# Spark lacks a native AS-OF join; the scalable re-expression is the
# union-sort-window shape: tag both streams, union on (key, time), one
# window pass carrying the last order forward. One shuffle on the key,
# no per-key explosion, no range cross-join — the layout that holds at
# 100 TB (a broadcast-range or per-key collect variant would not).
def q_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the most recent order (o_orderdate <= ts) of
    customer user_id; ties on date broken by highest o_orderkey.
    Returns a per-user aggregate so the result is compact."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("kind"),  # orders sort before events at equal time
        "o_orderkey",
        "o_totalprice",
        F.lit(None).cast("long").alias("event_id"),
    )
    events = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
    )
    w = (
        W.partitionBy("key")
        .orderBy("t", "kind", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    joined = (
        orders.unionByName(events)
        .select(
            "key",
            "kind",
            "event_id",
            F.last("o_orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
            F.last("o_totalprice", ignorenulls=True).over(w).alias("last_price"),
        )
        .filter(F.col("kind") == 1)
    )
    return joined.groupBy(F.col("key").alias("user_id")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("last_orderkey").isNotNull(), 1).otherwise(0)).alias(
            "n_matched"
        ),
        F.max("last_orderkey").alias("max_last_orderkey"),
        F.round(F.sum("last_price"), 2).alias("sum_last_price"),
    )


_ORACLE_ASOF = """
WITH matched AS (
  SELECT e.user_id, e.event_id,
         (SELECT o.o_orderkey FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_orderkey,
         (SELECT o.o_totalprice FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_price
  FROM events e
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN last_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       max(last_orderkey) AS max_last_orderkey,
       round(sum(last_price), 2) AS sum_last_price
FROM matched
GROUP BY user_id
"""


# --- grouping sets: CUBE over (status, priority) ------------------------------
def q_order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four grouping combinations in one
    pass (partial-aggregable — Spark expands to grouping sets with
    map-side combine, no extra scans)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),  # must live inside the agg
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


_ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- set operations: INTERSECT / EXCEPT ---------------------------------------
def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who clicked ∩ purchased, clicked ∖ purchased, purchased ∖
    clicked. Default path: ONE pass — groupBy(user).agg(has_click,
    has_buy) then flag-combo counts (2 exchanges; partial aggregation
    map-side). The set-OPERATOR form (intersect/subtract, 11 exchanges)
    is q_user_set_ops_operators, kept for operator-class coverage and
    pinned equal by test_set_ops_forms_agree; the DuckDB oracle uses
    INTERSECT/EXCEPT, so the fast form is verified against real set
    semantics."""
    ev = load(spark, sf_dir, "events")
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("c"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("b"),
        )
    )
    # coalesce: sum over zero rows is NULL, but the set-operator form and
    # the INTERSECT/EXCEPT oracle both count an empty input as 0
    def n(cond, name):
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long")).alias(name)

    return flags.agg(
        n((F.col("c") == 1) & (F.col("b") == 1), "n_both"),
        n((F.col("c") == 1) & (F.col("b") == 0), "n_click_only"),
        n((F.col("c") == 0) & (F.col("b") == 1), "n_buy_only"),
    )


def q_user_set_ops_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same three counts via the set OPERATORS (intersect/subtract —
    distinct-set semantics, one aggregation-sized exchange per leg)."""
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    n_both = clickers.intersect(buyers).agg(F.count("*").alias("n_both"))
    n_click = clickers.subtract(buyers).agg(F.count("*").alias("n_click_only"))
    n_buy = buyers.subtract(clickers).agg(F.count("*").alias("n_buy_only"))
    return n_both.crossJoin(n_click).crossJoin(n_buy)


_ORACLE_SETOPS = """
SELECT (SELECT count(*) FROM (
          SELECT user_id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_both,
       (SELECT count(*) FROM (
          SELECT user_id FROM events WHERE event_type = 'click'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_click_only,
       (SELECT count(*) FROM (
          SELECT user_id FROM events WHERE event_type = 'purchase'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'click')) AS n_buy_only
"""


# --- ntile quartiles (window-function class beyond row_number/lag/sum) --------
def q_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quartiles via ntile(4): count plus value
    range of each quartile bucket (deterministic tie-break on event_id)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("q", F.ntile(4).over(w))
        .groupBy("event_type", "q")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


_ORACLE_QUARTILES = """
SELECT event_type, q, count(*) AS n,
       round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM (SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
      FROM events)
GROUP BY event_type, q
"""


# --- exact percentiles --------------------------------------------------------
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type
    (`percentile`, the exact form — approx_percentile's sketch would not
    be oracle-comparable)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )


_ORACLE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


# --- pivot --------------------------------------------------------------------
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts pivoted to one column per type. The pivot
    value list is EXPLICIT — with it, Spark pivots in a single pass
    (no extra distinct-values job), the shape that scales."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, list(_EVENT_TYPES))
    )


_ORACLE_PIVOT = f"""
SELECT user_id,
       {", ".join(
           f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
           for t in _EVENT_TYPES
       )}
FROM events
GROUP BY user_id
"""


# --- banded range join --------------------------------------------------------
RANGE_GAP_S = 1800  # 30-minute band


def q_range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered same-user event pairs within a 30-minute band — a banded
    range SELF-join. Scale shape: bucket time into 30-min epochs and
    equi-join on (user, bucket) with the predecessor's bucket and its
    successor, then exact-filter — candidate pairs are bounded by band
    population, never the O(n²) time cross product a raw ts-inequality
    join would plan."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("es")
    )
    bucket = (F.col("es") / RANGE_GAP_S).cast("long")
    a = ev.withColumn("b", bucket).alias("a")
    # the LATER side is replicated into its own and PREVIOUS bucket: any
    # pair with 0 < es_b - es_a <= gap has b_a ∈ {b_b - 1, b_b}, so the
    # pair meets in a's bucket exactly once
    b_side = (
        ev.withColumn("b0", bucket)
        .withColumn("b", F.explode(F.array(F.col("b0") - 1, F.col("b0"))))
        .drop("b0")
        .alias("b")
    )
    pairs = a.join(
        b_side,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.b") == F.col("b.b"))
        & (F.col("b.es") > F.col("a.es"))
        & (F.col("b.es") - F.col("a.es") <= RANGE_GAP_S),
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.max(F.col("b.es") - F.col("a.es")).alias("max_gap_s"),
    )


# floor(epoch(..)) mirrors Spark's unix_timestamp second-truncation
_ORACLE_RANGE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
)
SELECT a.user_id,
       count(*) AS n_pairs,
       max(b.es - a.es) AS max_gap_s
FROM e a
JOIN e b
  ON b.user_id = a.user_id
 AND b.es > a.es
 AND b.es - a.es <= {RANGE_GAP_S}
GROUP BY a.user_id
"""


# --- KMV distinct sketch ------------------------------------------------------
KMV_K = 64


def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (k minimum values) distinct-count sketch over
    order keys: keep the K smallest md5 hashes; estimate = (K-1) /
    kth_min (hashes mapped to (0,1]). Unlike HLL (approx_count_distinct),
    the sketch is a pure function of the data, so the DuckDB oracle
    computes the identical estimate — and the min-K set is exactly the
    mergeable summary a 100 TB scan would reduce per partition."""
    orders = load(spark, sf_dir, "orders")
    # 13 hex chars = 52 bits < double's 53-bit mantissa → the integer and
    # the /2^52 scaling are both EXACT, so Spark and DuckDB compute
    # bit-identical u values
    hashed = orders.select(
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10)
            .cast("double")
            / F.lit(float(16 ** 13))
        ).alias("u")
    )
    kth = (
        hashed.orderBy("u")
        .limit(KMV_K)
        .agg(F.max("u").alias("kth"), F.count("*").alias("k"))
    )
    return kth.select(
        F.col("k").alias("k"),
        F.round((F.col("k") - 1) / F.col("kth"), 2).alias("distinct_estimate"),
    )


_ORACLE_KMV = f"""
WITH hashed AS (
  SELECT CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)
         / CAST(POWER(16, 13) AS DOUBLE) AS u
  FROM orders
),
mink AS (SELECT u FROM hashed ORDER BY u LIMIT {KMV_K})
SELECT count(*) AS k,
       round((count(*) - 1) / max(u), 2) AS distinct_estimate
FROM mink
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "segment_order_stats": q_segment_order_stats,
    "shipping_priority": q_shipping_priority,
    "status_rollup": q_status_rollup,
    "top_error_events": q_top_error_events,
    "first_event_per_user": q_first_event_per_user,
    "customers_without_orders": q_customers_without_orders,
    "parts_with_lineitems": q_parts_with_lineitems,
    "running_quantity": q_running_quantity,
    "qr_format_classify": q_qr_format_classify,
    "span_explode_reassemble": q_span_explode_reassemble,
    "asof_last_order": q_asof_last_order,
    "order_priority_cube": q_order_priority_cube,
    "user_set_ops": q_user_set_ops,
    "value_percentiles": q_value_percentiles,
    "value_quartiles": q_value_quartiles,
    "user_event_pivot": q_user_event_pivot,
    "range_join_event_pairs": q_range_join_event_pairs,
    "kmv_distinct_estimate": q_kmv_distinct_estimate,
}

ORACLES = {
    "pricing_summary": _ORACLE_PRICING,
    "segment_order_stats": _ORACLE_SEGMENT,
    "shipping_priority": _ORACLE_SHIPPING,
    "status_rollup": _ORACLE_ROLLUP,
    "top_error_events": _ORACLE_TOP_ERRORS,
    "first_event_per_user": _ORACLE_FIRST_EVENT,
    "customers_without_orders": _ORACLE_ANTI,
    "parts_with_lineitems": _ORACLE_SEMI,
    "running_quantity": _ORACLE_RUNNING,
    "qr_format_classify": _ORACLE_QR,
    "span_explode_reassemble": _ORACLE_REASSEMBLE,
    "asof_last_order": _ORACLE_ASOF,
    "order_priority_cube": _ORACLE_CUBE,
    "user_set_ops": _ORACLE_SETOPS,
    "value_percentiles": _ORACLE_PERCENTILES,
    "value_quartiles": _ORACLE_QUARTILES,
    "user_event_pivot": _ORACLE_PIVOT,
    "range_join_event_pairs": _ORACLE_RANGE,
    "kmv_distinct_estimate": _ORACLE_KMV,
}


# --- mergeable quantile sketch ----------------------------------------------
# Completes the mergeable-summary family (KMV distinct, CMS counts,
# Bloom membership): a fixed-width histogram whose buckets merge by
# ADDITION from any partitioning — the quantile summary a 100 TB
# pipeline keeps when exact percentile's full sort/collect per group is
# too wide. Estimates interpolate inside the crossing bucket; the query
# itself measures estimate-vs-exact error rather than assuming the
# sketch is good enough.
QSKETCH_W = 128                      # histogram buckets
QSKETCH_QS = (0.5, 0.9, 0.99)        # probed quantiles


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of event value with measured error:
    one scalar agg for (n, lo, hi), one groupBy(bucket) building the
    W-counter sketch (mergeable by addition, like the CMS rows), a
    cumulative sum over the W-row frame, then linear interpolation at
    the crossing bucket for each probed q — compared against the exact
    interpolated percentile in the same output row. All bucket/rank
    arithmetic is plain double expressions, identical on both engines."""
    ev = load(spark, sf_dir, "events").select("value")
    bounds = ev.agg(
        F.count("*").alias("n"), F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    # +1e-9 keeps the width strictly positive when every value is
    # identical (ANSI mode would otherwise raise divide-by-zero); the
    # oracle carries the same epsilon so bucket arithmetic stays twin
    width = (F.col("hi") - F.col("lo") + F.lit(1e-9)) / F.lit(QSKETCH_W)
    hist = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(QSKETCH_W - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("bc"))
    )
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("bc").over(wcum)).withColumn(
        "cum_prev", F.col("cum") - F.col("bc")
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in QSKETCH_QS])).alias("q")
    )
    cand = (
        qs.crossJoin(cum.crossJoin(F.broadcast(bounds)))
        .withColumn("target", F.col("q") * F.col("n"))
        .filter(F.col("cum") >= F.col("target"))
    )
    wfirst = W.partitionBy("q").orderBy("bucket")
    est = (
        cand.withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .select(
            "q",
            F.round(
                F.col("lo")
                + ((F.col("hi") - F.col("lo") + F.lit(1e-9)) / F.lit(QSKETCH_W))
                * (
                    F.col("bucket")
                    + (F.col("target") - F.col("cum_prev")) / F.col("bc")
                ),
                6,
            ).alias("est"),
        )
    )
    exact = ev.agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"e{i}")
            for i, q in enumerate(QSKETCH_QS)
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"e{i}").alias("exact_v")
                    )
                    for i, q in enumerate(QSKETCH_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact_v")
    return (
        est.join(exact, "q")
        .select(
            "q",
            "est",
            "exact_v",
            F.round(F.abs(F.col("est") - F.col("exact_v")), 6).alias("abs_err"),
        )
    )


_ORACLE_QSKETCH = f"""
WITH bounds AS (SELECT count(*) AS n, min(value) AS lo, max(value) AS hi
                FROM events),
hist AS (
  SELECT least(CAST(floor((value - lo) / ((hi - lo + 1e-9) / {QSKETCH_W})) AS INT),
               {QSKETCH_W - 1}) AS bucket,
         count(*) AS bc
  FROM events CROSS JOIN bounds
  GROUP BY 1
),
cum AS (
  SELECT bucket, bc,
         sum(bc) OVER (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
qs AS (SELECT CAST(unnest([{", ".join(str(q) for q in QSKETCH_QS)}]) AS DOUBLE) AS q),
cand AS (
  SELECT q, bucket, bc, cum, cum - bc AS cum_prev, q * n AS target, lo, hi,
         row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn
  FROM qs CROSS JOIN cum CROSS JOIN bounds
  WHERE cum >= q * n
),
est AS (
  SELECT q,
         round(lo + ((hi - lo + 1e-9) / {QSKETCH_W})
                    * (bucket + (target - cum_prev) / bc), 6) AS est
  FROM cand WHERE rn = 1
),
exact AS (
  SELECT CAST(unnest([{", ".join(str(q) for q in QSKETCH_QS)}]) AS DOUBLE) AS q,
         unnest([{", ".join(f"round(quantile_cont(value, {q}), 6)" for q in QSKETCH_QS)}]) AS exact_v
  FROM events
)
SELECT est.q, est.est, exact.exact_v,
       round(abs(est.est - exact.exact_v), 6) AS abs_err
FROM est JOIN exact USING (q)
"""


EXTRA_QUERIES = {"quantile_sketch": q_quantile_sketch}
EXTRA_ORACLES = {"quantile_sketch": _ORACLE_QSKETCH}


# --- Z-order layout locality ------------------------------------------------
# Storage-layout optimization as a measurable query: at 100 TB the
# difference between a table in natural (time/insertion) order and one
# clustered on a Z-order (Morton) curve is how many row groups a 2-D
# box predicate can SKIP via min/max statistics. This operator measures
# that directly: bucket (user_id, ts) into a 16x16 grid, cut each
# layout into equal-size blocks (the row-group analogue), compute each
# block's min/max bounding box — the exact statistics a parquet/Iceberg
# reader prunes with — and count how many blocks EVERY possible
# ZQ x ZQ box query would have to scan under each layout.
ZORDER_BITS = 4          # per-dimension bits -> 16x16 grid, 8-bit Morton code
ZORDER_BLOCKS = 64       # "row groups" per layout
ZORDER_Q = 4             # box-query side length, in grid cells


def _zorder_bucket(col, lo, hi, bits: int):
    """Equi-width bucket of col into [0, 2^bits) using only double
    arithmetic shared by both engines."""
    n = 1 << bits
    return F.least(
        F.floor((col - lo) / ((hi - lo + 1e-9) / n)).cast("int"), F.lit(n - 1)
    )


def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning quality of Z-order clustering vs natural time order,
    as blocks-scanned-per-box-query. Natural-order blocks are narrow in
    time but span ALL users, so any user-selective predicate intersects
    every block in its time window; Z-order blocks bound ~square grid
    regions, pruning both dimensions (here: 16.7 vs 10.1 of 64 blocks
    at sf0.01 — a gap that widens with grid resolution and query
    selectivity, which is exactly the lakehouse OPTIMIZE ZORDER BY
    argument). Shapes: one bounds aggregate; each layout's global rank
    is the TWO-PHASE distributed prefix rank (packing.py's shape — a
    global no-partitionBy row_number window would sort the whole corpus
    in one reducer): rows bucket by a key-monotone column (zkey itself
    for the Z-order layout, a 256-cell equi-width time bucket for the
    natural layout), per-bucket counts collect to the driver (≤256 rows
    — model-update-sized), and the within-bucket rank window runs one
    partition per bucket in parallel; rank = bucket offset + local rank,
    exactly the global rank because buckets are monotone in the sort
    key. That feeds a 64-row block-stats aggregate, then the block ×
    query-grid cross join is 64 × 169 rows — everything after the
    corpus scan is statistics-sized or bucket-parallel."""
    n_grid = 1 << ZORDER_BITS
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("tsu")
    )
    bounds = ev.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min("tsu").alias("tlo"), F.max("tsu").alias("thi"),
        F.count("*").alias("n"),
    )
    g = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", "n", "tsu",
        _zorder_bucket(F.col("user_id"), F.col("ulo"), F.col("uhi"), ZORDER_BITS).alias("ub"),
        _zorder_bucket(F.col("tsu"), F.col("tlo"), F.col("thi"), ZORDER_BITS).alias("tb"),
        # fine (256-cell) time bucket: the natural layout's prefix-rank
        # bucket — monotone in tsu, so bucket offsets + local rank
        # reproduce the global (tsu, event_id) rank exactly
        _zorder_bucket(F.col("tsu"), F.col("tlo"), F.col("thi"), 2 * ZORDER_BITS).alias("tbf"),
    )
    # Morton interleave via plain integer arithmetic (identical
    # expression on the oracle side; no engine-specific bit builtins)
    z = sum(
        (
            (F.shiftright("ub", k).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * k + 1)))
            + (F.shiftright("tb", k).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * k)))
        )
        for k in range(ZORDER_BITS)
    )
    # materialized once: both layouts' partial-count jobs and the final
    # union re-read this 6-ints/event projection instead of re-scanning
    # and re-bucketing the corpus four times (packing.py's tradeoff note)
    keyed = g.select(
        "event_id", "n", "ub", "tb", "tbf", "tsu", z.alias("zkey")
    ).localCheckpoint(eager=False)  # materializes with the first partials job
    npos = n_grid - ZORDER_Q + 1
    qs = spark.range(npos).select(F.col("id").cast("int").alias("qu")).crossJoin(
        spark.range(npos).select(F.col("id").cast("int").alias("qt"))
    )

    def _two_phase_rank(bucket_name: str, order_cols) -> DataFrame:
        """Global rank by (bucket, *order_cols) without a global window:
        per-bucket counts -> driver exclusive prefix (≤256 rows) ->
        bucket-parallel local row_number + broadcast offset."""
        partials = keyed.groupBy(bucket_name).agg(F.count("*").alias("cnt")).collect()
        run = 0
        offsets = []
        for r in sorted(partials, key=lambda r: r[bucket_name]):
            offsets.append((r[bucket_name], run))
            run += r["cnt"]
        off = spark.createDataFrame(offsets, f"{bucket_name} int, boff long")
        w = W.partitionBy(bucket_name).orderBy(*order_cols)
        return keyed.join(F.broadcast(off), bucket_name).withColumn(
            "rk", F.col("boff") + F.row_number().over(w)
        )

    layouts = []
    for name, bucket_name, order in (
        # zkey IS the bucket (256 Morton values); within a bucket the
        # residual order key is event_id alone
        ("zorder", "zkey", [F.col("event_id")]),
        ("natural", "tbf", [F.col("tsu"), F.col("event_id")]),
    ):
        blocks = (
            _two_phase_rank(bucket_name, order)
            .withColumn(
                "block",
                # rk is IntegerType from row_number: cast to long BEFORE
                # the *ZORDER_BLOCKS multiply or it overflows past ~33M
                # rows (ANSI arithmetic error at scale)
                F.least(
                    F.floor(
                        (F.col("rk").cast("long") - 1) * ZORDER_BLOCKS / F.col("n")
                    ).cast("int"),
                    F.lit(ZORDER_BLOCKS - 1),
                ),
            )
            .groupBy("block")
            .agg(
                F.min("ub").alias("umin"), F.max("ub").alias("umax"),
                F.min("tb").alias("tmin"), F.max("tb").alias("tmax"),
            )
        )
        hit = (
            (F.col("umin") <= F.col("qu") + (ZORDER_Q - 1))
            & (F.col("umax") >= F.col("qu"))
            & (F.col("tmin") <= F.col("qt") + (ZORDER_Q - 1))
            & (F.col("tmax") >= F.col("qt"))
        )
        per_q = (
            blocks.crossJoin(qs)
            .groupBy("qu", "qt")
            .agg(F.sum(hit.cast("long")).alias("hits"))
        )
        layouts.append(
            per_q.agg(
                F.lit(name).alias("layout"),
                F.lit(ZORDER_BLOCKS).cast("long").alias("n_blocks"),
                F.round(F.avg("hits"), 4).alias("avg_blocks_scanned"),
                F.round(
                    (F.lit(ZORDER_BLOCKS) - F.avg("hits")) / F.lit(ZORDER_BLOCKS), 4
                ).alias("skip_fraction"),
            )
        )
    return layouts[0].unionByName(layouts[1])


def _zorder_sql() -> str:
    n = 1 << ZORDER_BITS
    npos = n - ZORDER_Q + 1
    z_terms = " + ".join(
        f"(((ub >> {k}) & 1) * {1 << (2 * k + 1)}) + (((tb >> {k}) & 1) * {1 << (2 * k)})"
        for k in range(ZORDER_BITS)
    )
    arm_sqls = []
    for name, key in (("zorder", "zkey, event_id"), ("natural", "tsu, event_id")):
        arm_sqls.append(f"""
SELECT '{name}' AS layout, CAST({ZORDER_BLOCKS} AS BIGINT) AS n_blocks,
       round(avg(hits), 4) AS avg_blocks_scanned,
       round(({ZORDER_BLOCKS} - avg(hits)) / {ZORDER_BLOCKS}, 4) AS skip_fraction
FROM (
  SELECT qu, qt,
         CAST(sum(CASE WHEN umin <= qu + {ZORDER_Q - 1} AND umax >= qu
                        AND tmin <= qt + {ZORDER_Q - 1} AND tmax >= qt
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM (
    SELECT block, min(ub) AS umin, max(ub) AS umax,
           min(tb) AS tmin, max(tb) AS tmax
    FROM (
      SELECT least(CAST(floor((rk - 1) * {ZORDER_BLOCKS} / CAST(n AS DOUBLE)) AS INT),
                   {ZORDER_BLOCKS - 1}) AS block, ub, tb
      FROM (SELECT *, row_number() OVER (ORDER BY {key}) AS rk FROM keyed)
    ) rb GROUP BY block
  ) blk CROSS JOIN qs
  GROUP BY qu, qt
) pq""")
    return f"""
WITH ev AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsu FROM events),
bounds AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                  min(tsu) AS tlo, max(tsu) AS thi, count(*) AS n FROM ev),
g AS (
  SELECT event_id, n, tsu,
         least(CAST(floor((user_id - ulo) / ((uhi - ulo + 1e-9) / {n})) AS INT), {n - 1}) AS ub,
         least(CAST(floor((tsu - tlo) / ((thi - tlo + 1e-9) / {n})) AS INT), {n - 1}) AS tb
  FROM ev CROSS JOIN bounds
),
keyed AS (SELECT event_id, n, ub, tb, tsu, {z_terms} AS zkey FROM g),
qs AS (SELECT CAST(a.qu AS INT) AS qu, CAST(b.qt AS INT) AS qt
       FROM unnest(range(0, {npos})) a(qu), unnest(range(0, {npos})) b(qt))
{arm_sqls[0]}
UNION ALL
{arm_sqls[1]}
"""


EXTRA_QUERIES["zorder_locality"] = q_zorder_locality
EXTRA_ORACLES["zorder_locality"] = _zorder_sql()


# --- funnel analysis --------------------------------------------------------
# Ordered-sequence conversion (the Amplitude/Snowplow funnel shape):
# how many users performed step 1, then step 2 strictly after it, then
# step 3 strictly after that. Each step's first-eligible timestamp is a
# conditional aggregate over the user's events joined against the
# previous step's time — one groupBy per step over an ever-smaller
# survivor set. The survivor join carries NO broadcast hint: at test
# scale AQE converts it to broadcast automatically, while at 10^9-user
# scale the survivor frame can exceed executor memory and the same
# plan falls back to a shuffle join instead of OOMing on a forced
# broadcast. No window over the full event stream, no per-user event
# collection.
FUNNEL_STEPS = ("click", "view", "purchase")
FUNNEL_HORIZON = "1 day"  # max delay between consecutive steps


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per funnel depth: users reaching it and the conversion rate from
    step 1. Depth k requires the first step-k event strictly after the
    user's first step-(k-1)-eligible event AND within FUNNEL_HORIZON of
    it — the standard ordered funnel with a conversion window, not a
    bag-of-events intersection."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    reached = None  # DataFrame(user_id, t) of users at the previous depth
    counts = []
    for depth, step in enumerate(FUNNEL_STEPS, start=1):
        step_ev = ev.filter(F.col("event_type") == step)
        if reached is None:
            reached = step_ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reached = (
                step_ev.join(reached, "user_id")
                .filter(
                    (F.col("ts") > F.col("t"))
                    & (F.col("ts") <= F.col("t") + F.expr(f"interval {FUNNEL_HORIZON}"))
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        counts.append(
            reached.agg(
                F.lit(depth).alias("depth"),
                F.lit(step).alias("step"),
                F.count("*").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    base = out.filter(F.col("depth") == 1).select(
        F.col("n_users").alias("n_base")
    )
    return out.crossJoin(F.broadcast(base)).select(
        "depth",
        "step",
        "n_users",
        F.round(F.col("n_users") / F.col("n_base"), 4).alias("conversion"),
    )


def _funnel_sql() -> str:
    """Oracle CTE chain generated from FUNNEL_STEPS (same arity as the
    Spark loop — a steps change cannot silently desynchronize them)."""
    parts = [
        f"""s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"""
    ]
    for i in range(2, len(FUNNEL_STEPS) + 1):
        parts.append(
            f"""s{i} AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s{i - 1} p ON e.user_id = p.user_id
       WHERE e.event_type = '{FUNNEL_STEPS[i - 1]}' AND e.ts > p.t
         AND e.ts <= p.t + INTERVAL '{FUNNEL_HORIZON}'
       GROUP BY e.user_id)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS depth, '{FUNNEL_STEPS[i - 1]}' AS step, "
        f"count(*) AS n_users FROM s{i}"
        for i in range(1, len(FUNNEL_STEPS) + 1)
    )
    return (
        "WITH " + ",\n".join(parts) + f""",
f AS ({unions})
SELECT depth, step, n_users,
       round(n_users / CAST((SELECT n_users FROM f WHERE depth = 1) AS DOUBLE), 4)
         AS conversion
FROM f
"""
    )


EXTRA_QUERIES["funnel_conversion"] = q_funnel_conversion
EXTRA_ORACLES["funnel_conversion"] = _funnel_sql()


def epoch_day(col):
    """Absolute epoch-day index — THE cross-engine day-bucketing twin
    (with EPOCH_DAY_SQL): floor(unix seconds / 86400), no calendar or
    timezone arithmetic on either engine."""
    return F.floor(F.unix_timestamp(col) / 86400)


EPOCH_DAY_SQL = "CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)"


# --- cohort retention -------------------------------------------------------
# The retention matrix (product-analytics companion to the funnel):
# users cohorted by the day of their first event, each cell = the
# fraction of a cohort still active N days later. Days are absolute
# epoch-day indexes (floor(unix_ts / 86400)) so both engines bucket
# identically with no calendar/locale arithmetic. Shapes: one distinct
# on (user, day) — the activity matrix is tiny next to the event
# stream — one per-user min for the cohort, one groupBy for the cells;
# the per-cohort sizes join back as a dimension.
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_day, day_offset, n_active, retention): distinct active
    users per cohort x days-since-first-day, with retention relative
    to the cohort's own size (offset 0 row = 1.0 by construction)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", epoch_day("ts").alias("wk")
    )
    activity = ev.distinct()
    cohort = activity.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    sizes = cohort.groupBy("cwk").agg(F.count("*").alias("cohort_size"))
    cells = (
        activity.join(cohort, "user_id")
        .groupBy("cwk", (F.col("wk") - F.col("cwk")).alias("day_offset"))
        # activity is already distinct on (user, day) and day is fixed
        # within a cell, so a plain count (full map-side combine) equals
        # the distinct count without the two-phase distinct expansion
        .agg(F.count("*").alias("n_active"))
    )
    return (
        cells.join(sizes, "cwk")
        .select(
            F.col("cwk").alias("cohort_day"),
            "day_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention"),
        )
    )


_ORACLE_RETENTION = f"""
WITH act AS (SELECT DISTINCT user_id,
                    {EPOCH_DAY_SQL} AS wk
             FROM events),
cohort AS (SELECT user_id, min(wk) AS cwk FROM act GROUP BY user_id),
sizes AS (SELECT cwk, count(*) AS cohort_size FROM cohort GROUP BY cwk),
cells AS (
  SELECT c.cwk, a.wk - c.cwk AS day_offset,
         count(*) AS n_active
  FROM act a JOIN cohort c USING (user_id)
  GROUP BY 1, 2
)
SELECT cells.cwk AS cohort_day, day_offset, n_active,
       round(n_active / CAST(cohort_size AS DOUBLE), 4) AS retention
FROM cells JOIN sizes ON cells.cwk = sizes.cwk
"""


EXTRA_QUERIES["retention_cohorts"] = q_retention_cohorts
EXTRA_ORACLES["retention_cohorts"] = _ORACLE_RETENTION


# --- PSI drift detection ----------------------------------------------------
# Population Stability Index per event type — the distribution-drift
# monitor a production pipeline runs continuously: psi =
# sum_i (q_i - p_i) * ln(q_i / p_i) over shared histogram buckets,
# where p/q are the reference/current bucket shares. Bucket edges are
# equi-width over the GLOBAL value range (populations must share edges
# or PSI is meaningless); the ref/cur split is each type's OWN time
# midpoint; shares are add-one smoothed over the FULL types x buckets
# grid (left-join fill) so they sum to 1 and empty buckets contribute.
# Shapes: a value-bounds aggregate + a per-type midpoint aggregate, one
# groupBy((type, bucket)) with conditional sums, the grid fill over
# statistics-sized frames, one per-type rollup.
PSI_BUCKETS = 10
PSI_ALERT = 0.2   # the conventional "significant drift" threshold


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_ref, n_cur, psi, drifted): value-distribution PSI
    between EACH TYPE'S OWN chronological halves (per-type time
    midpoint — a type that only starts emitting late still splits its
    own history in half instead of comparing against an empty
    reference). Rows with NULL ts or value are excluded identically on
    both engines. The smoothed sum runs over the FULL bucket grid
    (types x PSI_BUCKETS, observed or not), so shares sum to 1 and
    empty buckets contribute their add-one term."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    vb = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    mids = ev.groupBy("event_type").agg(
        ((F.min("es") + F.max("es")) / 2).alias("mid")
    )
    b = ev.join(mids, "event_type").crossJoin(F.broadcast(vb)).select(
        "event_type",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo") + F.lit(1e-9)) / PSI_BUCKETS)
            ).cast("int"),
            F.lit(PSI_BUCKETS - 1),
        ).alias("bucket"),
        (F.col("es") < F.col("mid")).cast("long").alias("is_ref"),
    )
    cells = b.groupBy("event_type", "bucket").agg(
        F.sum("is_ref").alias("cr"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cc"),
    )
    grid = (
        cells.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(PSI_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    full = (
        grid.join(cells, ["event_type", "bucket"], "left")
        .na.fill(0, ["cr", "cc"])
    )
    totals = full.groupBy("event_type").agg(
        F.sum("cr").alias("nr"), F.sum("cc").alias("nc")
    )
    p = (F.col("cr") + 1) / (F.col("nr") + F.lit(PSI_BUCKETS))
    q = (F.col("cc") + 1) / (F.col("nc") + F.lit(PSI_BUCKETS))
    return (
        full.join(totals, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("nr").alias("n_ref"),
            F.max("nc").alias("n_cur"),
            F.round(F.sum((q - p) * F.log(q / p)), 6).alias("psi"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            "psi",
            (F.col("psi") > PSI_ALERT).alias("drifted"),
        )
    )


_ORACLE_PSI = f"""
WITH ev AS (SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
vb AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
mids AS (SELECT event_type, (min(es) + max(es)) / 2.0 AS mid
         FROM ev GROUP BY 1),
b AS (
  SELECT ev.event_type,
         least(CAST(floor((value - lo) / ((hi - lo + 1e-9) / {PSI_BUCKETS})) AS INT),
               {PSI_BUCKETS - 1}) AS bucket,
         CASE WHEN es < mid THEN 1 ELSE 0 END AS is_ref
  FROM ev JOIN mids USING (event_type) CROSS JOIN vb
),
cells AS (SELECT event_type, bucket, sum(is_ref) AS cr,
                 sum(1 - is_ref) AS cc
          FROM b GROUP BY 1, 2),
grid AS (SELECT t.event_type, CAST(u.bk AS INT) AS bucket
         FROM (SELECT DISTINCT event_type FROM cells) t,
              unnest(range(0, {PSI_BUCKETS})) u(bk)),
filled AS (SELECT g.event_type, g.bucket,
                coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
         FROM grid g LEFT JOIN cells
           ON g.event_type = cells.event_type AND g.bucket = cells.bucket),
totals AS (SELECT event_type, sum(cr) AS nr, sum(cc) AS nc
           FROM filled GROUP BY 1),
scored AS (
  SELECT filled.event_type,
         CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur,
         round(sum(((cc + 1) / CAST(nc + {PSI_BUCKETS} AS DOUBLE)
                    - (cr + 1) / CAST(nr + {PSI_BUCKETS} AS DOUBLE))
                   * ln(((cc + 1) / CAST(nc + {PSI_BUCKETS} AS DOUBLE))
                        / ((cr + 1) / CAST(nr + {PSI_BUCKETS} AS DOUBLE)))), 6) AS psi
  FROM filled JOIN totals ON filled.event_type = totals.event_type
  GROUP BY filled.event_type
)
SELECT event_type, n_ref, n_cur, psi, psi > {PSI_ALERT} AS drifted
FROM scored
"""


EXTRA_QUERIES["psi_drift"] = q_psi_drift
EXTRA_ORACLES["psi_drift"] = _ORACLE_PSI


# --- A/B experiment analysis ------------------------------------------------
# Experimentation analytics: deterministic variant assignment
# (user_id % 2), activation metric = "purchased within AB_HORIZON of
# the user's first event", and the two-proportion z-test between the
# arms. All aggregates are per-user rollups with map-side combine; the
# final statistic folds out of ONE no-group aggregate, so the query
# always returns exactly one row — even when an arm (or the whole
# table) is empty, matching the oracle's scalar-subquery shape.
AB_HORIZON = "1 day"
AB_Z_CRIT = 1.96  # two-sided 5%


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_a, n_b, conv_a, conv_b, z, significant). Empty-arm
    and degenerate-pool cases are guarded identically on both engines:
    a missing arm reports NULL conversion and z = 0.0 instead of
    dropping the row or dividing by zero."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    converted = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & (F.col("ts") <= F.col("t0") + F.expr(f"interval {AB_HORIZON}"))
        )
        .select("user_id")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    users = first.join(converted, "user_id", "left").select(
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.coalesce("conv", F.lit(0)).alias("conv"),
    )
    stats = users.agg(
        F.coalesce(F.sum(F.col("is_a").cast("long")), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum((~F.col("is_a")).cast("long")), F.lit(0)).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("is_a"), F.col("conv")).otherwise(0)), F.lit(0)
        ).alias("x_a"),
        F.coalesce(
            F.sum(F.when(~F.col("is_a"), F.col("conv")).otherwise(0)), F.lit(0)
        ).alias("x_b"),
    )
    pa = F.when(F.col("n_a") > 0, F.col("x_a") / F.col("n_a"))
    pb = F.when(F.col("n_b") > 0, F.col("x_b") / F.col("n_b"))
    pool = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        F.round((pa - pb) / F.sqrt(var), 6),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "n_a",
        "n_b",
        F.round(pa, 4).alias("conv_a"),
        F.round(pb, 4).alias("conv_b"),
        z.alias("z"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


_ORACLE_AB = f"""
WITH first AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
conv AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN first USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t0
    AND e.ts <= t0 + INTERVAL '{AB_HORIZON}'
),
users AS (
  SELECT (first.user_id % 2 = 0) AS is_a,
         CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END AS c
  FROM first LEFT JOIN conv ON first.user_id = conv.user_id
),
stats AS (
  SELECT coalesce(sum(CASE WHEN is_a THEN 1 ELSE 0 END), 0) AS n_a,
         coalesce(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END), 0) AS n_b,
         coalesce(sum(CASE WHEN is_a THEN c ELSE 0 END), 0) AS x_a,
         coalesce(sum(CASE WHEN NOT is_a THEN c ELSE 0 END), 0) AS x_b
  FROM users
),
scored AS (
  SELECT n_a, n_b,
         CASE WHEN n_a > 0 THEN x_a / CAST(n_a AS DOUBLE) END AS pa,
         CASE WHEN n_b > 0 THEN x_b / CAST(n_b AS DOUBLE) END AS pb,
         (x_a + x_b) / CAST(n_a + n_b AS DOUBLE) AS pool
  FROM stats
),
zt AS (
  SELECT n_a, n_b, pa, pb,
         CASE WHEN n_a > 0 AND n_b > 0
               AND pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b) > 0
              THEN round((pa - pb)
                   / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)), 6)
              ELSE 0.0 END AS z
  FROM scored
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(pa, 4) AS conv_a, round(pb, 4) AS conv_b, z,
       abs(z) > {AB_Z_CRIT} AS significant
FROM zt
"""


EXTRA_QUERIES["ab_test"] = q_ab_test
EXTRA_ORACLES["ab_test"] = _ORACLE_AB


# --- data-quality checks ----------------------------------------------------
# Deequ-style declarative data contracts (Schelter et al., VLDB 2018):
# completeness, uniqueness, range conformance, and set membership
# verified in ONE pass over the table — every metric is an aggregate
# with map-side combine, so the whole contract costs one scan + one
# scalar rollup at any scale (uniqueness adds the one distinct).
DQ_VALUE_MAX = 1000.0
DQ_ALLOWED_TYPES = _EVENT_TYPES  # one vocabulary, shared with the pivot


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check, observed, threshold, passes): the events-table contract.
    Metrics are fractions in [0,1] rounded to 6; a check passes when
    the observed fraction meets its threshold."""
    ev = load(spark, sf_dir, "events")
    n = F.count("*")
    stats = ev.agg(
        n.alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum(F.col("ts").isNotNull().cast("long")).alias("ts_ok"),
        F.sum(F.col("user_id").isNotNull().cast("long")).alias("uid_ok"),
        F.sum(
            (
                F.col("value").isNotNull()
                & (F.col("value") >= 0)
                & (F.col("value") <= DQ_VALUE_MAX)
            ).cast("long")
        ).alias("val_ok"),
        F.sum(F.col("event_type").isin(*DQ_ALLOWED_TYPES).cast("long")).alias(
            "type_ok"
        ),
    )
    checks = [
        ("event_id_unique", F.col("n_ids") / F.col("n"), 1.0),
        ("ts_complete", F.col("ts_ok") / F.col("n"), 1.0),
        ("user_id_complete", F.col("uid_ok") / F.col("n"), 1.0),
        ("value_in_range", F.col("val_ok") / F.col("n"), 0.99),
        ("event_type_allowed", F.col("type_ok") / F.col("n"), 1.0),
    ]
    # pass/fail compares the UNROUNDED fraction — rounding first would
    # let an exactness contract (threshold 1.0) absorb up to ~5e-7 of
    # violating rows at scale; rounding is display-only
    return stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check"),
                        F.round(expr, 6).alias("observed"),
                        F.lit(thr).alias("threshold"),
                        # empty table -> fractions are NULL; a
                        # contract over no data FAILS explicitly
                        F.coalesce(expr >= thr, F.lit(False)).alias("passes"),
                    )
                    for name, expr, thr in checks
                ]
            )
        ).alias("s")
    ).select("s.check", "s.observed", "s.threshold", "s.passes")


_ORACLE_DQ = f"""
WITH stats AS (
  SELECT count(*) AS n,
         count(DISTINCT event_id) AS n_ids,
         sum(CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END) AS ts_ok,
         sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS uid_ok,
         sum(CASE WHEN value IS NOT NULL AND value >= 0
                   AND value <= {DQ_VALUE_MAX} THEN 1 ELSE 0 END) AS val_ok,
         sum(CASE WHEN event_type IN {"(" + ", ".join(f"'{x}'" for x in DQ_ALLOWED_TYPES) + ")"} THEN 1 ELSE 0 END)
           AS type_ok
  FROM events
),
checks AS (
  SELECT 'event_id_unique' AS check, n_ids / CAST(n AS DOUBLE) AS raw, 1.0 AS threshold FROM stats
  UNION ALL
  SELECT 'ts_complete', ts_ok / CAST(n AS DOUBLE), 1.0 FROM stats
  UNION ALL
  SELECT 'user_id_complete', uid_ok / CAST(n AS DOUBLE), 1.0 FROM stats
  UNION ALL
  SELECT 'value_in_range', val_ok / CAST(n AS DOUBLE), 0.99 FROM stats
  UNION ALL
  SELECT 'event_type_allowed', type_ok / CAST(n AS DOUBLE), 1.0 FROM stats
)
SELECT "check", round(raw, 6) AS observed, threshold,
       coalesce(raw >= threshold, false) AS passes
FROM checks
"""


EXTRA_QUERIES["dq_checks"] = q_dq_checks
EXTRA_ORACLES["dq_checks"] = _ORACLE_DQ


# --- robust anomaly detection -----------------------------------------------
# Daily-volume anomaly monitoring with the Iglewicz-Hoaglin modified
# z-score: |0.6745 * (count - median) / MAD| > 3.5 flags a day whose
# event volume breaks from the type's typical level, robust to the
# outliers themselves (unlike mean/stddev z-scores, which an anomaly
# inflates). The daily-count frame is tiny (types x days), so the two
# median passes cost nothing after the one corpus aggregation.
MAD_Z_CRIT = 3.5
MAD_CONST = 0.6745  # Iglewicz-Hoaglin normal-consistency factor


def q_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, median_daily, mad, n_anomalous): per-type
    daily-count distribution summary plus how many days break the
    modified-z threshold. MAD = 0 (perfectly constant volume) flags
    nothing by definition, identically on both engines."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", epoch_day("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5)").alias("med")
    )
    dev = daily.join(med, "event_type").select(
        "event_type", "c", "med", F.abs(F.col("c") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    scored = dev.join(mad, "event_type").select(
        "event_type",
        "med",
        "mad",
        F.when(
            F.col("mad") > 0,
            F.abs(MAD_CONST * (F.col("c") - F.col("med")) / F.col("mad"))
            > MAD_Z_CRIT,
        )
        .otherwise(F.lit(False))
        .cast("long")
        .alias("anom"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.max("med"), 6).alias("median_daily"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.sum("anom").alias("n_anomalous"),
    )


_ORACLE_ANOM = f"""
WITH daily AS (
  SELECT event_type,
         {EPOCH_DAY_SQL} AS day,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        FROM daily GROUP BY 1),
dev AS (SELECT daily.event_type, c, med, abs(c - med) AS ad
        FROM daily JOIN med USING (event_type)),
mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY 1),
scored AS (
  SELECT dev.event_type, dev.med, mad.mad,
         CASE WHEN mad.mad > 0
               AND abs({MAD_CONST} * (c - dev.med) / mad.mad) > {MAD_Z_CRIT}
              THEN 1 ELSE 0 END AS anom
  FROM dev JOIN mad ON dev.event_type = mad.event_type
)
SELECT event_type, count(*) AS n_days,
       round(max(med), 6) AS median_daily, round(max(mad), 6) AS mad,
       CAST(sum(anom) AS BIGINT) AS n_anomalous
FROM scored GROUP BY event_type
"""


EXTRA_QUERIES["volume_anomalies"] = q_volume_anomalies
EXTRA_ORACLES["volume_anomalies"] = _ORACLE_ANOM


# --- hypertable rollup: time-bucket downsampling with gap fill + LOCF --------
# The TimescaleDB time_bucket/gapfill/locf triple as one batch query:
# continuous-aggregate downsampling of the event stream into fixed
# 6-hour buckets, densified against a generated calendar so silent
# buckets EXIST as rows (a monitor that never sees the empty bucket
# never alarms on it), with last-observation-carried-forward for the
# per-bucket average. Scale shape: ONE map-side-combined aggregation
# reduces the corpus to (type x bucket) rows; the calendar is a
# sequence() explode over the global [min, max] bucket range
# (statistics-sized: buckets-per-year x types, not corpus rows); the
# LOCF window partitions by type over that small grid. Buckets are
# integer epoch arithmetic (floor(unix_seconds / W) * W), the
# epoch_day/EPOCH_DAY_SQL construction, so both engines bucket
# identically with no calendar/timezone arithmetic.
GAPFILL_BUCKET_S = 21600  # 6-hour buckets
_LOCF_SENTINEL = -1       # bucket before a type's first observation


def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket_start, n_events, sum_value_cents,
    avg_locf_cents, is_gap): dense 6-hour rollup of events — every
    (type, bucket) cell in the global time range is present, empty
    cells carry n_events=0 / sum 0 and the LOCF average of the type's
    last active bucket (the -1 sentinel before its first observation).
    All money math is integer cents: rounding a float average lands
    EXACTLY on a decimal half whenever a sum of cents divides a power
    of two (881.94/16 = 55.12125 — both engines' round() flip on the
    ulp), so the per-bucket average is integer cents via DIV — exact
    on any engine, at any scale (values are non-negative, so trunc
    and floor division agree)."""
    from pyspark.sql import Window

    W = GAPFILL_BUCKET_S
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / W) * W).cast("long").alias("bucket"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    # ONE corpus scan: the (type x bucket) summary is materialized via
    # localCheckpoint, and bounds + the type list derive from IT (every
    # event lands in some summary cell, so min/max/distinct agree with
    # the raw stream) — without this, bounds and types would each
    # re-scan the events parquet
    actual = (
        ev.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
        .withColumn("av", F.expr("sum_value_cents DIV n_events"))
        .localCheckpoint()
    )
    bounds = actual.agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    cal = bounds.select(
        F.explode(F.sequence("mn", "mx", F.lit(W))).alias("bucket")
    )
    types = actual.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(cal))
    j = grid.join(actual, ["event_type", "bucket"], "left")
    locf = F.last("av", ignorenulls=True).over(
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        F.col("bucket").alias("bucket_start"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value_cents", F.lit(0)).cast("long").alias("sum_value_cents"),
        F.coalesce(locf, F.lit(_LOCF_SENTINEL)).cast("long").alias("avg_locf_cents"),
        (F.col("n_events").isNull()).cast("int").cast("long").alias("is_gap"),
    )


_ORACLE_GAPFILL = f"""
WITH ev AS (
  SELECT event_type,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / {GAPFILL_BUCKET_S}) AS BIGINT) * {GAPFILL_BUCKET_S} AS bucket,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
actual AS (
  SELECT event_type, bucket, count(*) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_value_cents,
         CAST(sum(cents) AS BIGINT) // count(*) AS av
  FROM ev GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM ev),
cal AS (SELECT unnest(range(mn, mx + {GAPFILL_BUCKET_S}, {GAPFILL_BUCKET_S})) AS bucket FROM bounds),
grid AS (SELECT t.event_type, c.bucket
         FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN cal c),
j AS (
  SELECT g.event_type, g.bucket, a.n_events, a.sum_value_cents, a.av
  FROM grid g LEFT JOIN actual a
    ON g.event_type = a.event_type AND g.bucket = a.bucket
)
SELECT event_type, bucket AS bucket_start,
       coalesce(n_events, 0) AS n_events,
       CAST(coalesce(sum_value_cents, 0) AS BIGINT) AS sum_value_cents,
       CAST(coalesce(last_value(av IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS UNBOUNDED PRECEDING), {_LOCF_SENTINEL}) AS BIGINT) AS avg_locf_cents,
       CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM j
"""


EXTRA_QUERIES["timeseries_gapfill"] = q_timeseries_gapfill
EXTRA_ORACLES["timeseries_gapfill"] = _ORACLE_GAPFILL


# --- multi-touch attribution --------------------------------------------------
# Marketing attribution over the event stream: every purchase credits
# the click/view touches the SAME user made within the preceding
# horizon, under three standard models at once — first-touch,
# last-touch, and linear. Credit is integer micro-units (ppm, 10^6 DIV
# n_touches) so the whole operator is integer-exact on any engine — no
# float credit fractions to round. Scale shape: the conversion×touch
# pairing is the banded range join (time buckets the horizon wide,
# conversions replicated into their own and previous bucket, exact
# band filter after the equi-join — candidates bounded by band
# population, never the O(n²) inequality cross product); the
# first/last ranks are windows partitioned by conversion id, whose
# group size is one user's touches within one horizon — bounded by
# user activity, not corpus size.
ATTR_HORIZON_S = 3600           # attribution window: 1 hour
ATTR_TOUCH_TYPES = ("click", "view")
ATTR_CONV_TYPE = "purchase"


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(touch_type, n_touches, n_conversions, first_touch, last_touch,
    linear_credit_ppm): per touch channel, how many conversions it
    opened (first-touch wins), closed (last-touch wins), and its linear
    credit in ppm (each of a conversion's n touches earns 10^6 DIV n).
    Ties on the same second break on event_id — both engines rank
    identically."""
    from pyspark.sql import Window

    H = ATTR_HORIZON_S
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("es")
    )
    conv = ev.filter(F.col("event_type") == ATTR_CONV_TYPE).select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("es").alias("ces"),
        (F.col("es") / H).cast("long").alias("cb"),
    )
    conv = conv.withColumn("jb", F.explode(F.array(F.col("cb") - 1, F.col("cb"))))
    touch = ev.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("touch_type"),
        F.col("es").alias("tes"),
        (F.col("es") / H).cast("long").alias("tb"),
    )
    pairs = conv.join(
        touch,
        (conv["user_id"] == touch["user_id"])
        & (conv["jb"] == touch["tb"])
        & (F.col("ces") - F.col("tes") >= 0)
        & (F.col("ces") - F.col("tes") <= H),
    ).select("conv_id", "touch_type", "tes", "tid")
    w_first = Window.partitionBy("conv_id").orderBy("tes", "tid")
    w_last = Window.partitionBy("conv_id").orderBy(F.desc("tes"), F.desc("tid"))
    w_n = Window.partitionBy("conv_id")
    scored = pairs.select(
        "conv_id",
        "touch_type",
        F.row_number().over(w_first).alias("rf"),
        F.row_number().over(w_last).alias("rl"),
        F.count("*").over(w_n).alias("n"),
    )
    return scored.groupBy("touch_type").agg(
        F.count("*").alias("n_touches"),
        F.countDistinct("conv_id").alias("n_conversions"),
        F.sum((F.col("rf") == 1).cast("long")).alias("first_touch"),
        F.sum((F.col("rl") == 1).cast("long")).alias("last_touch"),
        F.sum(F.expr("1000000 DIV n")).alias("linear_credit_ppm"),
    )


_ORACLE_ATTR = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
conv AS (SELECT user_id, event_id AS conv_id, es AS ces FROM ev
         WHERE event_type = '{ATTR_CONV_TYPE}'),
touch AS (SELECT user_id, event_id AS tid, event_type AS touch_type, es AS tes
          FROM ev WHERE event_type IN {ATTR_TOUCH_TYPES!r}),
pairs AS (
  SELECT c.conv_id, t.touch_type, t.tes, t.tid
  FROM conv c JOIN touch t
    ON c.user_id = t.user_id
   AND c.ces - t.tes >= 0 AND c.ces - t.tes <= {ATTR_HORIZON_S}
),
scored AS (
  SELECT conv_id, touch_type,
         row_number() OVER (PARTITION BY conv_id ORDER BY tes, tid) AS rf,
         row_number() OVER (PARTITION BY conv_id ORDER BY tes DESC, tid DESC) AS rl,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM pairs
)
SELECT touch_type, count(*) AS n_touches,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
       CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
       CAST(sum(1000000 // n) AS BIGINT) AS linear_credit_ppm
FROM scored GROUP BY touch_type
"""


EXTRA_QUERIES["touch_attribution"] = q_touch_attribution
EXTRA_ORACLES["touch_attribution"] = _ORACLE_ATTR


# --- shuffle-key skew diagnostic ----------------------------------------------
# THE pre-flight check for every groupBy/join key at scale: how skewed
# are the key groups? A max/avg ratio in the hundreds means a straggler
# task (and the cost-balanced binning/AQE-skew-join treatment the
# extraction pipeline already applies to decode costs —
# pipeline/extract.py _cut_bins); ~1 means the key shuffles clean. One map-side-combined count per key column, then
# statistics-sized distribution math — the report costs one scan per
# audited table regardless of corpus size. All outputs integer-exact:
# discrete percentiles (percentile_disc, the media_size_stats
# precedent) and skew as max*100*n_keys DIV n_rows (= 100·max/avg).
SKEW_KEYS = (("events", "user_id"), ("events", "event_type"), ("documents", "source"))


def q_shuffle_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table_key, n_keys, n_rows, p50_group, p99_group, max_group,
    skew_x100): group-size distribution per candidate shuffle key.
    event_type (5 keys over the whole stream) reads as massively
    skewed — the quantified argument for never shuffling on a
    fixed-cardinality attribute; user_id reads ~100 (uniform)."""
    outs = []
    for table, key in SKEW_KEYS:
        sizes = (
            load(spark, sf_dir, table)
            .groupBy(F.col(key).cast("string").alias("k"))
            .agg(F.count("*").alias("g"))
        )
        outs.append(
            sizes.agg(
                F.lit(f"{table}.{key}").alias("table_key"),
                F.count("*").alias("n_keys"),
                F.sum("g").alias("n_rows"),
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY g)").cast("long").alias("p50_group"),
                F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY g)").cast("long").alias("p99_group"),
                F.max("g").alias("max_group"),
            ).withColumn(
                "skew_x100", F.expr("max_group * 100 * n_keys DIV n_rows")
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _skew_sql() -> str:
    parts = []
    for table, key in SKEW_KEYS:
        parts.append(f"""
SELECT '{table}.{key}' AS table_key,
       count(*) AS n_keys,
       CAST(sum(g) AS BIGINT) AS n_rows,
       CAST(quantile_disc(g, 0.5) AS BIGINT) AS p50_group,
       CAST(quantile_disc(g, 0.99) AS BIGINT) AS p99_group,
       CAST(max(g) AS BIGINT) AS max_group,
       CAST(max(g) AS BIGINT) * 100 * count(*) // CAST(sum(g) AS BIGINT) AS skew_x100
FROM (SELECT CAST({key} AS VARCHAR) AS k, count(*) AS g FROM {table} GROUP BY 1)
""")
    return " UNION ALL ".join(parts)


EXTRA_QUERIES["shuffle_key_skew"] = q_shuffle_key_skew
EXTRA_ORACLES["shuffle_key_skew"] = _skew_sql()


# --- HyperLogLog distinct sketch ----------------------------------------------
# Completes the mergeable-summary family's distinct-count corner from the
# other direction: KMV (above) keeps K minimum hash VALUES; HLL keeps a
# max-rho register per hash bucket (Flajolet-Fusy-Gandouet-Meunier 2007,
# the sketch behind Spark's own approx_count_distinct). The engine builds
# the DETERMINISTIC twin — fixed md5 hashing, integer-exact register and
# harmonic-sum arithmetic — so the DuckDB oracle reproduces the estimate
# bit for bit, unlike the opaque HLL++ aggregate. Per-register max merges
# from ANY partitioning (the per-partition summary a 100 TB scan reduces:
# one groupBy(register) shuffle of HLL_M rows per partition, everything
# after is statistics-sized). The query measures estimate-vs-exact error
# in the same row rather than assuming the sketch's 1.04/sqrt(m) bound.
HLL_M = 256      # registers (p = 8 index bits)
_HLL_WBITS = 44  # md5 prefix is 52 bits; 52 - 8 index bits remain
# alpha_m * m^2 for the raw estimator, embedded via repr in BOTH engines
# so the float literal is identical (cross-engine float-literal rule)
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct estimate of lineitem order keys (≈4 rows per key, so
    the sketch does real dedup work): 52-bit md5 prefix → register
    j = h % m, payload w = h DIV m; rho = leading-zero count of w in a
    44-bit window + 1 = 45 - bitlength(w) (45 for w = 0) — bitlength via
    length(bin(w)), integer-exact on both engines. One groupBy(j) keeps
    max rho per register; the harmonic sum is computed SCALED BY 2^rmax
    in BIGINT (sum of shiftleft(1, rmax - mj) plus 2^rmax per empty
    register), so the only floating-point steps are one exact
    multiply-by-power-of-two and one correctly-rounded division —
    bit-identical across engines. err_ppm compares against the exact
    distinct count computed in the same query."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    hashed = li.select(
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("h")
    )
    regs = hashed.groupBy((F.col("h") % HLL_M).alias("j")).agg(
        F.max(
            F.when(F.expr(f"h DIV {HLL_M} = 0"), F.lit(_HLL_WBITS + 1)).otherwise(
                F.lit(_HLL_WBITS + 1) - F.length(F.bin(F.expr(f"h DIV {HLL_M}")))
            )
        ).alias("mj")
    )
    # rmax/present via one unpartitioned window over the HLL_M-row
    # register frame (statistics-sized by construction), so the corpus
    # scan + groupBy are referenced exactly ONCE — the estimate path is
    # scan → one shuffle → sketch rows, the shape that holds at 100 TB.
    w = Window.partitionBy()
    ssum = (
        regs.select(
            "mj",
            F.max("mj").over(w).alias("rmax"),
            F.count("*").over(w).alias("present"),
        )
        .groupBy()
        .agg(
            F.sum(F.expr("shiftleft(1L, CAST(rmax - mj AS INT))")).alias("s_regs"),
            F.max("rmax").alias("rmax"),
            F.max("present").alias("present"),
        )
        .withColumn(
            "s_scaled",
            F.col("s_regs")
            + (F.lit(HLL_M).cast("long") - F.col("present"))
            * F.expr("shiftleft(1L, CAST(rmax AS INT))"),
        )
    )
    # the exact arm is the panel's MEASUREMENT (like the ANN recall
    # panels): a second corpus scan you only pay when auditing the
    # sketch, never in the production estimate path above
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return (
        ssum.crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).alias("m"),
            F.col("present").cast("long").alias("registers_set"),
            F.col("rmax").cast("long").alias("rmax"),
            F.col("s_scaled"),
            (
                F.lit(_HLL_ALPHA_M2)
                * F.expr("CAST(shiftleft(1L, CAST(rmax AS INT)) AS DOUBLE)")
                / F.col("s_scaled").cast("double")
            ).alias("estimate"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
        .withColumn(
            "err_ppm",
            F.floor(
                F.abs(F.col("estimate") - F.col("exact_distinct"))
                * F.lit(1000000.0)
                / F.col("exact_distinct").cast("double")
            ).cast("long"),
        )
    )


_ORACLE_HLL = f"""
WITH h AS (
  SELECT CAST(concat('0x', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
  FROM lineitem
),
regs AS (
  SELECT h % {HLL_M} AS j,
         max(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h // {HLL_M})) END) AS mj
  FROM h GROUP BY 1
),
st AS (SELECT count(*) AS present, max(mj) AS rmax FROM regs),
s AS (
  SELECT sum((1::BIGINT) << CAST(st.rmax - regs.mj AS INT)) AS s_regs,
         any_value(st.present) AS present, any_value(st.rmax) AS rmax
  FROM regs, st
),
ex AS (SELECT count(DISTINCT l_orderkey) AS exact_distinct FROM lineitem)
SELECT {HLL_M} AS m,
       CAST(present AS BIGINT) AS registers_set,
       CAST(rmax AS BIGINT) AS rmax,
       CAST(s_regs + ({HLL_M}::BIGINT - present) * ((1::BIGINT) << CAST(rmax AS INT)) AS BIGINT) AS s_scaled,
       {_HLL_ALPHA_M2!r} * CAST((1::BIGINT) << CAST(rmax AS INT) AS DOUBLE)
         / CAST(s_regs + ({HLL_M}::BIGINT - present) * ((1::BIGINT) << CAST(rmax AS INT)) AS DOUBLE) AS estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST(floor(abs({_HLL_ALPHA_M2!r} * CAST((1::BIGINT) << CAST(rmax AS INT) AS DOUBLE)
         / CAST(s_regs + ({HLL_M}::BIGINT - present) * ((1::BIGINT) << CAST(rmax AS INT)) AS DOUBLE)
         - exact_distinct) * 1000000.0 / CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_ppm
FROM s, ex
"""

EXTRA_QUERIES["hll_distinct"] = q_hll_distinct
EXTRA_ORACLES["hll_distinct"] = _ORACLE_HLL


# --------------------------------------------------------------------------
# hopping (sliding) window aggregation — batch form (round 5)
# --------------------------------------------------------------------------
# The overlapping-window rollup every monitoring stack runs (a 2-day
# window advancing 1 day): each event lands in size/slide windows.
# Spark's F.window(size, slide) implements this natively in BATCH too —
# Catalyst expands each row into its size/slide window assignments
# (an Expand node, row growth bounded by the overlap factor, here 2x)
# and the aggregation map-side-combines per (window, type) before ONE
# statistics-sized exchange. The tumbling form lives in the streaming
# suite (q_windowed_event_counts); this is its batch sliding sibling.
HOP_SIZE = "2 days"
HOP_SLIDE = "1 day"


def q_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (2-day hopping window, event_type) counts and value sums.

    Output: (window_start, window_end, event_type, n_events,
    total_value) — window bounds epoch-aligned to the slide, so both
    engines derive identical window starts from the timestamp alone."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", HOP_SIZE, HOP_SLIDE).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_ORACLE_HOPPING = """
WITH hop AS (
  SELECT event_type, value, ts,
         date_trunc('day', ts) - (o * INTERVAL 1 DAY) AS wstart
  FROM events, unnest([0, 1]) AS t(o)
)
SELECT wstart AS window_start,
       wstart + INTERVAL 2 DAY AS window_end,
       event_type, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM hop
WHERE ts >= wstart AND ts < wstart + INTERVAL 2 DAY
GROUP BY 1, 2, 3
"""

EXTRA_QUERIES["hopping_window_counts"] = q_hopping_window_counts
EXTRA_ORACLES["hopping_window_counts"] = _ORACLE_HOPPING


# --------------------------------------------------------------------------
# event-sequence transition mining (round 5)
# --------------------------------------------------------------------------
# First-order Markov transition statistics over per-user event streams —
# the behavioral-analytics primitive behind next-action prediction,
# funnel discovery, and bot detection (a user whose transition row
# concentrates on one self-loop is an automation signature). Each
# user's ordered stream yields consecutive (from, to) pairs via ONE
# lead() window partitioned by user (partition width = one user's
# activity, never the corpus), then two statistics-sized aggregations
# (|event_type|^2 is a handful of rows at any corpus size).
TRANS_ROUND = 6


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of event types.

    Output: (from_type, to_type, n, p) where p is the row-normalized
    transition probability, rounded to TRANS_ROUND. Ordering ties on ts
    break by event_id so both engines sequence identically."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n"))
    per_from = counts.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return counts.join(per_from, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("tot"), TRANS_ROUND).alias("p"),
    )


_ORACLE_TRANSITIONS = f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
per_from AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1)
SELECT from_type, to_type, n, round(n / CAST(tot AS DOUBLE), {TRANS_ROUND}) AS p
FROM counts JOIN per_from USING (from_type)
"""

EXTRA_QUERIES["event_transitions"] = q_event_transitions
EXTRA_ORACLES["event_transitions"] = _ORACLE_TRANSITIONS
