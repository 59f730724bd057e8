"""Relational-kernel queries over the TPC-H-ish testdata (SURVEY.md §2.2/2.3/2.6).

This is the generalization of the reference's relational surface: every
projection/filter/join/agg/sort shape it executes imperatively over RDDs is
expressed here as a declarative DataFrame plan over the driver tables, with
a DuckDB oracle twin.  Operator coverage per query is noted in each doc.

Scale notes (the part that matters at 100 TB):
- joins against region/nation/supplier/part/customer are broadcast joins —
  dimensions stay under autoBroadcastJoinThreshold, so the big fact scan
  never shuffles for them;
- every aggregation is groupBy().agg() → map-side partial aggregation;
- top-k per group is a window row_number (spillable), never a
  collect-and-sort;
- filters are plain column predicates → parquet pushdown + column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.operators import relational
from myrecommendsystem_spark.plans.registry import RATINGS_CTE, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation / scan shapes
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_round_stable('SUM(l_quantity)', 2)} AS sum_qty,
       {sql_round_stable('SUM(l_extendedprice)', 2)} AS sum_base_price,
       {sql_round_stable('SUM(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
       {sql_round_stable('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
       {sql_round_stable('AVG(l_quantity)', 4)} AS avg_qty,
       {sql_round_stable('AVG(l_extendedprice)', 4)} AS avg_price,
       {sql_round_stable('AVG(l_discount)', 4)} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: wide multi-aggregate scan (A1/A3 generalized; "
    "P1/P2 predicate+projection pushed to parquet)",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_stable(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_stable(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_stable(F.sum(disc_price), 2).alias("sum_disc_price"),
            round_stable(F.sum(charge), 2).alias("sum_charge"),
            round_stable(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_stable(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_stable(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "filter_project_lineitem",
    """
SELECT l_orderkey, l_linenumber, l_quantity,
       ROUND(l_extendedprice * (1 - l_discount), 2) AS net_price
FROM lineitem
WHERE l_quantity > 45.0 AND l_discount < 0.02
""",
    doc="P1/P2: selective predicate + narrow projection — both must reach "
    "the parquet scan (PushedFilters + 5-column ReadSchema)",
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45.0) & (F.col("l_discount") < 0.02))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "net_price"
            ),
        )
    )


@register(
    "distinct_users",
    "SELECT DISTINCT user_id FROM events",
    doc="A4: distinct keys (OfflineRecommender.scala:60-61)",
)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select("user_id").distinct()


# ---------------------------------------------------------------------------
# Join shapes
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) + 1e-07, 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: J3 equi joins (fact-fact + broadcast dim) + "
    "grouped revenue + deterministic global top-10 (O1/O3)",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "inner"
        )
        .join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT r.r_name, n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) + 1e-07, 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, revenue DESC, n.n_name
""",
    doc="TPC-H Q5 shape: 6-table star join — small dims broadcast, the "
    "lineitem scan never shuffles for them",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("r_name", F.col("revenue").desc(), "n_name")
    )


@register(
    "anti_join_unseen",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
    doc="P5/J5: left anti join — the set-oriented form of the reference's "
    "per-event seen-products exclusion (StreamingRecommender.scala:175-183)",
)
def anti_join_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    pending = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return relational.anti_join(customer, pending, ["c_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "semi_join_active",
    """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
    doc="left semi join — complement of anti_join_unseen",
)
def semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    pending = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return relational.semi_join(customer, pending, ["c_custkey"]).select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "cross_join_region_nation",
    """
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
""",
    doc="J1: explicit cross join (small×small — the only safe scale for "
    "one; the reference's user×product cartesian is replaced by "
    "recommendForAllUsers, see ml module)",
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "region")
        .crossJoin(_t(spark, sf_dir, "nation"))
        .select("r_name", "n_name")
    )


@register(
    "theta_self_join_parts",
    """
SELECT a.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS pair_cnt
FROM part a
JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
GROUP BY brand
ORDER BY brand
""",
    doc="J2/P3 shape: self-join with theta predicate (the similarity "
    "matrix pairing pattern, OfflineRecommender.scala:99-105) — equi on "
    "brand + inequality removes the diagonal",
)
def theta_self_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    a = part.select(F.col("p_brand").alias("brand"), F.col("p_partkey").alias("ka"))
    b = part.select(F.col("p_brand").alias("brand"), F.col("p_partkey").alias("kb"))
    return (
        a.join(b, "brand")
        .filter(F.col("ka") < F.col("kb"))
        .groupBy("brand")
        .agg(F.count("*").alias("pair_cnt"))
        .orderBy("brand")
    )


@register(
    "rmse_vs_product_mean",
    f"""
WITH {RATINGS_CTE},
means AS (
    SELECT productId, AVG(score) AS mean_score
    FROM ratings GROUP BY productId
)
SELECT {sql_round_stable(
        'SQRT(AVG((r.score - m.mean_score) * (r.score - m.mean_score)))', 4)} AS rmse
FROM ratings r JOIN means m USING (productId)
""",
    doc="J3+A7+M6 shape: equi join on key + global RMSE "
    "(ALSTrainer.scala:65-79) against a per-product-mean predictor",
)
def rmse_vs_product_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir)
    means = ratings.groupBy("productId").agg(
        F.avg("score").alias("mean_score")
    )
    err = F.col("score") - F.col("mean_score")
    return (
        ratings.join(means, "productId")
        .agg(round_stable(F.sqrt(F.avg(err * err)), 4).alias("rmse"))
    )


# ---------------------------------------------------------------------------
# Window / sort / top-k shapes
# ---------------------------------------------------------------------------


@register(
    "topk_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, rnk
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS INTEGER) AS rnk
    FROM orders
)
WHERE rnk <= 3
""",
    doc="A5/O2: top-k per group via window row_number — replaces "
    "groupByKey+sortWith+take(20) (OfflineRecommender.scala:78-84); "
    "deterministic tie-break on o_orderkey",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_k_per_group(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "global_sort_orders",
    """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc="O1/O3: global multi-key sort + limit — Spark plans TakeOrderedAndProject "
    "(per-partition heap + driver merge), no full sort at scale",
)
def global_sort_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (the streaming priority formula, batch form)
# ---------------------------------------------------------------------------


@register(
    "priority_scores",
    f"""
WITH {RATINGS_CTE}
SELECT productId AS candidateId,
       {sql_round_stable(
        'AVG(1.0 * score) + LOG10(GREATEST(SUM(CASE WHEN score > 3 THEN 1 ELSE 0 END), 1))'
        ' - LOG10(GREATEST(SUM(CASE WHEN score <= 3 THEN 1 ELSE 0 END), 1))', 4)} AS priority
FROM ratings
GROUP BY candidateId
ORDER BY candidateId
""",
    doc="A8+P7+F7: the streaming priority formula as one grouped agg "
    "(StreamingRecommender.scala:197-231) with sim=1.0; when/log10/greatest "
    "reproduce the reference's default-1 count semantics",
)
def priority_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = readers.events_as_ratings(spark, sf_dir).withColumn("sim", F.lit(1.0))
    return relational.streaming_priority_scores(
        pairs, candidate_col="productId"
    ).select(
        F.col("productId").alias("candidateId"), "priority"
    ).orderBy("candidateId")


# ---------------------------------------------------------------------------
# Scalar function surface (F2-F5)
# ---------------------------------------------------------------------------


@register(
    "scalar_text_funcs",
    """
SELECT doc_id,
       split_part(text, ' ', 1) AS first_tok,
       (text LIKE '%spark%') AS mentions_spark,
       upper(lang) AS lang_uc,
       CAST(length(text) AS BIGINT) AS text_len
FROM documents
""",
    doc="F2-F5 scalar surface: split/contains/case/length/cast "
    "(DataLoader.scala:41-49, LogProcess.java:20-23)",
)
def scalar_text_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.col("text"), " ").getItem(0).alias("first_tok"),
        F.col("text").contains("spark").alias("mentions_spark"),
        F.upper(F.col("lang")).alias("lang_uc"),
        F.length(F.col("text")).cast("long").alias("text_len"),
    )


# ---------------------------------------------------------------------------
# Multi-way join pipeline (TPC-H Q5 shape) — the join-reordering exercise
# ---------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    f"""
SELECT n_name,
       {sql_round_stable('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    doc="6-way join pipeline (TPC-H Q5 shape): fact-fact join on orderkey "
    "with dimension broadcasts, selective region filter, local-supplier "
    "theta condition — the Catalyst join-reordering / AQE exercise no "
    "2-table query covers",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = lambda name: _t(spark, sf_dir, name)  # noqa: E731
    return (
        t("customer")
        .join(t("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            t("supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(t("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t("region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "approx_distinct_users",
    None,
    doc="approximate aggregates (engine extension, SURVEY.md §2.4 absent "
    "list): HLL++ distinct-user count at 2% target error — the 100 TB "
    "cardinality tool; rows-only (DuckDB's HLL differs), accuracy vs the "
    "exact count asserted in tests/test_operators.py.  Quantiles are "
    "projected to scalar q50/q90/q99 columns (not an array) so the "
    "driver's pandas canonicalizer can sort/hash the output.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = readers.events_as_ratings(spark, sf_dir)
    q = F.expr("approx_percentile(score, array(0.5, 0.9, 0.99))")
    return r.agg(
        F.approx_count_distinct("userId", rsd=0.02).alias("approx_users"),
        F.element_at(q, 1).alias("q50"),
        F.element_at(q, 2).alias("q90"),
        F.element_at(q, 3).alias("q99"),
    )


@register(
    "profile_lineitem",
    """
SELECT 'l_orderkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
       CAST(MAX(l_orderkey) AS VARCHAR) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
       CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
       CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
FROM lineitem
""",
    doc="column profiling: row/null/distinct counts + min/max for three "
    "lineitem columns in ONE wide aggregation (one scan, not one per "
    "column) — the first pass a pipeline runs over new data",
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.profiling import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_quantity", "l_returnflag"],
    )


# ---------------------------------------------------------------------------
# Temporal joins (as-of / range) — engine extensions, DuckDB-native oracle
# ---------------------------------------------------------------------------


@register(
    "events_asof_prior_value",
    f"""
WITH probes AS (
    SELECT user_id, ts FROM events WHERE user_id % 7 = 0
),
r AS (
    SELECT user_id, ts, {sql_round_stable('MAX(value)', 4)} AS value
    FROM events GROUP BY user_id, ts
)
SELECT p.user_id,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS ts_sec,
       CAST(FLOOR(epoch(r.ts)) AS BIGINT) AS asof_ts_sec,
       r.value AS asof_value
FROM probes p
ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts > r.ts
""",
    doc="as-of join (engine extension): each probe event gets the user's "
    "latest strictly-prior event value — union+window implementation, one "
    "shuffle, no theta join; oracle is DuckDB's native ASOF LEFT JOIN",
)
def events_asof_prior_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.asof import asof_join

    ev = readers.load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("user_id") % 7 == 0).select("user_id", "ts")
    prior = ev.groupBy("user_id", "ts").agg(
        round_stable(F.max("value"), 4).alias("value")
    )
    out = asof_join(
        probes, prior, "user_id", "ts", "ts", ["value"], strict=True
    )
    return out.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_sec"),
        F.unix_timestamp("asof_ts").cast("bigint").alias("asof_ts_sec"),
        F.col("asof_value"),
    )


@register(
    "events_range_hourly_activity",
    """
WITH probes AS (
    SELECT user_id, ts FROM events WHERE user_id % 11 = 0
)
SELECT p.user_id,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS ts_sec,
       CAST(SUM(CASE WHEN e.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_band
FROM probes p
LEFT JOIN events e
  ON e.user_id = p.user_id
 AND FLOOR(epoch(e.ts)) >= FLOOR(epoch(p.ts)) - 3600
 AND FLOOR(epoch(e.ts)) <  FLOOR(epoch(p.ts))
GROUP BY p.user_id, p.ts
""",
    doc="range join (engine extension): per probe event, same-user event "
    "count in the preceding hour — bucketized band join (explode right "
    "side into 2 buckets, equi-join on (key, bucket), residual filter in "
    "the aggregate), never a nested-loop theta join",
)
def events_range_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.asof import range_join_count

    ev = readers.load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("user_id") % 11 == 0).select("user_id", "ts")
    out = range_join_count(probes, ev, "user_id", "ts", "ts", 3600)
    return out.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_sec"),
        "n_in_band",
    )


@register(
    "sample_users_deterministic",
    """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE substring(md5('s1' || CAST(CAST(user_id AS BIGINT) AS VARCHAR)), 1, 8)
      < '1999999a'
GROUP BY user_id
""",
    doc="deterministic hash sampling (engine extension): ~10% of users by "
    "md5-prefix cut — same subset on every run, engine, and cluster size; "
    "whole-key semantics keep each sampled user's history complete",
)
def sample_users_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import sample_fraction

    ev = readers.load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id")
    )
    return sample_fraction(ev, "user_id", 0.1, salt="s1").groupBy(
        "user_id"
    ).agg(F.count("*").alias("n_events"))


@register(
    "rollup_revenue_region_nation",
    f"""
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       {sql_round_stable('SUM(o_totalprice)', 2)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
    doc="grouping-sets rollup (engine extension; absent in reference per "
    "SURVEY.md §2.4): region/nation/grand-total revenue in ONE pass — "
    "Spark's rollup plans a single Expand+HashAggregate instead of three "
    "separate scans of the fact table; dims broadcast, fact never shuffles "
    "for the joins",
)
def rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.select("o_custkey", "o_totalprice")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            round_stable(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "events_rolling_frames",
    f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       {sql_round_stable(
           "AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
           "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", 4)} AS avg_7,
       CAST(COUNT(*) OVER (PARTITION BY user_id
                           ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                           RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_last_hour
FROM events
""",
    doc="window frame specs (engine extension; SURVEY.md §2.5 notes the "
    "reference needs none): per-user trailing 7-row average (ROWS frame, "
    "event_id tiebreak for cross-engine determinism) and trailing-hour "
    "event count (RANGE frame over epoch seconds) in one windowed pass — "
    "one shuffle on user_id serves both frames",
)
def events_rolling_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = readers.load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
        "value",
        F.unix_timestamp("ts").cast("bigint").alias("ts_sec"),
    )
    w_rows = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    )
    w_range = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3599, 0)
    return ev.select(
        "event_id",
        "user_id",
        round_stable(F.avg("value").over(w_rows), 4).alias("avg_7"),
        F.count(F.lit(1)).over(w_range).cast("bigint").alias("n_last_hour"),
    )


@register(
    "sql_string_lifecycle",
    f"""
WITH {RATINGS_CTE},
rating_of_day AS (
    SELECT userId, productId, score,
           CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS yearmonthday
    FROM ratings
)
SELECT yearmonthday, productId, CAST(COUNT(*) AS BIGINT) AS cnt
FROM rating_of_day
GROUP BY yearmonthday, productId
ORDER BY yearmonthday DESC, cnt DESC, productId
""",
    doc="SURVEY.md §3.1 lifecycle parity: the reference's SQL-string path "
    "run literally — testdata tables registered as temp views, a first "
    "spark.sql result registered as a SECOND view (the ratingOfMonth "
    "chaining at StatisticsRecommender.scala:79-86), consumed by a second "
    "SQL string; both strings go through full Catalyst parse/analyze/"
    "optimize, and the chained views fuse into one physical plan (no "
    "materialization between them)",
)
def sql_string_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    readers.register_views(spark, sf_dir)
    spark.sql(
        "SELECT CAST(user_id AS INT) AS userId, "
        "CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS productId, "
        "value AS score, "
        "CAST(date_format(ts, 'yyyyMMdd') AS INT) AS yearmonthday "
        "FROM events"
    ).createOrReplaceTempView("rating_of_day")
    return spark.sql(
        "SELECT yearmonthday, productId, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM rating_of_day "
        "GROUP BY yearmonthday, productId "
        "ORDER BY yearmonthday DESC, cnt DESC, productId"
    )


@register(
    "pivot_orders_status",
    """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
""",
    doc="pivot (engine extension): order counts by priority × status — "
    "explicit value list so Spark skips the distinct-values discovery job "
    "and plans ONE aggregation pass (pivot_first), same shape as the "
    "oracle's conditional-aggregation rewrite",
)
def pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").cast("bigint").alias("F"),
            F.col("O").cast("bigint").alias("O"),
            F.col("P").cast("bigint").alias("P"),
        )
    )


@register(
    "events_json_props",
    """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
FROM events
""",
    doc="semi-structured extraction (engine extension): typed field pulled "
    "from a JSON string column via from_json with an explicit schema — "
    "schema-on-read stays a codegen expression, no inference pass and no "
    "Python; oracle uses DuckDB json_extract",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = readers.load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        parsed.getField("k").alias("prop_k"),
    )


@register(
    "outer_join_custdist",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="left outer join (engine extension; SURVEY §2.3 lists outer joins "
    "as absent from the reference): TPC-H Q13 shape — customers kept even "
    "with zero orders (COUNT over the nullable side), then a second "
    "aggregation for the distribution.  Scale: join shuffles on custkey "
    "once; both aggregations get map-side partials; the second groupBy is "
    "over a tiny domain (distinct order counts)",
)
def outer_join_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "set_ops_order_status",
    """
WITH f_cust AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey
                FROM orders WHERE o_orderstatus = 'F'),
     o_cust AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey
                FROM orders WHERE o_orderstatus = 'O')
SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM f_cust INTERSECT SELECT custkey FROM o_cust)
UNION ALL
SELECT custkey, 'f_only' AS tag FROM (SELECT custkey FROM f_cust EXCEPT SELECT custkey FROM o_cust)
ORDER BY tag, custkey
""",
    doc="set operations (engine extension): INTERSECT and EXCEPT over "
    "distinct customer keys by order status, tagged and unioned.  Spark "
    "compiles intersect/exceptAll to aggregate+join under Catalyst — no "
    "custom operator.  The two distinct inputs each feed two set-op "
    "branches, so they are cached: the orders parquet is scanned once "
    "per side instead of twice (cache-reuse pinned in tests/test_plans.py)",
)
def set_ops_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("custkey"), "o_orderstatus"
    )
    f_cust = (
        orders.filter(F.col("o_orderstatus") == "F").select("custkey").distinct().cache()
    )
    o_cust = (
        orders.filter(F.col("o_orderstatus") == "O").select("custkey").distinct().cache()
    )
    both = f_cust.intersect(o_cust).withColumn("tag", F.lit("both"))
    f_only = f_cust.exceptAll(o_cust).withColumn("tag", F.lit("f_only"))
    return both.unionByName(f_only).select("custkey", "tag").orderBy("tag", "custkey")


@register(
    "events_lag_delta",
    f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       {sql_round_stable('value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id)', 2)} AS delta
FROM events
ORDER BY user_id, event_id
""",
    doc="lag/lead window (engine extension; reference's only window pattern "
    "is top-k ranking, SURVEY §2.5): per-user value delta vs the previous "
    "event, deterministic order by unique event_id.  One shuffle on "
    "user_id serves the window; no frame materialization (LAG is an "
    "offset window function)",
)
def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = readers.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.select(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            round_stable(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# SQL surface: ntile / percent_rank / INTERSECT / GROUPING SETS
# ---------------------------------------------------------------------------


@register(
    "orders_ntile_deciles",
    f"""
WITH d AS (
    SELECT o_orderpriority,
           NTILE(10) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS decile,
           o_totalprice
    FROM orders
)
SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_round_stable('MIN(o_totalprice)', 2)} AS min_price,
       {sql_round_stable('MAX(o_totalprice)', 2)} AS max_price
FROM d
GROUP BY o_orderpriority, decile
ORDER BY o_orderpriority, decile
""",
    doc="NTILE deciles of order value WITHIN each priority class — the "
    "window partitions on o_orderpriority, so every decile assignment is "
    "key-parallel (a GLOBAL ntile would funnel the table through one "
    "partition; at 100 TB global decile cut points come from "
    "approx_percentile instead).  Deterministic tie-break on o_orderkey",
    defer=True,
)
def orders_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            F.ntile(10).over(w).cast("int").alias("decile"),
            "o_totalprice",
        )
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_stable(F.min("o_totalprice"), 2).alias("min_price"),
            round_stable(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority", "decile")
    )


@register(
    "customer_acctbal_ranks",
    f"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(c_nationkey AS INTEGER) AS c_nationkey,
       {sql_round_stable(
           'PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)',
           4)} AS pct_rank,
       {sql_round_stable(
           'CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)',
           4)} AS cume
FROM customer
ORDER BY c_custkey
""",
    doc="percent_rank + cume_dist per nation (analytic-rank surface): "
    "both are peer-group functions of c_acctbal alone, so ties rank "
    "identically on any engine; one shuffle on c_nationkey serves both "
    "windows",
    defer=True,
)
def customer_acctbal_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        round_stable(F.percent_rank().over(w), 4).alias("pct_rank"),
        round_stable(F.cume_dist().over(w), 4).alias("cume"),
    ).orderBy("c_custkey")


@register(
    "orders_intersect_both_status",
    """
SELECT CAST(o_custkey AS BIGINT) AS custkey
FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT CAST(o_custkey AS BIGINT) AS custkey
FROM orders WHERE o_orderstatus = 'O'
ORDER BY custkey
""",
    doc="INTERSECT set operation (completes the set-op family next to "
    "set_ops_order_status's UNION/EXCEPT): customers holding both "
    "finished and open orders.  Lowers to an aggregate + hash semi join "
    "on the same key — one shuffle, map-side partial distinct",
    defer=True,
)
def orders_intersect_both_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pick = lambda s: (  # noqa: E731
        orders.filter(F.col("o_orderstatus") == s).select(
            F.col("o_custkey").cast("bigint").alias("custkey")
        )
    )
    return pick("F").intersect(pick("O")).orderBy("custkey")


@register(
    "revenue_grouping_sets",
    f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_round_stable('SUM(o_totalprice)', 2)} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
""",
    doc="GROUP BY GROUPING SETS — the explicit-sets member of the "
    "grouping family (rollup_revenue_region_nation and "
    "cube_lineitem_status cover the closed forms): per-priority, "
    "per-status, and grand-total aggregates in ONE pass (single Expand, "
    "3 replicas) instead of three scans + union",
    defer=True,
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_stable(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )
