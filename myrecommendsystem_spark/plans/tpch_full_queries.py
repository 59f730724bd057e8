"""Remaining TPC-H query shapes (Q2/Q6/Q7/Q8/Q9/Q10/Q11/Q12/Q14/Q15/Q16/
Q19/Q20 adaptations) — completes the classic warehouse surface.

With these, every TPC-H query shape is covered: Q1/Q3/Q4/Q5/Q13/Q17/Q18/
Q21/Q22 landed in earlier modules (tpch_queries, subquery_queries;
Q13 = outer_join_custdist).  The testdata schema is TPC-H-reduced — no
partsupp table, no l_shipmode/l_commitdate/l_receiptdate, no p_container —
so queries needing those are ADAPTED: the join/subquery/aggregation SHAPE
(what the optimizer must do) is preserved, the missing column is replaced
by a semantically-similar one that exists (adaptations documented
per-query).  The DuckDB oracles keep the classic spelling (CTEs, IN/NOT
IN, scalar subqueries) so both engines must agree after their own
decorrelation.

Scale notes common to all: dims (part/supplier/customer/nation/region)
broadcast — at 100 TB the lineitem fact dominates and must never be on
the build side; every aggregate is partial-aggregatable (map-side
combine); date/brand/size filters sit directly on scan columns so they
push to parquet.  Floating-point determinism: outputs round via
round_stable; internal comparisons (Q2's min-cost equality) compare only
order-independent aggregates (MIN of identical per-row IEEE divisions),
never cross-engine SUM tails.

All registered ``defer=True`` (registry tier 2): full DuckDB oracles,
replayed by tests/test_registry_oracle.py at the driver's scale, behind
the already-verified prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.plans.registry import RATINGS_CTE, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, name)


@register(
    "q6_revenue_forecast",
    f"""
SELECT {sql_round_stable('SUM(l_extendedprice * l_discount)', 2)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: pure scan-side conjunctive filter + global agg.  The "
    "whole WHERE clause pushes to the parquet scan (date + two numeric "
    "ranges are all plain column comparisons); the agg is a single "
    "partial/final sum — the cheapest possible shape, and the benchmark's "
    "canonical test that predicate pushdown actually happens",
    defer=True,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            round_stable(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q7_volume_shipping",
    f"""
SELECT supp_nation, cust_nation, l_year, {sql_round_stable('SUM(volume)', 2)} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7: bidirectional nation-pair volume by ship year.  Both "
    "nation dims broadcast; the disjunctive nation-pair predicate is a "
    "post-join residual on two broadcast-joined columns (cheap), while "
    "lineitem→orders is the one real shuffle.  year() is a codegen "
    "expression, not a UDF",
    defer=True,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rev = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair | rev)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(round_stable(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    f"""
SELECT o_year,
       {sql_round_stable(
           "SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) / SUM(volume)",
           4,
       )} AS mkt_share
FROM (
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume,
           n1.n_name AS supp_nation
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    doc="TPC-H Q8: market-share ratio via conditional aggregation — ONE "
    "pass computes both numerator (CASE WHEN) and denominator, never two "
    "scans.  7-way join: part filter broadcasts and prunes lineitem "
    "first (most selective), then orders (shuffle), then all-broadcast "
    "dims.  Ratio rounded to 4 places (sum tails are engine-dependent; "
    "the quotient is stable)",
    defer=True,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey")
    )
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    in_nation = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
        .groupBy("o_year")
        .agg(
            round_stable(F.sum(in_nation) / F.sum("volume"), 4).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    f"""
SELECT nation, o_year, {sql_round_stable('SUM(amount)', 2)} AS sum_profit
FROM (
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           l.l_extendedprice * (1 - l.l_discount)
             - 0.5 * p.p_retailprice * l.l_quantity AS amount
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    doc="TPC-H Q9 adapted: no partsupp/ps_supplycost in testdata → unit "
    "cost proxied by 0.5·p_retailprice (shape preserved: LIKE-filtered "
    "part dim broadcast, profit expression over fact×dim columns, "
    "two-key agg).  The LIKE '%red%' is a non-prefix contains — not "
    "pushable to parquet, but evaluated on the broadcast-small part dim, "
    "not the fact",
    defer=True,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount")
        )
        .groupBy("nation", "o_year")
        .agg(round_stable(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q10_returned_items",
    f"""
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM (
    SELECT c.c_custkey, c.c_name,
           {sql_round_stable('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
) g
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10: top-20 customers by returned-item revenue.  Global "
    "top-k over an aggregate → TakeOrderedAndProject (never a full sort); "
    "ORDER BY uses the ROUNDED revenue with c_custkey tiebreak so the "
    "top-20 cut is deterministic across engines (raw double sums differ "
    "in the last ulp between summation orders)",
    defer=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q11_important_parts",
    f"""
WITH val AS (
    SELECT l.l_partkey AS partkey,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS v
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = (
        SELECT n2.n_name
        FROM supplier s2 JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        GROUP BY n2.n_name
        ORDER BY COUNT(*) DESC, n2.n_name
        LIMIT 1
    )
    GROUP BY l.l_partkey
)
SELECT partkey, {sql_round_stable('v', 2)} AS part_value
FROM val
WHERE v > (SELECT SUM(v) * 0.001 FROM val)
ORDER BY part_value DESC, partkey
""",
    doc="TPC-H Q11 adapted: no partsupp → per-part 'stock value' proxied "
    "by one-nation lineitem revenue (shape preserved: grouped agg "
    "compared against an uncorrelated scalar fraction of ITS OWN total). "
    "The nation is data-driven (most suppliers, name tie-break) and the "
    "share cut is 0.1%: the synthetic supplier->nation assignment is "
    "sparse and near-uniform, so the spec's literal nation + 0.5% cut "
    "selected zero rows at every sf — the check was vacuous. "
    "Spark plan: the val aggregate computes once and is reused for both "
    "the global sum (1-row broadcast cross join) and the filter — a "
    "cached self-referential CTE, never two scans of the fact",
    defer=True,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation_all = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation = (
        supplier.join(
            F.broadcast(nation_all),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_sup"))
        .orderBy(F.col("n_sup").desc(), "n_name")
        .limit(1)
        .select("n_nationkey")
    )
    val = (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v")
        )
    ).persist()  # consumed twice: global-sum side and filter side
    cut = val.agg((F.sum("v") * F.lit(0.001)).alias("cut"))
    return (
        val.crossJoin(F.broadcast(cut))
        .filter(F.col("v") > F.col("cut"))
        .select("partkey", round_stable(F.col("v"), 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "q12_priority_linestatus",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    doc="TPC-H Q12 adapted: no l_shipmode/l_commitdate → grouped by "
    "l_linestatus with 'late' = shipped ≥30 days after order (shape "
    "preserved: join + dual conditional counts in one aggregate pass). "
    "The date-range conjuncts push to the lineitem scan; the "
    "late-shipment comparison is a join residual",
    defer=True,
)
def q12_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q14_promo_effect",
    f"""
SELECT {sql_round_stable(
        "100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) "
        "ELSE 0 END) / SUM(l_extendedprice * (1 - l_discount))",
        4,
    )} AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
    doc="TPC-H Q14: promo revenue share — conditional-aggregate ratio in "
    "one pass (p_type carried through a broadcast join of the part dim; "
    "p_type = 'PROMO' replaces LIKE 'PROMO%' — the testdata p_type domain "
    "is single-word).  Month filter pushes to the lineitem scan",
    defer=True,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            round_stable(
                F.lit(100.0) * F.sum(promo) / F.sum(rev), 4
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, {sql_round_stable('r.total_revenue', 2)} AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
""",
    doc="TPC-H Q15: CTE reused by both the probe and the scalar MAX "
    "subquery.  Spark plan: the revenue aggregate persists and feeds (a) "
    "a 1-row MAX broadcast cross join and (b) the equality filter — the "
    "quarter of lineitem is scanned ONCE.  Cross-engine determinism: each "
    "engine compares its own sums to its own max, so ulp-level sum "
    "differences cannot flip membership unless two suppliers tie within "
    "1 ulp of the top",
    defer=True,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    ).persist()  # reused: MAX side + probe side, one lineitem scan
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            round_stable(F.col("total_revenue"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q16_part_supplier_cnt",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
    doc="TPC-H Q16 adapted: no partsupp → part-supplier pairs come from "
    "lineitem; 'customer complaints' blacklist proxied by negative-balance "
    "suppliers (shape preserved: NOT IN → left anti broadcast join on a "
    "non-nullable key, then COUNT DISTINCT over a filtered dim join). "
    "The brand/size filters prune the broadcast part dim before the fact "
    "join",
    defer=True,
)
def q16_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(blacklist, "l_suppkey", "leftanti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q19_disjunctive_revenue",
    f"""
SELECT {sql_round_stable('SUM(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 35)
""",
    doc="TPC-H Q19: OR-of-conjunct-groups spanning both join sides.  The "
    "Spark plan adds the IMPLIED single-table conjuncts (brand IN (...), "
    "quantity BETWEEN overall min/max) ahead of the join — Catalyst does "
    "not factor disjunctions across tables itself, so the classic Q19 "
    "rewrite is done here: both scans prune before the broadcast join, "
    "and the full disjunction remains as the post-join residual (oracle "
    "keeps the pure OR spelling; the added conjuncts are implied, so "
    "semantics are identical)",
    defer=True,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 35)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 35)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    g1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 15)
    )
    g2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 25)
    )
    g3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 35)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(g1 | g2 | g3)
        .agg(
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q2_min_cost_supplier",
    f"""
WITH cost AS (
    SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
       {sql_round_stable('c.unit_cost', 4)} AS unit_cost
FROM part p
JOIN cost c ON c.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
  AND c.unit_cost = (
      SELECT MIN(c2.unit_cost)
      FROM cost c2
      JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_name, p.p_partkey
""",
    doc="TPC-H Q2 adapted: no partsupp/ps_supplycost → supply cost proxied "
    "by each (part, supplier)'s best observed unit price from lineitem "
    "(shape preserved: correlated MIN subquery over the same derived "
    "relation, decorrelated to a per-part MIN + equality join back). "
    "Cross-engine safe: MIN is order-independent and the per-row division "
    "is identical IEEE on both engines — unlike SUM, equality on it "
    "cannot diverge.  Region filter applies to BOTH the probe and the "
    "min-scope, matching the classic query",
    defer=True,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    # The p_size filter (2% of parts) pushes AHEAD of the cost aggregate:
    # per-part MIN commutes with restricting the part set, so the fact
    # prunes to the interesting parts before any shuffle — the classic Q2
    # plan (aggregating costs for every part and filtering at the end was
    # measured 4.9 s vs 1.3 s warm at sf0.1).  p_name rides the grouping
    # key (same cardinality — one name per partkey).
    cost = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "p_name", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
        )
    )
    # region-scoped costs: used for both the probe side and the per-part min
    eu_cost = (
        cost.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey", "p_name", "l_suppkey", "unit_cost", "s_name", "n_name")
    ).persist()
    best = eu_cost.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        eu_cost.join(
            best,
            (F.col("l_partkey") == F.col("bk"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "n_name",
            round_stable(F.col("unit_cost"), 4).alias("unit_cost"),
        )
        .orderBy("s_name", "p_partkey")
    )


@register(
    "q20_part_qty_suppliers",
    """
SELECT s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    )
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(l.l_quantity) > 40
)
ORDER BY s.s_name
""",
    doc="TPC-H Q20 adapted: no partsupp/ps_availqty → 'heavily shipping' "
    "suppliers = shipped >40 units of some small-part in the year (shape "
    "preserved: nested IN subqueries → prefix-filtered dim semi join "
    "inside a grouped-HAVING derivation, then a semi join to supplier). "
    "LIKE 'small%' is a prefix → pushes as a range predicate on the part "
    "scan",
    defer=True,
)
def q20_part_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    heavy = (
        li.join(F.broadcast(small_parts), "l_partkey", "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 40)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        supplier.join(heavy, "s_suppkey", "leftsemi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


@register(
    "global_row_numbers",
    """
SELECT o_orderkey, o_totalprice,
       CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
            AS BIGINT) AS row_num
FROM orders
""",
    doc="dense global row numbering WITHOUT a global sort: the naive "
    "row_number() OVER (ORDER BY ...) range-shuffles all rows into one "
    "partition; operators/indexing.py does the two-pass partition-offset "
    "scheme instead (range repartition -> per-partition window -> P-row "
    "offset broadcast).  Same numbers, no single-partition stage — "
    "plan-pinned in tests/test_plans.py",
    defer=True,
)
def global_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.indexing import (
        assign_global_row_numbers,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # DESC price with ASC orderkey tie-break: express the descending term
    # as a negated sort key (repartitionByRange accepts column exprs)
    numbered = assign_global_row_numbers(
        orders.withColumn("_neg_price", -F.col("o_totalprice")),
        order_cols=["_neg_price", "o_orderkey"],
    )
    return numbered.select("o_orderkey", "o_totalprice", "row_num")


@register(
    "incremental_user_stats",
    f"""
SELECT user_id,
       CAST(COUNT(value) AS BIGINT) AS n,
       {sql_round_stable('SUM(value)', 2)} AS total,
       MIN(value) AS vmin,
       MAX(value) AS vmax,
       {sql_round_stable('SUM(value) / COUNT(value)', 4)} AS vavg
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="incremental aggregate maintenance (operators/incremental.py): the "
    "Spark side computes per-user stats as merge(state(first half-month), "
    "state(second half-month)) — mergeable (cnt, sum, min, max) monoid "
    "state, derived avg at read time — while the oracle aggregates the "
    "full relation directly.  Hash equality IS the proof that inter-run "
    "state merging reproduces the from-scratch aggregate; per refresh the "
    "shuffle moves |keys| state rows, not |history| fact rows",
    defer=True,
)
def incremental_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import incremental as INC

    events = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    cut = F.lit("2024-01-15").cast("timestamp")
    old_state = INC.aggregate_state(
        events.filter(F.col("ts") < cut), ["user_id"], "value"
    )
    new_state = INC.aggregate_state(
        events.filter(F.col("ts") >= cut), ["user_id"], "value"
    )
    merged = INC.merge_states(old_state, new_state, ["user_id"])
    return (
        INC.finalize_stats(merged, ["user_id"])
        .select(
            "user_id",
            F.col("n"),
            round_stable(F.col("total"), 2).alias("total"),
            "vmin",
            "vmax",
            round_stable(F.col("vavg"), 4).alias("vavg"),
        )
        .orderBy("user_id")
    )


@register(
    "approx_users_hll_merge",
    None,  # Datasketches HLL bytes aren't DuckDB-reproducible — rows-only;
    # the merge-losslessness property is pinned exactly in
    # tests/test_maintenance.py::test_hll_union_of_slices_equals_direct
    doc="mergeable distinct-count sketches: per-(event_type, day) HLL "
    "sketches union-merged to per-type estimates, next to the exact "
    "count.  The sketch state is the 100 TB shape for COUNT(DISTINCT) "
    "maintenance: a day's refresh touches one day's slice, merge is "
    "associative/commutative/lossless at equal precision (union of "
    "sketches ≡ sketch of union, bit-exact), and the shuffle carries "
    "KB-scale sketch bytes per group, never user ids",
)
def approx_users_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = events.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", 12).alias("sk"),
        F.count_distinct("user_id").alias("exact_day"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.sum("exact_day").alias("sum_daily_exact"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_price_histogram",
    f"""
SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi,
       {sql_round_stable('SUM(o_totalprice)', 2)} AS total
FROM orders
GROUP BY bucket
ORDER BY bucket
""",
    doc="fixed-width histogram of order totals: one partial/final agg "
    "pass, bucket id a codegen floor division (data-independent bucket "
    "edges — reproducible across engines and table versions, unlike "
    "min/max-derived edges).  The distribution-analysis staple",
    defer=True,
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_totalprice")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000.0).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            round_stable(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "events_funnel_conversion",
    """
WITH stage AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicked_after_view,
       CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM stage
""",
    doc="funnel conversion (view → click → purchase, time-ordered): "
    "per-user first-touch timestamps via conditional MIN — ONE pass over "
    "the fact, one narrow (user_id) aggregate, then a 4-counter global "
    "fold.  The sequencing predicate compares per-user MINs, not "
    "event-pair joins — the O(N) funnel formulation, not the O(N²) "
    "self-join one.  NULL comparisons are UNKNOWN → counted false in "
    "both engines",
    defer=True,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stage = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).alias("n_clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


@register(
    "events_latest_per_user",
    """
SELECT user_id, event_id, event_type, value
FROM (
    SELECT user_id, event_id, event_type, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
    doc="keep-latest dedup / SCD type-1 (operators/relational.py:"
    "latest_by_key): each user's most recent event via one keyed window "
    "— one shuffle, spillable, event_id tiebreak for equal timestamps",
    defer=True,
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.relational import latest_by_key

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    return (
        latest_by_key(ev, ["user_id"], "ts", tiebreak_col="event_id")
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


@register(
    "doc_top_terms_global",
    r"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents
    WHERE length(trim(text)) > 0
)
GROUP BY term
ORDER BY freq DESC, term
LIMIT 20
""",
    doc="global heavy hitters (vocabulary head): explode tokens → "
    "partial/final count → TakeOrderedAndProject top-20.  The wordcount "
    "shape with the two scale properties that matter: map-side combine "
    "collapses each partition's counts before the shuffle, and the "
    "global top-k never sorts the full vocabulary",
    defer=True,
)
def doc_top_terms_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(20)
    )


@register(
    "events_distinct_products_two_phase",
    f"""
WITH {RATINGS_CTE}
SELECT userId, CAST(COUNT(DISTINCT productId) AS BIGINT)
           AS n_distinct_productId
FROM ratings
GROUP BY userId
ORDER BY userId
""",
    doc="hot-key-safe COUNT(DISTINCT) (operators/skew.py:"
    "count_distinct_two_phase): dedupe shuffle on (key, value) spreads a "
    "whale key across partitions with O(1) buffers, then a plain count — "
    "same answer as the direct distinct aggregate at any skew",
    defer=True,
)
def events_distinct_products_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import count_distinct_two_phase

    ratings = readers.events_as_ratings(spark, sf_dir)
    return count_distinct_two_phase(
        ratings, ["userId"], "productId"
    ).orderBy("userId")


@register(
    "events_value_quantiles_by_type",
    f"""
SELECT event_type,
       {sql_round_stable('quantile_cont(value, 0.5)', 4)} AS p50,
       {sql_round_stable('quantile_cont(value, 0.9)', 4)} AS p90,
       {sql_round_stable('quantile_cont(value, 0.99)', 4)} AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="grouped EXACT interpolated quantiles (F.percentile ≡ SQL "
    "quantile_cont — same linear-interpolation definition in both "
    "engines, so this is hash-gateable where the HLL/GK approx variants "
    "are not).  Exact percentile buffers each group's values — the "
    "approx_percentile twin (approx_distinct_users) is the documented "
    "100 TB default; this is the small-group/high-accuracy tool",
    defer=True,
)
def events_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return (
        ev.groupBy("event_type")
        .agg(
            round_stable(F.percentile("value", 0.5), 4).alias("p50"),
            round_stable(F.percentile("value", 0.9), 4).alias("p90"),
            round_stable(F.percentile("value", 0.99), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "lineitem_measures_unpivot",
    f"""
SELECT measure,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_round_stable('SUM(val)', 2)} AS total,
       {sql_round_stable('AVG(val)', 4)} AS mean
FROM (
    SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount
        FROM lineitem
    )
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
)
GROUP BY measure
ORDER BY measure
""",
    doc="UNPIVOT/melt (the pivot inverse): wide measures to long "
    "(measure, value) rows — Spark lowers unpivot to a single Expand "
    "(one scan, rows×measures output), then a 3-row aggregate.  The "
    "long-form shape feeds generic per-metric pipelines without "
    "per-column plumbing",
    defer=True,
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    )
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_stable(F.sum("val"), 2).alias("total"),
            round_stable(F.avg("val"), 4).alias("mean"),
        )
        .orderBy("measure")
    )


@register(
    "user_event_type_profile",
    """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS profile,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="ordered string aggregation (LISTAGG): each user's distinct event "
    "types as a canonical CSV — collect_set + array_sort + array_join on "
    "the Spark side (deterministic: sorted before join, so both engines "
    "produce identical strings).  The profile-feature shape for "
    "segmentation joins",
    defer=True,
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("event_type")), ","
            ).alias("profile"),
            F.count_distinct("event_type").alias("n_types"),
        )
        .orderBy("user_id")
    )


@register(
    "events_hourly_gapfill",
    f"""
WITH obs AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           {sql_round_stable('SUM(value)', 2)} AS val
    FROM events GROUP BY event_type, date_trunc('hour', ts)
), bounds AS (
    SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
    FROM obs GROUP BY event_type
), grid AS (
    SELECT event_type,
           unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
    FROM bounds
)
SELECT g.event_type,
       strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       o.val,
       last_value(o.val IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS val_ffill,
       CAST(CASE WHEN o.val IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
FROM grid g
LEFT JOIN obs o ON o.event_type = g.event_type AND o.bucket = g.bucket
ORDER BY g.event_type, g.bucket
""",
    doc="time-series regularization (operators/timeseries.py): dense "
    "hourly grid per event_type via sequence+explode (JVM-side, never a "
    "driver loop), observed sums left-joined on, gaps forward-filled "
    "with last(ignorenulls) over a streaming ROWS frame.  Sum rounded "
    "BEFORE the fill so both engines carry identical values",
    defer=True,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.timeseries import resample_ffill

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    out = resample_ffill(
        ev,
        key_col="event_type",
        ts_col="ts",
        agg_expr=round_stable(F.sum("value"), 2),
        step="1 hour",
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "val",
        "val_ffill",
        "is_gap",
    ).orderBy("event_type", "bucket")


@register(
    "ratings_kfold_sizes",
    f"""
WITH {RATINGS_CTE},
folded AS (
    SELECT userId,
           CAST(CAST(('0x' || substring(md5('fold' || CAST(userId AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INTEGER) AS fold
    FROM ratings
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT userId) AS BIGINT) AS n_users
FROM folded
GROUP BY fold
ORDER BY fold
""",
    doc="deterministic whole-key k-fold assignment (operators/sampling.py:"
    "kfold_assignment): fold = md5(salt++key)[:8] mod k — a pure function "
    "of the data, identical on any engine/partitioning/run (the "
    "reproducibility randomSplit can't give), with each user's history "
    "fold-complete.  Hash-gated: DuckDB reproduces the md5 arithmetic "
    "exactly",
    defer=True,
)
def ratings_kfold_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import kfold_assignment

    ratings = readers.events_as_ratings(spark, sf_dir)
    folded = kfold_assignment(ratings, "userId", k=5)
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("userId").alias("n_users"),
        )
        .orderBy("fold")
    )


@register(
    "events_weighted_sample",
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       {sql_round_stable('SUM(value)', 2)} AS kept_value
FROM (
    SELECT event_type, value
    FROM events
    WHERE CAST(CAST(('0x' || substring(md5('wsample' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0
          < (CASE event_type WHEN 'error' THEN 0.05 ELSE 0.5 END)
)
GROUP BY event_type
ORDER BY event_type
""",
    doc="deterministic weighted sampling (operators/sampling.py:"
    "sample_weighted) — the data-mixture primitive: per-row keep "
    "probability from a weight expression (here: downsample 'error' "
    "events 10× vs the rest), decided by a pure md5 function of the row "
    "key so engines/reruns/repartitions agree exactly.  Hash-gated: "
    "DuckDB reproduces the md5 coordinate arithmetic",
    defer=True,
)
def events_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import sample_weighted

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    weight = F.when(F.col("event_type") == "error", 0.05).otherwise(0.5)
    kept = sample_weighted(ev, "event_id", weight)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            round_stable(F.sum("value"), 2).alias("kept_value"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_snapshot_diff",
    """
WITH v1 AS (
    SELECT o_orderkey AS k, o_totalprice AS v FROM orders
), v2 AS (
    SELECT o_orderkey AS k,
           o_totalprice
             + CASE WHEN o_orderkey % 101 = 0 THEN 10.0 ELSE 0.0 END AS v
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000 AS k, o_totalprice AS v
    FROM orders WHERE o_orderkey % 103 = 0
)
SELECT COALESCE(v1.k, v2.k) AS k,
       CASE WHEN v1.k IS NULL THEN 'added'
            WHEN v2.k IS NULL THEN 'removed'
            WHEN v1.v IS DISTINCT FROM v2.v THEN 'changed'
       END AS status
FROM v1 FULL JOIN v2 ON v1.k = v2.k
WHERE (CASE WHEN v1.k IS NULL THEN 'added'
            WHEN v2.k IS NULL THEN 'removed'
            WHEN v1.v IS DISTINCT FROM v2.v THEN 'changed'
       END) IS NOT NULL
ORDER BY k
""",
    doc="CDC-style snapshot diff (operators/incremental.py:diff_tables): "
    "v2 derives deterministically from orders (every 97th key removed, "
    "every 101st price changed, every 103rd re-keyed as an add) and the "
    "diff emits ONLY the delta — one full-outer hash join on the key, "
    "null-side checks + null-safe column comparison.  The "
    "audit/incremental-refresh primitive",
    defer=True,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.incremental import diff_tables

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    changed = orders.filter(F.col("k") % 97 != 0).withColumn(
        "v",
        F.col("v") + F.when(F.col("k") % 101 == 0, 10.0).otherwise(0.0),
    )
    added = orders.filter(F.col("k") % 103 == 0).withColumn(
        "k", F.col("k") + 10_000_000
    )
    v2 = changed.unionByName(added)
    return diff_tables(orders, v2, keys=["k"], compare_cols=["v"]).orderBy("k")


@register(
    "events_value_winsorized",
    f"""
WITH cuts AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS lo,
           quantile_cont(value, 0.95) AS hi
    FROM events GROUP BY event_type
)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type,
       {sql_round_stable('LEAST(GREATEST(e.value, c.lo), c.hi)', 4)} AS value_w
FROM events e JOIN cuts c USING (event_type)
ORDER BY event_id
""",
    doc="robust-stats winsorization: per-type p05/p95 cut points (exact "
    "interpolated percentile, F.percentile ≡ quantile_cont) clip outlier "
    "values — the standard feature-cleaning step before training.  Cut "
    "table is per-type tiny and broadcast back; the fact scan never "
    "shuffles",
    defer=True,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            round_stable(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 4
            ).alias("value_w"),
        )
        .orderBy("event_id")
    )


@register(
    "events_type_transitions",
    f"""
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM events
),
t AS (
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
tot AS (
    SELECT from_type, CAST(SUM(n) AS DOUBLE) AS total
    FROM t GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n,
       {sql_round_stable('t.n / tot.total', 4)} AS p
FROM t JOIN tot USING (from_type)
ORDER BY from_type, to_type
""",
    doc="user-journey transition matrix (Markov analytics over the event "
    "stream): per-user LEAD pairs consecutive event types — one user_id "
    "shuffle, offset window, no frame buffer — then a grouped count and "
    "per-source-row normalization (the funnel query's generalization "
    "from one fixed path to all observed paths)",
    defer=True,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = t.groupBy("from_type").agg(F.sum("n").cast("double").alias("total"))
    return (
        t.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            round_stable(F.col("n") / F.col("total"), 4).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "events_value_zscores",
    f"""
WITH s AS (
    SELECT event_type,
           AVG(value) AS mu,
           STDDEV_SAMP(value) AS sigma
    FROM events GROUP BY event_type
)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type,
       {sql_round_stable('(e.value - s.mu) / s.sigma', 4)} AS z
FROM events e JOIN s USING (event_type)
WHERE ABS((e.value - s.mu) / s.sigma) >= 3.0
ORDER BY event_id
""",
    doc="z-score anomaly detection: per-type mean/stddev (tiny, "
    "broadcast back) flag |z| >= 3 outliers — the streaming-alert "
    "batch twin; the fact scan never shuffles",
    defer=True,
)
def events_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) >= 3.0)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            round_stable(z, 4).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "events_user_retention_cohorts",
    """
WITH first AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
)
SELECT CAST(strftime(f.d0, '%Y%m%d') AS INTEGER) AS cohort,
       CAST(date_diff('day', f.d0, CAST(e.ts AS DATE)) AS INTEGER) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN first f USING (user_id)
GROUP BY cohort, day_offset
ORDER BY cohort, day_offset
""",
    doc="retention cohort analysis (the product-analytics staple): users "
    "cohorted by first-activity date, activity counted per day offset — "
    "one user-keyed aggregate for cohorts, a user-keyed join back, and "
    "a (cohort, offset) count-distinct; every stage map-side-combinable",
    defer=True,
)
def events_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    return (
        ev.join(first, "user_id")
        .select(
            F.date_format("d0", "yyyyMMdd").cast("int").alias("cohort"),
            F.datediff(F.to_date("ts"), F.col("d0")).cast("int").alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
        .orderBy("cohort", "day_offset")
    )


@register(
    "lineitem_correlations",
    f"""
SELECT 'qty_price' AS pair,
       {sql_round_stable('corr(l_quantity, l_extendedprice)', 4)} AS r
FROM lineitem
UNION ALL
SELECT 'qty_discount',
       {sql_round_stable('corr(l_quantity, l_discount)', 4)}
FROM lineitem
UNION ALL
SELECT 'price_discount',
       {sql_round_stable('corr(l_extendedprice, l_discount)', 4)}
FROM lineitem
ORDER BY pair
""",
    doc="pairwise Pearson correlations over lineitem measures (the "
    "feature-engineering sanity check): corr is a single-pass "
    "partial-aggregable moment computation — three aggregates over one "
    "relation, no data reshuffle beyond the final 1-row combines",
    defer=True,
)
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rows = [
        ("qty_price", F.corr("l_quantity", "l_extendedprice")),
        ("qty_discount", F.corr("l_quantity", "l_discount")),
        ("price_discount", F.corr("l_extendedprice", "l_discount")),
    ]
    dfs = [
        li.agg(round_stable(expr, 4).alias("r")).select(
            F.lit(name).alias("pair"), "r"
        )
        for name, expr in rows
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.orderBy("pair")


@register(
    "events_top_paths",
    """
WITH seq AS (
    SELECT event_type AS a,
           LEAD(event_type, 1) OVER w AS b,
           LEAD(event_type, 2) OVER w AS c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a || '>' || b || '>' || c AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 20
""",
    doc="top user journeys: 3-step event-type paths via double LEAD "
    "(one user_id shuffle, offset windows, no frame buffer), grouped "
    "count, global top-20 as TakeOrderedAndProject — the transition "
    "matrix's sequence-level companion",
    defer=True,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "a", "b", "c").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )
