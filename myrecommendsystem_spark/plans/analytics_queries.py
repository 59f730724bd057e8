"""Analytics extensions — relational division, RFM, basket lift,
activity windows, and corpus-mixture / boilerplate tooling.

All registered ``defer=True`` (registry tier 2 → driver window):
full DuckDB oracles, replayed locally by tests/test_registry_oracle.py at
the driver's scale every round.  Conventions follow registry.py (shared
aliases, BIGINT counts, ROUND'd floats, deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.operators import stats
from myrecommendsystem_spark.plans import ann_oracles
from myrecommendsystem_spark.plans.registry import register
from myrecommendsystem_spark.plans.text_queries import _SHINGLES_CTE


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational division (the "for all" join shape)
# ---------------------------------------------------------------------------


@register(
    "suppliers_covering_all_types",
    """
WITH shipped AS (
    SELECT DISTINCT l_suppkey, p_type
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
total AS (SELECT COUNT(DISTINCT p_type) AS n_types FROM part)
SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_types_shipped
FROM shipped CROSS JOIN total
GROUP BY l_suppkey, n_types
HAVING COUNT(*) = n_types
ORDER BY suppkey
""",
    doc="relational DIVISION (the universal-quantifier join the engine "
    "has no native operator for): suppliers whose shipments cover EVERY "
    "part type.  Decomposed the standard way — distinct (supplier, type) "
    "pairs, per-supplier count equality against the 1-row universe "
    "count riding a broadcast.  No NOT EXISTS double-negation: one "
    "aggregate, one broadcast, no correlated subquery to decorrelate",
    defer=True,
)
def suppliers_covering_all_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_suppkey", "p_type")
        .distinct()
    )
    total = part.agg(F.countDistinct("p_type").alias("n_types"))
    return (
        shipped.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_types_shipped"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_types_shipped") == F.col("n_types"))
        .select(
            F.col("l_suppkey").cast("bigint").alias("suppkey"),
            F.col("n_types_shipped").cast("bigint"),
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_scores",
    """
WITH agg AS (
    SELECT o_custkey AS custkey,
           MAX(o_orderdate) AS last_order,
           COUNT(*) AS freq,
           SUM(o_totalprice) AS monetary
    FROM orders GROUP BY o_custkey
)
SELECT CAST(custkey AS BIGINT) AS custkey,
       CAST(NTILE(4) OVER (ORDER BY last_order DESC, custkey) AS INTEGER) AS r,
       CAST(NTILE(4) OVER (ORDER BY freq DESC, custkey) AS INTEGER) AS f,
       CAST(NTILE(4) OVER (ORDER BY monetary DESC, custkey) AS INTEGER) AS m
FROM agg
ORDER BY custkey
""",
    doc="RFM segmentation (recency/frequency/monetary quartiles, 1 = "
    "best): one orders aggregate, three NTILE windows with custkey "
    "tie-breaks so both engines bucket identically.  Global rank "
    "windows lower to a single-partition sort — fine for a customer "
    "dimension; a fact-scale variant would join broadcast quantile cuts "
    "(the events_value_winsorized shape) instead",
    defer=True,
)
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("o_totalprice").alias("monetary"),
    )
    quartile = lambda col: F.ntile(4).over(  # noqa: E731
        Window.orderBy(F.col(col).desc(), "custkey")
    )
    return (
        agg.select(
            F.col("custkey").cast("bigint"),
            quartile("last_order").cast("int").alias("r"),
            quartile("freq").cast("int").alias("f"),
            quartile("monetary").cast("int").alias("m"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Event-cadence analytics
# ---------------------------------------------------------------------------


@register(
    "events_median_gap",
    f"""
WITH gaps AS (
    SELECT user_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_ms
    FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(gap_ms) AS BIGINT) AS n_gaps,
       {sql_round_stable('quantile_cont(gap_ms / 1000.0, 0.5)', 2)}
           AS median_gap_s
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY user_id
ORDER BY user_id
""",
    doc="per-user median inter-event gap (engagement cadence): LAG "
    "offset window for consecutive deltas (one user_id exchange), exact "
    "interpolated median (F.percentile ≡ quantile_cont).  Millisecond "
    "integers from both engines' epoch accessors keep the inputs "
    "bit-identical before the quantile",
    defer=True,
)
def events_median_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives TIMESTAMP_NTZ; the UTC session timezone (ensure_engine_confs)
    # makes the cast to instant semantics-preserving for unix_millis
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return (
        gaps.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            F.count("gap_ms").alias("n_gaps"),
            round_stable(
                F.percentile(F.col("gap_ms") / 1000.0, 0.5), 2
            ).alias("median_gap_s"),
        )
        .orderBy("user_id")
    )


@register(
    "events_dau_wau",
    """
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM user_days)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END)
            AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
FROM days d
JOIN user_days u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
ORDER BY day
""",
    doc="DAU / trailing-7-day WAU: distinct (user, day) pairs once, then "
    "a range join of the tiny day spine against them — the trailing "
    "window of a DISTINCT aggregate cannot ride a frame (distinct-over-"
    "window is unsupported), so the spine join IS the standard shape; "
    "blow-up bounded at 7× the user-day relation, spine broadcast",
    defer=True,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = user_days.select("day").distinct()
    joined = user_days.alias("u").join(
        F.broadcast(days.alias("d")),
        (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
        & (F.col("u.day") <= F.col("d.day")),
    )
    return (
        joined.groupBy(F.col("d.day").alias("d_day"))
        .agg(
            F.countDistinct(
                F.when(F.col("u.day") == F.col("d.day"), F.col("u.user_id"))
            ).alias("dau"),
            F.countDistinct("u.user_id").alias("wau"),
        )
        .select(
            F.date_format("d_day", "yyyy-MM-dd").alias("day"), "dau", "wau"
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Market-basket lift (orders twin of the ratings PMI)
# ---------------------------------------------------------------------------


@register(
    "orders_basket_lift",
    f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM items),
pc AS (SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS n_p
       FROM items GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS pid_a, b.l_partkey AS pid_b,
           CAST(COUNT(*) AS DOUBLE) AS n_ab
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT CAST(pid_a AS BIGINT) AS pid_a,
       CAST(pid_b AS BIGINT) AS pid_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       {sql_round_stable('n_ab * n_orders / (ca.n_p * cb.n_p)', 4)} AS lift
FROM pairs
JOIN pc ca ON pairs.pid_a = ca.l_partkey
JOIN pc cb ON pairs.pid_b = cb.l_partkey
CROSS JOIN n
WHERE n_ab >= 3
ORDER BY pid_a, pid_b
""",
    doc="market-basket lift over order baskets — the orders-table twin "
    "of product_cooccurrence_pmi (lift = P(a,b)/(P(a)P(b)) vs its log "
    "form): pair volume bounded by per-order basket size squared (no "
    "cap needed — baskets are physically small), part-count tables "
    "broadcast, support floor n_ab >= 3.  Pairs are "
    "generated IN-ROW from a per-order collect_set basket array "
    "(sorted, upper-triangle via transform-over-slice — slice on a "
    "plain column attribute is HOF-safe) instead of the items "
    "self-join, dropping a corpus-sized join shuffle: one shuffle "
    "builds baskets, one aggregates pairs, and n_orders/part counts "
    "fall out of the same basket relation",
    defer=True,
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    pc = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("double").alias("n_p"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ps"),
                    i + 2,
                    F.greatest(F.size(F.col("ps")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("pid_a"), y.alias("pid_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pid_a", "p.pid_b")
        .groupBy("pid_a", "pid_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    # Deliberately LAZY: the printed
    # plan shows the basket/pc legs duplicated, but at runtime AQE
    # stage reuse runs the shared lineitem shuffle and the canonically
    # identical pc broadcast once within the single action; an eager
    # checkpoint of pc SPLIT that reuse into two executions (two
    # lineitem scans+shuffles) and doubled wall time at sf0.1.
    ca = pc.withColumnsRenamed({"l_partkey": "pid_a", "n_p": "na"})
    cb = pc.withColumnsRenamed({"l_partkey": "pid_b", "n_p": "nb"})
    return (
        pairs.join(F.broadcast(ca), "pid_a")
        .join(F.broadcast(cb), "pid_b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pid_a").cast("bigint"),
            F.col("pid_b").cast("bigint"),
            F.col("n_ab").cast("bigint"),
            round_stable(
                F.col("n_ab")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy("pid_a", "pid_b")
    )


# ---------------------------------------------------------------------------
# Corpus analytics: boilerplate, entropy, diversity, curriculum, mixture
# ---------------------------------------------------------------------------

@register(
    "doc_boilerplate_ngrams",
    f"""
WITH {_SHINGLES_CTE}
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(g) AS gram FROM sh)
GROUP BY gram
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, gram
LIMIT 20
""",
    doc="cross-document boilerplate n-grams (C4-style strip-list "
    "builder): distinct word 3-grams per doc, DOCUMENT frequency "
    "aggregate, top-20 — corpus-level complement of the within-doc "
    "repetition signals; shingle-array explode, TakeOrderedAndProject",
    defer=True,
)
def doc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.corpus_quality import (
        boilerplate_ngrams,
    )

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=3, min_docs=2, k=20
    )


@register(
    "doc_token_entropy",
    f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS term
    FROM documents WHERE length(trim(text)) > 0
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c
    FROM toks GROUP BY doc_id, term
),
tot AS (SELECT doc_id, SUM(c) AS t FROM tf GROUP BY doc_id)
SELECT tf.doc_id,
       {sql_round_stable('-SUM((c / t) * ln(c / t))', 4)} AS token_entropy
FROM tf JOIN tot USING (doc_id)
GROUP BY tf.doc_id
ORDER BY tf.doc_id
""",
    doc="per-document token-distribution Shannon entropy (nats) — the "
    "quality signal that separates natural prose from keyword stuffing "
    "and generator loops: two-level aggregate (tf, then -sum p ln p), "
    "one doc_id shuffle shared by both levels",
    defer=True,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tf = (
        docs.select(
            "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(round_stable(-F.sum(p * F.log(p)), 4).alias("token_entropy"))
        .orderBy("doc_id")
    )


@register(
    "corpus_vocab_diversity",
    f"""
WITH toks AS (
    SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS term
    FROM documents WHERE length(trim(text)) > 0
),
tf AS (
    SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS c
    FROM toks GROUP BY source, term
),
tot AS (SELECT source, SUM(c) AS t, COUNT(*) AS v FROM tf GROUP BY source)
SELECT tf.source,
       CAST(MAX(tot.t) AS BIGINT) AS n_tokens,
       CAST(MAX(tot.v) AS BIGINT) AS n_distinct,
       {sql_round_stable('MAX(tot.v) / MAX(tot.t)', 4)} AS ttr,
       {sql_round_stable('SUM((c / t) * (c / t))', 6)} AS simpson
FROM tf JOIN tot USING (source)
GROUP BY tf.source
ORDER BY tf.source
""",
    doc="per-source vocabulary diversity: type-token ratio + Simpson "
    "concentration (sum p^2) — the drift/mixture dashboard's lexical "
    "health row; same two-level aggregate shape as token entropy, keyed "
    "by source",
    defer=True,
)
def corpus_vocab_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tf = (
        docs.select(
            "source", F.explode(TXT.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tot = tf.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    p = F.col("c") / F.col("t")
    return (
        tf.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_tokens"),
            F.max("v").cast("bigint").alias("n_distinct"),
            round_stable(F.max("v") / F.max("t"), 4).alias("ttr"),
            round_stable(F.sum(p * p), 6).alias("simpson"),
        )
        .orderBy("source")
    )


@register(
    "docs_mixture_resample",
    """
WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
mn AS (SELECT MIN(n) AS m FROM cnt),
frac AS (
    SELECT source, 0.5 * CAST(m AS DOUBLE) / n AS f
    FROM cnt CROSS JOIN mn
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents d JOIN frac USING (source)
WHERE CAST(CAST(('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)),
                 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < f
GROUP BY d.source
ORDER BY d.source
""",
    doc="mixture rebalancing: every source deterministically capped at "
    "half the smallest source's size (operators.sampling."
    "resample_balanced) — per-stratum fraction computed relationally "
    "(counts aggregate + 1-row min broadcast), membership md5(doc_id), "
    "so the kept subset is engine- and layout-independent",
    defer=True,
)
def docs_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import resample_balanced

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    kept = resample_balanced(
        docs, "doc_id", "source", target_fraction=0.5, salt="mix"
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


@register(
    "doc_length_curriculum",
    f"""
WITH staged AS (
    SELECT n_chars,
           NTILE(4) OVER (ORDER BY n_chars, doc_id) AS stage
    FROM documents
)
SELECT CAST(stage AS INTEGER) AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       {sql_round_stable('AVG(n_chars)', 2)} AS avg_chars
FROM staged GROUP BY stage ORDER BY stage
""",
    doc="curriculum staging by document length: NTILE(4) with doc_id "
    "tie-break (both engines bucket identically), per-stage size/range "
    "summary — the short-to-long schedule builder; global NTILE lowers "
    "to a single-partition sort of (n_chars, doc_id) pairs only",
    defer=True,
)
def doc_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    staged = docs.select(
        "n_chars",
        F.ntile(4).over(Window.orderBy("n_chars", "doc_id")).alias("stage"),
    )
    return (
        staged.groupBy(F.col("stage").cast("int").alias("stage"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            round_stable(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Warehouse maintenance: SCD2 intervals, OHLC resampling, integrity report
# ---------------------------------------------------------------------------


@register(
    "events_scd2_intervals",
    """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS version_id,
       value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       COALESCE(strftime(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                         '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to,
       CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM events
ORDER BY user_id, version_id
""",
    doc="SCD-type-2 dimension build: each event becomes a version row "
    "with [valid_from, valid_to) from a LEAD offset window and an "
    "is_current flag — one user_id exchange serves both window "
    "expressions; the standard warehouse history-table constructor",
    defer=True,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    return (
        ev.select(
            F.col("user_id").cast("bigint"),
            F.col("event_id").cast("bigint").alias("version_id"),
            "value",
            fmt("ts").alias("valid_from"),
            F.coalesce(fmt(nxt), F.lit("9999-12-31 00:00:00")).alias(
                "valid_to"
            ),
            F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias(
                "is_current"
            ),
        )
        .orderBy("user_id", "version_id")
    )


@register(
    "events_ohlc_hourly",
    f"""
WITH h AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           value,
           ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events
)
SELECT event_type, hour,
       {sql_round_stable('MAX(CASE WHEN rn_a = 1 THEN value END)', 2)} AS open,
       {sql_round_stable('MAX(value)', 2)} AS high,
       {sql_round_stable('MIN(value)', 2)} AS low,
       {sql_round_stable('MAX(CASE WHEN rn_d = 1 THEN value END)', 2)} AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM h GROUP BY event_type, hour
ORDER BY event_type, hour
""",
    doc="time-series OHLC resampling per (type, hour): open/close via "
    "first/last row-number flags (deterministic (ts, event_id) "
    "tie-break), high/low as plain aggregates — both windows and the "
    "final aggregate share ONE (event_type, hour) exchange",
    defer=True,
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # project the truncated hour FIRST and partition windows + aggregate
    # on the same attribute — an inline date_trunc in the window spec
    # becomes a private `_w0` projection Catalyst cannot unify with the
    # aggregate's key, costing a second exchange (pinned); the string
    # formatting happens only in the final projection
    base = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "value",
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("event_type", "hour_ts").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "hour_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    h = base.select(
        "event_type",
        "hour_ts",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        h.groupBy("event_type", "hour_ts")
        .agg(
            round_stable(
                F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 2
            ).alias("open"),
            round_stable(F.max("value"), 2).alias("high"),
            round_stable(F.min("value"), 2).alias("low"),
            round_stable(
                F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 2
            ).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.date_format("hour_ts", "yyyy-MM-dd HH:00").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
        .orderBy("event_type", "hour")
    )


@register(
    "label_centroid_similarity",
    f"""
WITH cent AS (
    SELECT label, pos, AVG(v) AS c
    FROM (
        SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
),
nrm AS (
    SELECT label, sqrt(SUM(c * c)) AS nrm FROM cent GROUP BY label
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
)
SELECT CAST(label_a AS INTEGER) AS label_a,
       CAST(label_b AS INTEGER) AS label_b,
       {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS cos
FROM dots
JOIN nrm na ON dots.label_a = na.label
JOIN nrm nb ON dots.label_b = nb.label
ORDER BY label_a, label_b
""",
    doc="label-centroid cosine matrix (class-confusability report): "
    "centroids stay exploded as (label, pos, value) rows — no vector "
    "ever assembled on one node — and the pairwise dot is a dim-keyed "
    "self-join of a labels×dims relation (tiny after the first "
    "aggregate); the embedding-space twin of corpus_drift_terms",
    defer=True,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = readers.load_table(spark, sf_dir, "embeddings")
    # cent is labels×dims — tiny after the aggregate but consumed
    # by THREE lazy branches (both dot sides + the norm), each re-running
    # the posexplode + centroid aggregation over the corpus.  One eager
    # checkpoint makes the corpus pass run once; nrm then derives from
    # the checkpointed rows.
    cent = (
        emb.select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).alias("pos"))
        .agg(F.avg("v").alias("c"))
        .localCheckpoint(eager=True)
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.withColumnsRenamed({"label": "label_a", "c": "ca"})
    b = cent.withColumnsRenamed({"label": "label_b", "c": "cb"})
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = nrm.withColumnsRenamed({"label": "label_a", "nrm": "na"})
    nb = nrm.withColumnsRenamed({"label": "label_b", "nrm": "nb"})
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("int"),
            F.col("label_b").cast("int"),
            round_stable(
                F.col("dot") / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "lineitem_integrity_report",
    """
SELECT 'dup_key_rows' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_violations
FROM lineitem
JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
USING (l_orderkey, l_linenumber)
UNION ALL
SELECT 'discount_out_of_range', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_discount < 0 OR l_discount > 1
UNION ALL
SELECT 'nonpositive_quantity', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_quantity <= 0
UNION ALL
SELECT 'null_quantity', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_quantity IS NULL
UNION ALL
SELECT 'orphan_lineitems', CAST(COUNT(*) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'ship_before_order', CAST(COUNT(*) AS BIGINT)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < o.o_orderdate
ORDER BY check_name
""",
    doc="data-quality expectations report (operators.quality_checks."
    "violations_report): six declarative checks — referential orphans, "
    "duplicated business keys, range/null/date-order violations — each "
    "an independently optimized aggregate subplan; the ingest gate a "
    "training-data pipeline runs before trusting a drop",
    defer=True,
)
def lineitem_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.quality_checks import (
        violations_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    dup_keys = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("l_orderkey", "l_linenumber")
    )
    with_order = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return violations_report(
        {
            "dup_key_rows": li.join(
                dup_keys, ["l_orderkey", "l_linenumber"], "left_semi"
            ),
            "discount_out_of_range": li.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ),
            "nonpositive_quantity": li.filter(F.col("l_quantity") <= 0),
            "null_quantity": li.filter(F.col("l_quantity").isNull()),
            "orphan_lineitems": li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
            "ship_before_order": with_order.filter(
                F.col("l_shipdate") < F.col("o_orderdate")
            ),
        }
    )


@register(
    "product_graph_pagerank",
    f"""
WITH RECURSIVE ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT productId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY productId
),
dots AS (
    SELECT a.productId AS pid, b.productId AS other_pid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.userId = b.userId AND a.productId <> b.productId
    GROUP BY pid, other_pid
),
sims AS (
    SELECT pid, other_pid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.pid = na.productId
    JOIN norms nb ON dots.other_pid = nb.productId
),
edges AS (
    SELECT CAST(pid AS BIGINT) AS src, CAST(other_pid AS BIGINT) AS dst
    FROM (
        SELECT pid, other_pid, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY sim DESC, other_pid
        ) AS rn
        FROM sims WHERE sim > 0
    ) WHERE rn <= 10
),
-- NOTE: a plain "a UNION b" CTE inside WITH RECURSIVE is given
-- anchor/step treatment by DuckDB and does NOT dedup — hence the
-- explicit DISTINCT-over-UNION-ALL spelling
nodes AS (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges
    )
),
nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
pr AS (
    -- 8 power-iteration rounds; the similarity graph is symmetric in
    -- node membership (both directions of every pair are registered),
    -- so every node has out-degree >= 1 and the kernel's dangling-mass
    -- term is identically zero here
    SELECT 0 AS iter, id, 1.0 / (SELECT n FROM nc) AS rank FROM nodes
    UNION ALL
    SELECT it + 1 AS iter, id, rank FROM (
        SELECT MAX(m.it) OVER () AS it, n2.id,
               (1.0 - 0.85) / (SELECT n FROM nc)
                   + 0.85 * COALESCE(m.in_mass, 0) AS rank
        FROM nodes n2
        LEFT JOIN (
            SELECT e.dst, MAX(p.iter) AS it, SUM(p.rank / d.deg) AS in_mass
            FROM pr p
            JOIN deg d ON d.id = p.id
            JOIN edges e ON e.src = p.id
            WHERE p.iter < 8
            GROUP BY e.dst
        ) m ON m.dst = n2.id
    ) WHERE it IS NOT NULL
)
SELECT product_id, rank, rnk FROM (
    SELECT CAST(id AS INTEGER) AS product_id,
           ROUND(rank, 6) AS rank,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(rank, 6) DESC, id) AS INTEGER) AS rnk
    FROM pr WHERE iter = 8
) WHERE rnk <= 50
""",
    doc="PageRank over the item-similarity graph (operators.graph."
    "pagerank): power iteration, one node-keyed join+aggregate per "
    "round, lineage checkpoint-truncated, dangling mass redistributed "
    "so ranks sum to 1.  Upgraded rows-only → hash-gated: "
    "fixed iteration count + deterministic kNN edge "
    "construction make the fixpoint a bounded DuckDB WITH RECURSIVE "
    "power iteration (the product_graph_distances pattern); ranks are "
    "rounded to 6 digits on both sides, far above the ~1e-15 "
    "summation-order noise floor.  Distribution/star-graph laws stay "
    "pinned in tests/test_graph.py",
    defer=True,
)
def product_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.itemcf import corating_similarities
    from myrecommendsystem_spark.operators.graph import pagerank

    from myrecommendsystem_spark.operators.relational import top_k_per_group

    ratings = readers.events_as_ratings(spark, sf_dir)
    # kNN edge construction: each product's 10 most-similar neighbors.
    # A fixed cosine threshold is scale-dependent (co-rating cosines
    # dilute as the user count grows — 0.4 keeps 0 edges at sf0.1);
    # per-node top-k keeps the graph connected at every scale.
    sims = corating_similarities(ratings, threshold=0.0)
    edges = top_k_per_group(
        sims,
        ["pid"],
        [F.col("sim").desc(), F.col("other_pid")],
        10,
    ).select(F.col("pid").alias("src"), F.col("other_pid").alias("dst"))
    # 8 rounds ranks a small-world kNN graph to a stable ordering; the
    # per-iteration cost is fixed-job overhead at test scale (SCALE.md)
    ranks = pagerank(edges, damping=0.85, iterations=8)
    w = Window.orderBy(F.col("rank").desc(), F.col("product_id"))
    return (
        ranks.select(
            F.col("id").cast("int").alias("product_id"),
            F.round(F.col("rank"), 6).alias("rank"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 50)
    )


# ---------------------------------------------------------------------------
# Composed corpus-hygiene pipeline (the end-to-end user story)
# ---------------------------------------------------------------------------

_PUNCT_SQL = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]""".replace("'", "''")


def _hygiene_stages(spark: SparkSession, sf_dir: str):
    """Shared stage chain for the composed corpus pipelines:
    (train, s1=dedup survivors, s2=quality survivors, s3=decontaminated).
    The SQL twin is ``_HYGIENE_CTES``.

    The three KEEP-ID SETS are localCheckpointed (doc_id-only relations
    — tiny), the full-text stage relations are NOT: each text-heavy
    pass (fingerprinting, quality scoring, contamination) therefore
    runs exactly once while materializing its id set, and every
    downstream branch — the clean pipeline's four funnel aggregates,
    the export pipeline's resample/shard — rebuilds its stage as a
    cheap semi join of (column-pruned) train against pinned ids.
    Before this, the lazy chain re-executed the text passes once per
    funnel branch (~6 corpus scans instead of 3 at sf0.1; at 100 TB the
    difference is the job).  Payloads never move into checkpoint
    storage — the same ids-only discipline as the dedup operators."""
    from myrecommendsystem_spark.functions import text as TXT
    from myrecommendsystem_spark.operators import corpus_quality, dedup

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    keep1 = (
        dedup.exact_duplicates(train)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    s1 = train.join(keep1, "doc_id", "left_semi")
    scored = s1.select(
        "doc_id",
        "lang",
        round_stable(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    keep2 = (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    s2 = s1.join(keep2, "doc_id", "left_semi")
    keep3 = (
        corpus_quality.ngram_contamination(s2, bench, n=3)
        .filter(F.col("contamination") < 0.1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    s3 = s2.join(keep3, "doc_id", "left_semi")
    return train, s1, s2, s3, (keep1, keep2, keep3)


# Shared hygiene CTE chain: exact dedup -> per-lang quality gate ->
# decontamination.  Used by corpus_clean_pipeline (funnel counts) and
# corpus_export_pipeline (resample + shard manifest on top).
_HYGIENE_CTES = rf"""train AS (SELECT * FROM documents WHERE doc_id % 97 != 0),
fp AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
    FROM train
),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
s1 AS (SELECT t.* FROM train t JOIN keep1 USING (doc_id)),
qt AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\s+'))
                END AS n_tok,
           length(text) AS n_char,
           length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g'))
               AS n_punct,
           length(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS tok_chars
    FROM s1
),
qm AS (
    SELECT doc_id,
           LEAST(n_tok / 100.0, 1.0) AS len_score,
           CASE WHEN n_char = 0 THEN 1.0
                ELSE GREATEST(0.0, 1.0 - (n_punct / CAST(n_char AS DOUBLE)) * 4.0)
                END AS punct_pen,
           CASE WHEN tok_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
                THEN 1.0 ELSE 0.5 END AS shape_score
    FROM qt
),
qq AS (
    SELECT doc_id,
           {sql_round_stable('len_score * 0.5 + punct_pen * 0.25 + shape_score * 0.25', 4)}
               AS quality
    FROM qm
),
keep2 AS (
    SELECT doc_id FROM (
        SELECT s1.doc_id,
               PERCENT_RANK() OVER (
                   PARTITION BY s1.lang ORDER BY qq.quality, s1.doc_id
               ) AS pr
        FROM s1 JOIN qq USING (doc_id)
    ) WHERE pr >= 0.5
),
s2 AS (SELECT s1.* FROM s1 JOIN keep2 USING (doc_id)),
btoks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM documents WHERE doc_id % 97 = 0
),
bsh AS (
    SELECT DISTINCT unnest(list_distinct(
        [array_to_string(t[i:i+2], ' ')
         for i in generate_series(1, greatest(len(t)-2, 1))])) AS gram
    FROM btoks
),
stoks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM s2
),
ssh AS (
    SELECT doc_id, unnest(list_distinct(
        [array_to_string(t[i:i+2], ' ')
         for i in generate_series(1, greatest(len(t)-2, 1))])) AS gram
    FROM stoks
),
cagg AS (
    SELECT s.doc_id,
           COUNT(*) AS n_grams,
           SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
    FROM ssh s LEFT JOIN bsh b USING (gram)
    GROUP BY s.doc_id
),
keep3 AS (
    SELECT doc_id FROM cagg
    WHERE {sql_round_stable(
        'CASE WHEN n_grams = 0 THEN 0.0 '
        'ELSE n_hits / CAST(n_grams AS DOUBLE) END', 4)} < 0.1
),
s3 AS (SELECT s2.* FROM s2 JOIN keep3 USING (doc_id))"""


@register(
    "corpus_clean_pipeline",
    rf"""
WITH {_HYGIENE_CTES}
SELECT source, stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
    SELECT source, '0_ingest' AS stage, COUNT(*) AS n_docs
    FROM train GROUP BY source
    UNION ALL SELECT source, '1_dedup', COUNT(*) FROM s1 GROUP BY source
    UNION ALL SELECT source, '2_quality', COUNT(*) FROM s2 GROUP BY source
    UNION ALL SELECT source, '3_decontaminated', COUNT(*) FROM s3 GROUP BY source
)
ORDER BY source, stage
""",
    doc="the END-TO-END corpus hygiene pipeline as one query — exact "
    "dedup (md5 keepers) → per-lang top-half quality gate → benchmark "
    "decontamination (< 10%% 3-gram overlap), reporting the per-source "
    "funnel (stage, n_docs).  Composes the three individually-gated "
    "operators sequentially, each stage shrinking the next one's input "
    "— the ingest shape a 100 TB pretraining pipeline runs nightly",
    defer=True,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (guide §2.4): the old funnel aggregated each stage relation
    # separately — FOUR column-pruned passes over train (s3's branch
    # alone re-joined all three keep sets; 6 semi joins total).  The
    # keep chains are nested by construction (keep3 ⊆ keep2 ⊆ keep1 on
    # doc_id), so ONE pass with three membership flags + one grouped
    # count per flag yields the identical funnel; unpivot (an Expand,
    # not a Generate — the plan pin forbids gram-explode Generates)
    # reshapes the per-source counts to (source, stage, n_docs).
    train, s1, s2, s3, keeps = _hygiene_stages(spark, sf_dir)
    flagged = train.select("source", "doc_id")
    for i, keep in enumerate(keeps, start=1):
        flagged = flagged.join(
            keep.withColumn(f"__k{i}", F.lit(1)), "doc_id", "left"
        )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("0_ingest"),
        F.count("__k1").cast("bigint").alias("1_dedup"),
        F.count("__k2").cast("bigint").alias("2_quality"),
        F.count("__k3").cast("bigint").alias("3_decontaminated"),
    )
    return agg.unpivot(
        ["source"],
        ["0_ingest", "1_dedup", "2_quality", "3_decontaminated"],
        "stage",
        "n_docs",
    ).orderBy("source", "stage")


@register(
    "orders_yoy_growth",
    f"""
WITH yearly AS (
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           SUM(o_totalprice) AS revenue
    FROM orders GROUP BY yr
)
SELECT yr,
       {sql_round_stable('revenue', 2)} AS revenue,
       {sql_round_stable(
           '100.0 * (revenue - lag(revenue) OVER (ORDER BY yr))'
           ' / lag(revenue) OVER (ORDER BY yr)', 2)} AS yoy_pct
FROM yearly
ORDER BY yr
""",
    doc="year-over-year revenue growth: one orders aggregate + a LAG "
    "window over the tiny year spine (first year NULL by definition) — "
    "the reporting staple every warehouse front-end asks of the engine",
    defer=True,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        round_stable(F.col("revenue"), 2).alias("revenue"),
        round_stable(
            100.0 * (F.col("revenue") - prev) / prev, 2
        ).alias("yoy_pct"),
    ).orderBy("yr")


# ---------------------------------------------------------------------------
# Time-decayed popularity (the modern "rate more recently")
# ---------------------------------------------------------------------------

# Half-life decay constant shared verbatim by both engines.
_DECAY_LAMBDA = 0.09902102579427789  # ln(2) / 7-day half-life


@register(
    "product_popularity_decayed",
    f"""
WITH ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
    FROM events
),
mx AS (SELECT MAX(sec) AS max_sec FROM ratings)
SELECT productId,
       CAST(COUNT(*) AS BIGINT) AS n_ratings,
       {sql_round_stable(
           'SUM(score * EXP(-' + repr(_DECAY_LAMBDA)
           + ' * (max_sec - sec) / 86400.0))', 4)} AS decayed_score
FROM ratings CROSS JOIN mx
GROUP BY productId
ORDER BY decayed_score DESC, productId
""",
    doc="exponentially time-decayed popularity (7-day half-life): the "
    "production upgrade of the reference's fixed-window 'rate more "
    "recently' count (StatisticsRecommender.scala:79-86) — recency "
    "weighting without a window cliff.  One groupBy; the global max "
    "timestamp rides a broadcast 1-row cross join, so the shape is "
    "identical to a plain grouped aggregate at any scale",
    defer=True,
)
def product_popularity_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir).withColumn(
        "sec", F.unix_timestamp("ts")
    )
    mx = ratings.agg(F.max("sec").alias("max_sec"))
    age_days = (F.col("max_sec") - F.col("sec")) / 86400.0
    return (
        ratings.crossJoin(F.broadcast(mx))
        .groupBy("productId")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ratings"),
            round_stable(
                F.sum(F.col("score") * F.exp(-_DECAY_LAMBDA * age_days)), 4
            ).alias("decayed_score"),
        )
        .orderBy(F.col("decayed_score").desc(), "productId")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (corpus health diagnostic)
# ---------------------------------------------------------------------------


@register(
    "corpus_zipf_fit",
    r"""
WITH tf AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents
        WHERE length(trim(text)) > 0
    )
    GROUP BY term
),
head AS (SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT 500),
ranked AS (
    SELECT freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
    FROM head
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))
             + 1e-09, 4) AS zipf_slope,
       ROUND(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))
             + 1e-09, 4) AS zipf_r2
FROM ranked
""",
    doc="Zipf rank-frequency fit over the vocabulary head: log-log OLS "
    "slope + R² of the top-500 terms (natural text ≈ -1; synthetic or "
    "boilerplate-heavy corpora flatten).  The full-vocabulary sort never "
    "happens — top-500 via TakeOrderedAndProject, then the regression "
    "runs on 500 rows with Spark's native regr_slope/regr_r2 aggregates "
    "(no driver-side numpy).  A standard corpus-health diagnostic for "
    "pretraining-data pipelines",
    defer=True,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tf = (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    head = tf.orderBy(F.col("freq").desc(), "term").limit(500)
    ranked = head.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "term"))
        .alias("rnk"),
    )
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(lf, lr) + F.lit(1e-09), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr) + F.lit(1e-09), 4).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# User-user collaborative filtering (the transposed M7)
# ---------------------------------------------------------------------------

_USERCF_THRESHOLD = 0.3


@register(
    "usercf_similarities",
    f"""
WITH ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY productId
            ORDER BY ts DESC, userId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT userId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY userId
),
dots AS (
    SELECT a.userId AS uid, b.userId AS other_uid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.productId = b.productId AND a.userId <> b.userId
    GROUP BY uid, other_uid
),
sims AS (
    SELECT uid, other_uid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.uid = na.userId
    JOIN norms nb ON dots.other_uid = nb.userId
)
SELECT uid, other_uid, sim FROM sims WHERE sim > {_USERCF_THRESHOLD}
""",
    doc="user-user cosine similarity — the transposed complement of M7's "
    "item-item matrix (OfflineRecommender.scala:92-109), the other half "
    "of classical neighborhood CF.  Reuses ml.itemcf.corating_"
    "similarities with the axes swapped; the per-item recent-20-raters "
    "cap bounds the self-join at O(items·K²) pairs exactly as the "
    "per-user cap does for item-CF — the same 100 TB knob, mirrored",
    defer=True,
)
def usercf_similarities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.itemcf import corating_similarities

    # Transpose the rating matrix: users become the "items" being
    # compared, products become the shared coordinate axis.
    transposed = readers.events_as_ratings(spark, sf_dir).select(
        F.col("productId").alias("userId"),
        F.col("userId").alias("productId"),
        "score",
        "ts",
    )
    sims = corating_similarities(transposed, threshold=_USERCF_THRESHOLD)
    return sims.select(
        F.col("pid").alias("uid"),
        F.col("other_pid").alias("other_uid"),
        "sim",
    )


# ---------------------------------------------------------------------------
# Embedding k-means cluster profile (rows-only: iterative algorithm)
# ---------------------------------------------------------------------------


@register(
    "embedding_kmeans_clusters",
    # hash-gated: the Lloyd fit stays numpy, but the trained
    # centroids inline into a DuckDB twin of the ASSIGNMENT + profile
    ann_oracles.kmeans_clusters_oracle,
    doc="k-means cluster profile over the embedding corpus: the IVF "
    "coarse quantizer (operators/similarity.fit_ivf_centroids — "
    "k-means++ on a bounded deterministic sample, Lloyd refinement) "
    "exposed as a clustering operator in its own right.  Assignment is "
    "the fused no-shuffle Arrow pass (ivf_assign); the profile is one "
    "grouped aggregate over (cell, unit-dot).  Deterministic at any "
    "partitioning: sample membership is hash-keyed and the training "
    "matrix is sorted by id before the fit.  Hash-gated: "
    "the assignment + count replay in SQL against the inlined centroids",
    defer=True,
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if emb.isEmpty():
        return spark.createDataFrame([], "cluster_id int, n_vectors bigint")
    centroids = SIM.fit_ivf_centroids(emb, n_cells=8)
    assigned = SIM.ivf_assign(emb, centroids, nprobe=1)
    return (
        assigned.groupBy(F.col("cell_id").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# BFS shortest distances (recursive SQL vs iterative DataFrame parity)
# ---------------------------------------------------------------------------


@register(
    "product_graph_distances",
    f"""
WITH RECURSIVE ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT productId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY productId
),
dots AS (
    SELECT a.productId AS pid, b.productId AS other_pid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.userId = b.userId AND a.productId <> b.productId
    GROUP BY pid, other_pid
),
sims AS (
    SELECT pid, other_pid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.pid = na.productId
    JOIN norms nb ON dots.other_pid = nb.productId
),
edges AS (
    SELECT CAST(pid AS BIGINT) AS src, CAST(other_pid AS BIGINT) AS dst
    FROM (
        SELECT pid, other_pid, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY sim DESC, other_pid
        ) AS rn
        FROM sims WHERE sim > 0
    ) WHERE rn <= 10
),
hops AS (
        SELECT (SELECT MIN(src) FROM edges) AS id, 0 AS dist
    UNION
        SELECT e.dst AS id, h.dist + 1 AS dist
        FROM hops h JOIN edges e ON e.src = h.id
        WHERE h.dist < 4
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(dist) AS INTEGER) AS dist
FROM hops
GROUP BY id
ORDER BY dist, id
""",
    doc="BFS shortest hop-distances over the kNN item-similarity graph "
    "(operators/graph.bfs_distances), seeded at the minimum product id, "
    "4-hop cap.  The oracle is a bounded RECURSIVE CTE — SQL Spark has "
    "no native operator for; the Spark side is the frontier-expansion "
    "loop (join + anti-join per hop, checkpoint-truncated lineage).  "
    "The strongest check in the graph family: an iterative distributed "
    "algorithm hash-matched against declarative recursive SQL",
    defer=True,
)
def product_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.itemcf import corating_similarities
    from myrecommendsystem_spark.operators.graph import bfs_distances
    from myrecommendsystem_spark.operators.relational import top_k_per_group

    ratings = readers.events_as_ratings(spark, sf_dir)
    sims = corating_similarities(ratings, threshold=0.0)
    edges = (
        top_k_per_group(
            sims, ["pid"], [F.col("sim").desc(), F.col("other_pid")], 10
        )
        .select(
            F.col("pid").cast("long").alias("src"),
            F.col("other_pid").cast("long").alias("dst"),
        )
        # materialize ONCE: the seed aggregate below and the BFS both
        # consume the edge list — without this the lazy kNN build ran
        # twice (once for the 1-row seed collect, once inside
        # bfs_distances' own checkpoint)
        .localCheckpoint(eager=True)
    )
    # seed = min node id: a 1-row metadata-sized driver scalar (same
    # contract as pagerank's node count)
    seed = edges.agg(F.min("src")).collect()[0][0]
    if seed is None:  # edgeless graph — empty result, stable schema
        return spark.createDataFrame([], "id bigint, dist int")
    return (
        bfs_distances(edges, seed=int(seed), max_hops=4)
        .select(F.col("id").cast("bigint"), F.col("dist").cast("int"))
        .orderBy("dist", "id")
    )


# ---------------------------------------------------------------------------
# CDC apply (the MERGE INTO / op-log shape)
# ---------------------------------------------------------------------------


@register(
    "events_cdc_final_state",
    """
WITH ops AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           event_type, value AS score, ts, event_id
    FROM events
),
last AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId, productId
            ORDER BY ts DESC, event_id DESC
        ) AS rn FROM ops
    ) WHERE rn = 1
)
SELECT userId, productId, event_type AS last_op, score
FROM last
WHERE event_type <> 'error'
ORDER BY userId, productId
""",
    doc="CDC op-log apply (operators/incremental.cdc_apply): the events "
    "stream read as a keyed change log — last writer wins per (user, "
    "product), a trailing 'error' op tombstones the key.  The MERGE "
    "INTO shape as one set-oriented pass: last-writer-wins needs only "
    "the per-key max, so the whole log collapses in a single spillable "
    "window (never a per-key ordered replay); deletes are a filter on "
    "the survivor.  Composes with upsert_by_key (the batch-id log, "
    "read latest per key) for the storage write",
    defer=True,
)
def events_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.incremental import cdc_apply

    ev = _t(spark, sf_dir, "events")
    ops = ev.select(
        F.col("user_id").cast("int").alias("userId"),
        F.regexp_extract("props", "[0-9]+", 0).cast("int").alias("productId"),
        "event_type",
        F.col("value").alias("score"),
        "ts",
        "event_id",
    )
    final = cdc_apply(
        ops,
        keys=["userId", "productId"],
        ts_col="ts",
        op_col="event_type",
        delete_op="error",
        tiebreak_col="event_id",
    )
    return final.select(
        "userId",
        "productId",
        F.col("event_type").alias("last_op"),
        "score",
    ).orderBy("userId", "productId")


# ---------------------------------------------------------------------------
# A/B experiment read-out (two-proportion z-test)
# ---------------------------------------------------------------------------


@register(
    "events_ab_test_zscore",
    f"""
WITH conv AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CASE WHEN substring(
               md5('ab' || CAST(CAST(user_id AS INTEGER) AS VARCHAR)), 1, 8
           ) < '80000000' THEN 'A' ELSE 'B' END AS variant,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events
    GROUP BY userId, variant
),
per AS (
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_conv
    FROM conv GROUP BY variant
),
wide AS (
    SELECT MAX(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
           MAX(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
           MAX(CASE WHEN variant = 'A' THEN n_conv END) AS conv_a,
           MAX(CASE WHEN variant = 'B' THEN n_conv END) AS conv_b
    FROM per
)
SELECT n_a, n_b, conv_a, conv_b,
       {sql_round_stable('conv_a * 1.0 / n_a', 4)} AS rate_a,
       {sql_round_stable('conv_b * 1.0 / n_b', 4)} AS rate_b,
       {sql_round_stable(
           '(conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)'
           ' / NULLIF(SQRT(((conv_a + conv_b) * 1.0 / (n_a + n_b))'
           '   * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))'
           '   * (1.0 / n_a + 1.0 / n_b)), 0)', 4)} AS z_score
FROM wide
""",
    doc="A/B experiment read-out: deterministic hash-split of users into "
    "variants (md5 content cut — engine-independent membership, the "
    "sampling.py coordinate), per-user conversion flag (any purchase), "
    "and the pooled two-proportion z-test.  Two grouped aggregates and "
    "a conditional-aggregation pivot to one row — the experiment "
    "dashboard query at any scale, no driver math",
    defer=True,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("int")
    variant = F.when(
        F.substring(F.md5(F.concat(F.lit("ab"), uid.cast("string"))), 1, 8)
        < "80000000",
        "A",
    ).otherwise("B")
    conv = (
        ev.select(
            uid.alias("userId"),
            variant.alias("variant"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c"),
        )
        .groupBy("userId", "variant")
        .agg(F.max("c").alias("converted"))
    )
    per = conv.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    pick = lambda v, c: F.max(F.when(F.col("variant") == v, F.col(c)))  # noqa: E731
    wide = per.agg(
        pick("A", "n_users").alias("n_a"),
        pick("B", "n_users").alias("n_b"),
        pick("A", "n_conv").alias("conv_a"),
        pick("B", "n_conv").alias("conv_b"),
    )
    rate_a = F.col("conv_a") * 1.0 / F.col("n_a")
    rate_b = F.col("conv_b") * 1.0 / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.nullif(
        F.sqrt(
            pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        ),
        F.lit(0.0),
    )
    return wide.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        round_stable(rate_a, 4).alias("rate_a"),
        round_stable(rate_b, 4).alias("rate_b"),
        round_stable((rate_a - rate_b) / se, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching (SymSpell deletion blocking vs brute force)
# ---------------------------------------------------------------------------


@register(
    "part_name_fuzzy_pairs",
    """
WITH names AS (
    SELECT DISTINCT p_name AS val FROM part WHERE p_name IS NOT NULL
)
SELECT a.val AS val_a, b.val AS val_b,
       CAST(levenshtein(a.val, b.val) AS INTEGER) AS lev
FROM names a JOIN names b ON a.val < b.val
WHERE levenshtein(a.val, b.val) <= 1
ORDER BY val_a, val_b
""",
    doc="fuzzy string self-join, edit distance <= 1 (operators/dedup."
    "edit_distance_pairs): symmetric-deletion blocking (SymSpell) — "
    "candidates equi-join on O(N*L) deletion variants, one levenshtein "
    "verify — hash-matched against the oracle's N^2 brute-force cross "
    "join.  The blocking set provably covers every distance-1 pair "
    "(equality shares the string; substitution shares the both-sides "
    "deletion; insert/delete shares the shorter string), so the check "
    "pins completeness, not just precision.  Typo-dedup / entity "
    "resolution at string-key scale",
    defer=True,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.dedup import edit_distance_pairs

    part = _t(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_name").orderBy("val_a", "val_b")


# ---------------------------------------------------------------------------
# Robust outliers (median absolute deviation)
# ---------------------------------------------------------------------------


@register(
    "events_value_mad_outliers",
    f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_round_stable('MAX(d.med)', 4)} AS med,
       {sql_round_stable('MAX(a.mad)', 4)} AS mad,
       CAST(SUM(CASE WHEN d.adev > 3.5 * 1.4826 * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
    doc="robust outlier detection via median absolute deviation: the "
    "breakdown-resistant complement of events_value_zscores (mean/std "
    "move with the outliers they are meant to find; median/MAD don't — "
    "50% breakdown point).  Two exact-median passes (F.percentile ≡ "
    "quantile_cont) with the per-type med/mad tables riding broadcast "
    "joins; the modified-z cut 3.5·1.4826·MAD is the Iglewicz-Hoaglin "
    "convention.  Three scans of events, zero extra shuffles beyond "
    "the two 5-row aggregates",
    defer=True,
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            round_stable(F.max("med"), 4).alias("med"),
            round_stable(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3.5 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exponentially-decayed daily series (windowed decay)
# ---------------------------------------------------------------------------

_EMA_ALPHA = 0.8  # per-day retention; shared verbatim by both engines


@register(
    "events_ema_daily",
    f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, day, x,
           datediff('day',
                    MIN(day) OVER (PARTITION BY event_type),
                    day) AS di
    FROM daily
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS day,
       {sql_round_stable('x', 4)} AS day_total,
       {sql_round_stable(
           'POW(' + repr(_EMA_ALPHA) + ', di)'
           ' * SUM(x * POW(' + repr(_EMA_ALPHA) + ', -di)) OVER ('
           '     PARTITION BY event_type ORDER BY di)', 4)} AS decayed_sum
FROM idx
ORDER BY event_type, day
""",
    doc="exponentially-decayed daily running total per event type "
    "(EMA-family smoothing): the recurrence s_d = x_d + a*s_(d-1) in "
    "closed form as a^di * cumsum(x * a^-di) — one ordered cumulative "
    "window, NO recursion and NO sequential pass, so it scales as a "
    "plain window over the (type, day) spine.  Complements "
    "product_popularity_decayed (grouped decay) with windowed decay; "
    "the day-index rebase keeps a^-di bounded by the series span",
    defer=True,
)
def events_ema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("x"))
    wmin = Window.partitionBy("event_type")
    idx = daily.withColumn(
        "di", F.datediff(F.col("day"), F.min("day").over(wmin))
    )
    wcum = Window.partitionBy("event_type").orderBy("di")
    decayed = F.pow(F.lit(_EMA_ALPHA), F.col("di")) * F.sum(
        F.col("x") * F.pow(F.lit(_EMA_ALPHA), -F.col("di"))
    ).over(wcum)
    return idx.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        round_stable(F.col("x"), 4).alias("day_total"),
        round_stable(decayed, 4).alias("decayed_sum"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Interval concurrency (open-order backlog over time)
# ---------------------------------------------------------------------------


@register(
    "orders_open_backlog",
    """
WITH spans AS (
    SELECT o.o_orderkey,
           o.o_orderdate AS opened,
           MAX(l.l_shipdate) AS closed
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
    SELECT opened AS day, 1 AS delta FROM spans
    UNION ALL
    SELECT closed AS day, -1 AS delta FROM spans
),
daily AS (
    SELECT day, CAST(SUM(delta) AS BIGINT) AS net
    FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS open_orders
FROM daily
ORDER BY day
""",
    doc="interval concurrency counting: how many orders are open (placed, "
    "not yet fully shipped) on each day.  The scalable shape — intervals "
    "become +1/-1 boundary events, one grouped sum per day, one ordered "
    "cumulative window over the day spine — O(N) rows moved, versus the "
    "naive day-spine x interval range join which is O(days*N).  The same "
    "sweep-line trick covers concurrent sessions, active users, and "
    "resource occupancy at any scale",
    defer=True,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("closed"))
        .select(F.col("o_orderdate").alias("opened"), "closed")
    )
    deltas = spans.select(
        F.col("opened").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(F.col("closed").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    w = Window.orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (ML feature engineering)
# ---------------------------------------------------------------------------


@register(
    "orders_target_encoding",
    f"""
WITH enc AS (
    SELECT o_orderkey, o_orderpriority,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
           SUM(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s,
           o_totalprice
    FROM orders
)
SELECT o_orderkey, o_orderpriority,
       {sql_round_stable(
           'CASE WHEN n > 1 THEN (s - o_totalprice) / (n - 1) END', 4)}
           AS prio_loo_mean
FROM enc
ORDER BY o_orderkey
""",
    doc="leave-one-out target encoding: each order's priority category "
    "encoded as the mean total price of the OTHER orders in the "
    "category — the standard leakage-free categorical encoding for "
    "gradient-boosted / linear models.  (sum - own) / (n - 1) over one "
    "unordered category window: a single exchange on the category key, "
    "no per-row re-aggregation, NULL for singleton categories.  The "
    "training-data shape feature stores compute at 100 TB",
    defer=True,
)
def orders_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority")
    n = F.count(F.lit(1)).over(w)
    s = F.sum("o_totalprice").over(w)
    loo = F.when(n > 1, (s - F.col("o_totalprice")) / (n - 1))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        round_stable(loo, 4).alias("prio_loo_mean"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Population stability index (train/serve drift)
# ---------------------------------------------------------------------------


@register(
    "events_value_psi",
    f"""
WITH bounds AS (
    SELECT MIN(epoch_ms(ts)) AS t0, MAX(epoch_ms(ts)) AS t1 FROM events
),
tagged AS (
    SELECT e.value,
           CASE WHEN epoch_ms(e.ts) < (b.t0 + b.t1) / 2.0
                THEN 'ref' ELSE 'cur' END AS era,
           LEAST(9, GREATEST(0, CAST(FLOOR(e.value / 10.0) AS INTEGER)))
               AS bin
    FROM events e CROSS JOIN bounds b
),
counts AS (
    SELECT era, bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM tagged GROUP BY era, bin
),
tot AS (
    SELECT era, SUM(n) AS total FROM counts GROUP BY era
),
props AS (
    SELECT c.bin,
           MAX(CASE WHEN c.era = 'ref'
               THEN GREATEST(c.n * 1.0 / t.total, 0.0001) END) AS p,
           MAX(CASE WHEN c.era = 'cur'
               THEN GREATEST(c.n * 1.0 / t.total, 0.0001) END) AS q
    FROM counts c JOIN tot t ON c.era = t.era
    GROUP BY c.bin
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       {sql_round_stable(
           'SUM((COALESCE(p, 0.0001) - COALESCE(q, 0.0001))'
           ' * LN(COALESCE(p, 0.0001) / COALESCE(q, 0.0001)))', 4)} AS psi
FROM props
""",
    doc="population stability index between the first and second half of "
    "the event stream (train/serve drift monitoring): fixed-width value "
    "bins, per-era proportions with the conventional 1e-4 floor, "
    "PSI = sum((p-q)*ln(p/q)).  Two grouped aggregates and a 10-row "
    "conditional pivot — the drift check every deployed model re-runs "
    "per slice at any scale; the era boundary is a 1-row broadcast",
    defer=True,
)
def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ; the UTC session timezone makes the cast to
    # instant semantics-preserving for unix_millis (same as median_gap)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    ev = _t(spark, sf_dir, "events").select("value", ms.alias("ms"))
    b = ev.agg(F.min("ms").alias("t0"), F.max("ms").alias("t1"))
    tagged = ev.crossJoin(F.broadcast(b)).select(
        F.when(
            F.col("ms") < (F.col("t0") + F.col("t1")) / 2.0,
            "ref",
        )
        .otherwise("cur")
        .alias("era"),
        F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.floor(F.col("value") / 10.0).cast("int")),
        ).alias("bin"),
    )
    counts = tagged.groupBy("era", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.groupBy("era").agg(F.sum("n").alias("total"))
    floor = lambda c: F.greatest(c, F.lit(0.0001))  # noqa: E731
    props = (
        counts.join(tot, "era")
        .groupBy("bin")
        .agg(
            F.max(
                F.when(
                    F.col("era") == "ref",
                    floor(F.col("n") * 1.0 / F.col("total")),
                )
            ).alias("p"),
            F.max(
                F.when(
                    F.col("era") == "cur",
                    floor(F.col("n") * 1.0 / F.col("total")),
                )
            ).alias("q"),
        )
    )
    p = F.coalesce(F.col("p"), F.lit(0.0001))
    q = F.coalesce(F.col("q"), F.lit(0.0001))
    return props.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        round_stable(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
    )


# ---------------------------------------------------------------------------
# Per-group regression trend
# ---------------------------------------------------------------------------


@register(
    "product_score_trend",
    f"""
WITH ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
mn AS (SELECT MIN(epoch_ms(ts)) AS t0 FROM ratings)
SELECT productId,
       CAST(COUNT(*) AS BIGINT) AS n_ratings,
       {sql_round_stable(
           'regr_slope(score,'
           ' (epoch_ms(ts) - t0) / 86400000.0)', 6)} AS slope_per_day
FROM ratings CROSS JOIN mn
GROUP BY productId
HAVING COUNT(*) >= 5
ORDER BY productId
""",
    doc="per-product rating trend: OLS slope of score over time (days "
    "since corpus start) via the native regr_slope aggregate — one "
    "grouped pass, no per-group fitting loop; products trending up or "
    "down are the freshness signal the popularity statistics family "
    "(A1-A3) can't see.  The time origin is a 1-row broadcast; groups "
    "under 5 ratings are suppressed (slope noise)",
    defer=True,
)
def product_score_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir).withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    mn = ratings.agg(F.min("ms").alias("t0"))
    days = (F.col("ms") - F.col("t0")) / 86400000.0
    return (
        ratings.crossJoin(F.broadcast(mn))
        .groupBy("productId")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ratings"),
            round_stable(F.regr_slope(F.col("score"), days), 6).alias(
                "slope_per_day"
            ),
        )
        .filter(F.col("n_ratings") >= 5)
        .orderBy("productId")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (data forensics)
# ---------------------------------------------------------------------------


@register(
    "orders_benford_digits",
    f"""
WITH digits AS (
    SELECT CAST(FLOOR(o_totalprice
               / POW(10, FLOOR(LOG10(o_totalprice)))) AS INTEGER) AS digit
    FROM orders WHERE o_totalprice > 0
),
counts AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT digit, n,
       {sql_round_stable('n * 1.0 / total', 4)} AS share,
       {sql_round_stable('LOG10(1.0 + 1.0 / digit)', 4)} AS benford_expected
FROM counts CROSS JOIN tot
ORDER BY digit
""",
    doc="Benford first-significant-digit audit of order totals: observed "
    "digit shares vs the Benford expectation log10(1+1/d) — the "
    "classic fabricated-data / unit-mixup forensic check.  The digit is "
    "extracted arithmetically (floor(x / 10^floor(log10 x))) — never via "
    "double->string casts, whose formatting is engine-dependent.  One "
    "9-row aggregate + a 1-row broadcast total",
    defer=True,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            round_stable(F.col("n") * 1.0 / F.col("total"), 4).alias("share"),
            round_stable(
                F.log10(1.0 + 1.0 / F.col("digit")), 4
            ).alias("benford_expected"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Seasonality profile (day-of-week x hour activity matrix)
# ---------------------------------------------------------------------------


@register(
    "events_seasonality_profile",
    f"""
SELECT CAST(isodow(ts) AS INTEGER) AS dow,
       CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_round_stable('AVG(value)', 4)} AS avg_value
FROM events
GROUP BY dow, hour
ORDER BY dow, hour
""",
    doc="seasonality profile: the (ISO day-of-week x hour) activity "
    "matrix with per-cell event count and mean value — the load-shape / "
    "staffing / anomaly-baseline query every event system runs.  ISO "
    "numbering is pinned on both engines (Spark weekday()+1 = DuckDB "
    "isodow: 1=Mon..7=Sun) because the engines' default DOW conventions "
    "disagree (Spark dayofweek is 1=Sun).  One grouped aggregate over "
    "a 168-cell key space — map-side combine collapses everything",
    defer=True,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            round_stable(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("dow", "hour")
    )


# ---------------------------------------------------------------------------
# The full export job: hygiene -> mixture rebalance -> shard manifest
# ---------------------------------------------------------------------------


@register(
    "corpus_export_pipeline",
    rf"""
WITH {_HYGIENE_CTES},
cnt4 AS (SELECT source, COUNT(*) AS n FROM s3 GROUP BY source),
mn4 AS (SELECT MIN(n) AS m FROM cnt4),
frac AS (
    SELECT source, 0.5 * CAST(m AS DOUBLE) / n AS f
    FROM cnt4 CROSS JOIN mn4
),
s4 AS (
    SELECT s3.* FROM s3 JOIN frac USING (source)
    WHERE CAST(CAST(('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)),
                     1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < f
),
sharded AS (
    SELECT source,
           CAST(CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)),
                      1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard,
           n_chars
    FROM s4
)
SELECT source, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sharded
GROUP BY source, shard
ORDER BY source, shard
""",
    doc="the COMPLETE training-data export job as one query: hygiene "
    "funnel (exact dedup -> per-lang quality gate -> decontamination, "
    "the shared _HYGIENE_CTES chain) -> mixture rebalancing (every "
    "source capped at half the smallest survivor source, md5 "
    "membership) -> deterministic 8-way shard manifest (md5 mod N) "
    "with per-(source, shard) doc and char totals.  Six individually "
    "oracle-gated operators composed end-to-end; every cut is a pure "
    "function of the data, so the export is reproducible on any "
    "engine, partitioning, or cluster size — the nightly job a 100 TB "
    "pretraining pipeline actually ships",
    defer=True,
)
def corpus_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import (
        resample_balanced,
        shard_assignment,
    )

    _, _, _, s3, _keeps = _hygiene_stages(spark, sf_dir)
    s4 = resample_balanced(
        s3, "doc_id", "source", target_fraction=0.5, salt="mix"
    )
    sharded = shard_assignment(s4, "doc_id", n_shards=8, salt="shard")
    return (
        sharded.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "shard")
    )


# ---------------------------------------------------------------------------
# Recommender evaluation metrics (precision / recall / NDCG @ 20)
# ---------------------------------------------------------------------------


@register(
    "recsys_popularity_eval",
    f"""
WITH ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score
    FROM events
),
split AS (
    SELECT *,
           CAST(CAST(('0x' || substring(md5('eval' || CAST(userId AS VARCHAR)
                || ':' || CAST(productId AS VARCHAR)), 1, 8)) AS BIGINT)
                AS DOUBLE) / 4294967296.0 < 0.2 AS is_test
    FROM ratings
),
train AS (SELECT * FROM split WHERE NOT is_test),
test AS (
    SELECT DISTINCT userId, productId FROM split WHERE is_test
),
top20 AS (
    SELECT productId,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, productId) AS rnk
    FROM (
        SELECT productId, COUNT(*) AS cnt FROM train GROUP BY productId
    ) QUALIFY rnk <= 20
),
user_test AS (
    SELECT userId, CAST(COUNT(*) AS BIGINT) AS n_test FROM test
    GROUP BY userId
),
hits AS (
    SELECT t.userId, k.rnk
    FROM test t JOIN top20 k ON t.productId = k.productId
),
per_user AS (
    SELECT u.userId,
           u.n_test,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.dcg, 0.0) AS dcg,
           i.idcg
    FROM user_test u
    LEFT JOIN (
        SELECT userId, CAST(COUNT(*) AS BIGINT) AS n_hits,
               SUM(1.0 / LOG2(rnk + 1.0)) AS dcg
        FROM hits GROUP BY userId
    ) h ON u.userId = h.userId
    JOIN (
        SELECT n.n_test,
               SUM(1.0 / LOG2(g.i + 1.0)) AS idcg
        FROM (SELECT DISTINCT n_test FROM user_test) n
        JOIN generate_series(1, 20) AS g(i)
             ON g.i <= LEAST(n.n_test, 20)
        GROUP BY n.n_test
    ) i ON u.n_test = i.n_test
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       {sql_round_stable('AVG(n_hits / 20.0)', 4)} AS precision_at_20,
       {sql_round_stable('AVG(n_hits * 1.0 / n_test)', 4)} AS recall_at_20,
       {sql_round_stable('AVG(dcg / idcg)', 4)} AS ndcg_at_20
FROM per_user
""",
    doc="offline recommender evaluation: precision/recall/NDCG@20 of the "
    "popularity baseline against a deterministic md5 hold-out (20% of "
    "ratings by (user, product) coordinate — any engine agrees on the "
    "split).  DCG joins hold-out hits against the ranked list and sums "
    "1/log2(rank+1); IDCG comes from a per-test-size ideal table "
    "joined back (never a per-user loop).  The evaluation harness "
    "every recommender change is gated on — fully relational, so it "
    "runs where the recs run, at any scale",
    defer=True,
)
def recsys_popularity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import hash_key

    ratings = readers.events_as_ratings(spark, sf_dir).select(
        "userId", "productId", "score"
    )
    coord = F.conv(
        hash_key(
            F.concat(
                F.col("userId").cast("string"),
                F.lit(":"),
                F.col("productId").cast("string"),
            ),
            "eval",
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 32))
    split = ratings.withColumn("is_test", coord < 0.2)
    train = split.filter(~F.col("is_test"))
    test = (
        split.filter("is_test").select("userId", "productId").distinct()
    )
    top20 = (
        train.groupBy("productId")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "productId",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "productId"))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 20)
    )
    user_test = test.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test")
    )
    hits = test.join(F.broadcast(top20), "productId").select("userId", "rnk")
    per_hit = hits.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(1.0 / F.log2(F.col("rnk") + 1.0)).alias("dcg"),
    )
    # ideal DCG per distinct hold-out size: a tiny spine joined back
    sizes = user_test.select("n_test").distinct()
    ideal = (
        sizes.select(
            "n_test",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_test"), F.lit(20)))
            ).alias("i"),
        )
        .groupBy("n_test")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1.0)).alias("idcg"))
    )
    per_user = (
        user_test.join(per_hit, "userId", "left")
        .join(F.broadcast(ideal), "n_test")
        .select(
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_test",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        round_stable(F.avg(F.col("n_hits") / 20.0), 4).alias(
            "precision_at_20"
        ),
        round_stable(
            F.avg(F.col("n_hits") * 1.0 / F.col("n_test")), 4
        ).alias("recall_at_20"),
        round_stable(F.avg(F.col("dcg") / F.col("idcg")), 4).alias(
            "ndcg_at_20"
        ),
    )


# ---------------------------------------------------------------------------
# Privacy: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------


@register(
    "events_k_anonymity",
    f"""
WITH cells AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(FLOOR(value / 10.0) AS INTEGER) AS value_band,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY event_type, day, value_band
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_risky_cells,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
       {sql_round_stable(
           'SUM(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END)'
           ' * 100.0 / SUM(n_rows)', 4)} AS risky_row_pct,
       CAST(MIN(n_users) AS BIGINT) AS k_anonymity
FROM cells
""",
    doc="k-anonymity audit before releasing or sharing event data: "
    "quasi-identifier cells = (event_type, day, value band); a cell "
    "re-identifies if fewer than k=5 distinct users share it.  Reports "
    "the risky-cell/row counts, the at-risk row share, and the "
    "dataset's effective k (the minimum cell population) — the number "
    "a privacy review asks for first.  One grouped aggregate + one "
    "6-column rollup; distinct-user counts spread hot cells across "
    "partitions exactly like count_distinct_two_phase",
    defer=True,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        F.floor(F.col("value") / 10.0).cast("int").alias("value_band"),
    ).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    risky = F.when(F.col("n_users") < 5, F.col("n_rows")).otherwise(0)
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("n_users") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_risky_cells"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(risky).cast("bigint").alias("n_risky_rows"),
        round_stable(
            F.sum(risky) * 100.0 / F.sum("n_rows"), 4
        ).alias("risky_row_pct"),
        F.min("n_users").cast("bigint").alias("k_anonymity"),
    )


# ---------------------------------------------------------------------------
# Tokenizer QA: out-of-vocabulary rate per source
# ---------------------------------------------------------------------------


@register(
    "doc_oov_rate",
    rf"""
WITH toks AS (
    SELECT source,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents
    WHERE length(trim(text)) > 0
),
vocab AS (
    SELECT term FROM (
        SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
        ORDER BY freq DESC, term LIMIT 1000
    )
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       {sql_round_stable(
           'SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)'
           ' * 100.0 / COUNT(*)', 4)} AS oov_pct
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.source
ORDER BY t.source
""",
    doc="out-of-vocabulary rate per source against the corpus's own "
    "top-1000 vocabulary head — the coverage report run before "
    "freezing a tokenizer (a source whose OOV share spikes will "
    "fragment into bytes/unknowns at training time).  The vocabulary "
    "is a TakeOrdered top-k riding a broadcast hash join against the "
    "token stream; one explode, two aggregates, no full-vocabulary "
    "sort",
    defer=True,
)
def doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "source", F.explode(TXT.tokens(F.col("text"))).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(1000)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            round_stable(F.sum(oov) * 100.0 / F.count(F.lit(1)), 4).alias(
                "oov_pct"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: the ACTUAL item-CF recommender vs hold-out
# ---------------------------------------------------------------------------


# Shared eval CTE chain: md5 train/test split -> capped-cosine sims on
# train -> scored candidates -> seen anti-join -> per-user top-20 recs.
# Used by recsys_itemcf_eval and recsys_beyond_accuracy.
_EVAL_RECS_CTES = f"""ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
split AS (
    SELECT *,
           CAST(CAST(('0x' || substring(md5('eval' || CAST(userId AS VARCHAR)
                || ':' || CAST(productId AS VARCHAR)), 1, 8)) AS BIGINT)
                AS DOUBLE) / 4294967296.0 < 0.2 AS is_test
    FROM ratings
),
train AS (SELECT userId, productId, score, ts FROM split WHERE NOT is_test),
test AS (SELECT DISTINCT userId, productId FROM split WHERE is_test),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM train
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT productId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY productId
),
dots AS (
    SELECT a.productId AS pid, b.productId AS other_pid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.userId = b.userId AND a.productId <> b.productId
    GROUP BY pid, other_pid
),
sims AS (
    SELECT pid, other_pid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.pid = na.productId
    JOIN norms nb ON dots.other_pid = nb.productId
),
scores AS (
    SELECT t.userId, s.other_pid AS candidateId,
           {sql_round_stable('SUM(s.sim * t.score)', 4)} AS rec_score
    FROM train t JOIN sims s ON t.productId = s.pid
    GROUP BY t.userId, s.other_pid
),
unseen AS (
    SELECT sc.* FROM scores sc
    WHERE NOT EXISTS (
        SELECT 1 FROM train tr
        WHERE tr.userId = sc.userId AND tr.productId = sc.candidateId
    )
),
recs AS (
    SELECT userId, candidateId,
           ROW_NUMBER() OVER (
               PARTITION BY userId
               ORDER BY rec_score DESC, candidateId
           ) AS rnk
    FROM unseen QUALIFY rnk <= 20
)"""


def _eval_split(spark: SparkSession, sf_dir: str) -> tuple:
    """(split, train) of the recsys eval family: the ratings with an
    ``is_test`` flag from the md5 hold-out coordinate (20 %), and the
    checkpointed 80 % train side.  The Spark twin of the shared
    _EVAL_RECS_CTES split; every eval query builds it from its inputs."""
    from myrecommendsystem_spark.operators.sampling import hash_key

    ratings = readers.events_as_ratings(spark, sf_dir)
    coord = F.conv(
        hash_key(
            F.concat(
                F.col("userId").cast("string"),
                F.lit(":"),
                F.col("productId").cast("string"),
            ),
            "eval",
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 32))
    split = ratings.withColumn("is_test", coord < 0.2)
    # train feeds several plan branches per query (the sims' r/norms/dots,
    # candidate scoring, the seen anti-join, the ALS fit's passes) —
    # materialize it once so the md5-coordinate scan isn't re-run per
    # branch
    train = (
        split.filter(~F.col("is_test"))
        .select("userId", "productId", "score", "ts")
        .localCheckpoint(eager=True)
    )
    return split, train


def _itemcf_recs(train: DataFrame) -> DataFrame:
    """(userId, candidateId, rnk): the item-CF top-20 per user fit on
    ``train`` — full-co-rating sims, per-user candidate scores, train-seen
    anti-joined out (the Spark twin of _EVAL_RECS_CTES' recs).

    Checkpointed (users x 20 rows by contract): recsys_beyond_accuracy
    reads it from four aggregates, and the metric plans of both
    consumers join a materialized relation instead of the whole chain."""
    from myrecommendsystem_spark.ml.itemcf import corating_similarities
    from myrecommendsystem_spark.operators.relational import top_k_per_group

    sims = corating_similarities(train, threshold=-1.0)
    scores = (
        train.join(sims, train.productId == sims.pid)
        .groupBy("userId", F.col("other_pid").alias("candidateId"))
        .agg(
            round_stable(F.sum(F.col("sim") * F.col("score")), 4).alias(
                "rec_score"
            )
        )
    )
    unseen = scores.join(
        train.select("userId", F.col("productId").alias("candidateId")),
        ["userId", "candidateId"],
        "left_anti",
    )
    return (
        top_k_per_group(
            unseen,
            ["userId"],
            [F.col("rec_score").desc(), F.col("candidateId")],
            20,
        )
        .select("userId", "candidateId", "rnk")
        .localCheckpoint(eager=True)
    )


@register(
    "recsys_itemcf_eval",
    f"""
WITH {_EVAL_RECS_CTES},
user_test AS (
    SELECT userId, CAST(COUNT(*) AS BIGINT) AS n_test FROM test
    GROUP BY userId
),
hits AS (
    SELECT t.userId, k.rnk
    FROM test t JOIN recs k
      ON t.productId = k.candidateId AND t.userId = k.userId
),
per_user AS (
    SELECT u.userId, u.n_test,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.dcg, 0.0) AS dcg,
           i.idcg
    FROM user_test u
    LEFT JOIN (
        SELECT userId, CAST(COUNT(*) AS BIGINT) AS n_hits,
               SUM(1.0 / LOG2(rnk + 1.0)) AS dcg
        FROM hits GROUP BY userId
    ) h ON u.userId = h.userId
    JOIN (
        SELECT n.n_test, SUM(1.0 / LOG2(g.i + 1.0)) AS idcg
        FROM (SELECT DISTINCT n_test FROM user_test) n
        JOIN generate_series(1, 20) AS g(i)
             ON g.i <= LEAST(n.n_test, 20)
        GROUP BY n.n_test
    ) i ON u.n_test = i.n_test
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       {sql_round_stable('AVG(n_hits / 20.0)', 4)} AS precision_at_20,
       {sql_round_stable('AVG(n_hits * 1.0 / n_test)', 4)} AS recall_at_20,
       {sql_round_stable('AVG(dcg / idcg)', 4)} AS ndcg_at_20
FROM per_user
""",
    doc="offline evaluation of the ACTUAL item-CF recommender: sims fit "
    "on the 80% md5-split train ratings (same capped-cosine CTEs as "
    "itemcf_similarities), per-user candidate scores = sum(sim x train "
    "score), train-seen anti-joined out, top-20 per user, then the "
    "identical precision/recall/NDCG@20 harness as "
    "recsys_popularity_eval — so the two queries ARE the baseline-vs-"
    "model comparison a recommender team reads.  Every stage is the "
    "production-shaped operator (capped pair join, broadcast sims, "
    "windowed top-k), so eval cost tracks serving cost",
    defer=True,
)
def recsys_itemcf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    split, train = _eval_split(spark, sf_dir)
    test = split.filter("is_test").select("userId", "productId").distinct()
    recs = _itemcf_recs(train)
    user_test = test.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test")
    )
    # name-based join: test and recs descend from the same split, so
    # attribute-object references would be ambiguous (identical exprIds
    # on both sides)
    hits = test.join(
        recs.withColumnRenamed("candidateId", "productId"),
        ["userId", "productId"],
    ).select("userId", "rnk")
    per_hit = hits.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(1.0 / F.log2(F.col("rnk") + 1.0)).alias("dcg"),
    )
    sizes = user_test.select("n_test").distinct()
    ideal = (
        sizes.select(
            "n_test",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_test"), F.lit(20)))
            ).alias("i"),
        )
        .groupBy("n_test")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1.0)).alias("idcg"))
    )
    per_user = (
        user_test.join(per_hit, "userId", "left")
        .join(F.broadcast(ideal), "n_test")
        .select(
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_test",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        round_stable(F.avg(F.col("n_hits") / 20.0), 4).alias(
            "precision_at_20"
        ),
        round_stable(
            F.avg(F.col("n_hits") * 1.0 / F.col("n_test")), 4
        ).alias("recall_at_20"),
        round_stable(F.avg(F.col("dcg") / F.col("idcg")), 4).alias(
            "ndcg_at_20"
        ),
    )


# ---------------------------------------------------------------------------
# Training-label materialization (churn) + PIT-correct feature join
# ---------------------------------------------------------------------------


@register(
    "users_churn_labels",
    f"""
WITH mx AS (SELECT MAX(epoch_ms(ts)) AS t1 FROM events),
per_user AS (
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           {sql_round_stable('AVG(value)', 4)} AS mean_value,
           MAX(epoch_ms(ts)) AS last_ms
    FROM events GROUP BY user_id
)
SELECT user_id, n_events, active_days, mean_value,
       CAST(CASE WHEN t1 - last_ms > 7 * 86400000 THEN 1 ELSE 0 END
            AS INTEGER) AS churned
FROM per_user CROSS JOIN mx
ORDER BY user_id
""",
    doc="churn-label + feature materialization: per-user activity "
    "features (event count, active days, mean value) and the binary "
    "churn label (no events in the trailing 7 days of the corpus) in "
    "one grouped pass — the labeled training table a churn model "
    "consumes.  The corpus horizon is a 1-row broadcast; everything "
    "else is map-side-combinable aggregation",
    defer=True,
)
def users_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    mx = ev.agg(F.max(ms).alias("t1"))
    per_user = ev.groupBy(
        F.col("user_id").cast("bigint").alias("user_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("active_days"),
        round_stable(F.avg("value"), 4).alias("mean_value"),
        F.max(ms).alias("last_ms"),
    )
    return (
        per_user.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "n_events",
            "active_days",
            "mean_value",
            F.when(
                F.col("t1") - F.col("last_ms") > 7 * 86400000, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("churned"),
        )
        .orderBy("user_id")
    )


@register(
    "events_pit_training_set",
    f"""
WITH hist AS (
    SELECT user_id, event_id, event_type, value, ts,
           COUNT(*) OVER w AS prior_events,
           AVG(value) OVER w AS prior_mean_value
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    )
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(COALESCE(prior_events, 0) AS BIGINT) AS prior_events,
       {sql_round_stable('COALESCE(prior_mean_value, 0.0)', 4)}
           AS prior_mean_value,
       {sql_round_stable('value', 4)} AS label_value
FROM hist
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
""",
    doc="point-in-time-correct training set: for every purchase (the "
    "label row), features computed ONLY from the user's strictly "
    "earlier events via a ROWS ... 1 PRECEDING frame — the leakage-free "
    "feature join a feature store must produce (joining current "
    "aggregates would leak the future into training).  One keyed "
    "window; the label filter prunes after feature computation so "
    "features see the full history",
    defer=True,
)
def events_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        F.count(F.lit(1)).over(w).cast("bigint").alias("prior_events"),
        F.avg("value").over(w).alias("prior_mean_value"),
        F.col("value").alias("label_value"),
    )
    return (
        hist.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.coalesce(F.col("prior_events"), F.lit(0))
            .cast("bigint")
            .alias("prior_events"),
            round_stable(
                F.coalesce(F.col("prior_mean_value"), F.lit(0.0)), 4
            ).alias("prior_mean_value"),
            round_stable(F.col("label_value"), 4).alias("label_value"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "recsys_beyond_accuracy",
    f"""
WITH {_EVAL_RECS_CTES},
pop AS (SELECT productId, COUNT(*) AS cnt FROM train GROUP BY productId),
tot AS (SELECT SUM(cnt) AS total FROM pop),
cat AS (SELECT COUNT(DISTINCT productId) AS n_catalog FROM ratings),
conc AS (
    SELECT candidateId, CAST(COUNT(*) AS BIGINT) AS n
    FROM recs GROUP BY candidateId
),
ranked AS (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n, candidateId) AS i FROM conc
),
gini AS (
    SELECT 2.0 * SUM(i * n) / (COUNT(*) * SUM(n))
           - (COUNT(*) + 1.0) / COUNT(*) AS g
    FROM ranked
),
nov AS (
    SELECT AVG(-LOG2(p.cnt * 1.0 / t.total)) AS novelty
    FROM recs r JOIN pop p ON r.candidateId = p.productId CROSS JOIN tot t
)
SELECT CAST((SELECT COUNT(*) FROM conc) AS BIGINT) AS n_rec_items,
       {sql_round_stable(
           '(SELECT COUNT(*) FROM conc) * 100.0'
           ' / (SELECT n_catalog FROM cat)', 4)} AS catalog_coverage_pct,
       {sql_round_stable('(SELECT novelty FROM nov)', 4)} AS novelty_bits,
       {sql_round_stable('(SELECT g FROM gini)', 4)} AS gini_concentration
""",
    doc="beyond-accuracy evaluation of the item-CF recs (same "
    "_EVAL_RECS_CTES rec lists as recsys_itemcf_eval): catalog "
    "coverage (share of items ever recommended), novelty (mean "
    "-log2 popularity share — self-information in bits), and Gini "
    "concentration of recommendation exposure.  Accuracy alone "
    "rewards recommending the head; these three metrics are the "
    "standard counterweights.  All scalars assemble from tiny "
    "aggregates; the rec lists are never re-derived",
    defer=True,
)
def recsys_beyond_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir)
    if ratings.isEmpty():
        return spark.createDataFrame(
            [],
            "n_rec_items bigint, catalog_coverage_pct double, "
            "novelty_bits double, gini_concentration double",
        )
    # The rec-list relation feeds FOUR independent aggregates (conc,
    # novelty, n_rec, and via conc the gini ranking) — read from its
    # checkpoint, never re-derived.
    _, train = _eval_split(spark, sf_dir)
    recs = _itemcf_recs(train).select("userId", "candidateId")

    pop = train.groupBy("productId").agg(F.count(F.lit(1)).alias("cnt"))
    total = pop.agg(F.sum("cnt").alias("total"))
    n_catalog = ratings.agg(
        F.countDistinct("productId").alias("n_catalog")
    )
    conc = recs.groupBy("candidateId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = conc.select(
        "n",
        F.row_number()
        .over(Window.orderBy("n", "candidateId"))
        .alias("i"),
    )
    gini = ranked.agg(
        (
            2.0
            * F.sum(F.col("i") * F.col("n"))
            / (F.count(F.lit(1)) * F.sum("n"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1))
        ).alias("g")
    )
    nov = (
        recs.join(
            F.broadcast(pop),
            recs.candidateId == pop.productId,
        )
        .crossJoin(F.broadcast(total))
        .agg(
            F.avg(-F.log2(F.col("cnt") * 1.0 / F.col("total"))).alias(
                "novelty"
            )
        )
    )
    n_rec = conc.agg(F.count(F.lit(1)).cast("bigint").alias("n_rec_items"))
    return (
        n_rec.crossJoin(F.broadcast(n_catalog))
        .crossJoin(F.broadcast(nov))
        .crossJoin(F.broadcast(gini))
        .select(
            "n_rec_items",
            round_stable(
                F.col("n_rec_items") * 100.0 / F.col("n_catalog"), 4
            ).alias("catalog_coverage_pct"),
            round_stable(F.col("novelty"), 4).alias("novelty_bits"),
            round_stable(F.col("g"), 4).alias("gini_concentration"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient (graph cohesion)
# ---------------------------------------------------------------------------


@register(
    "product_graph_triangles",
    f"""
WITH ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT productId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY productId
),
dots AS (
    SELECT a.productId AS pid, b.productId AS other_pid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.userId = b.userId AND a.productId <> b.productId
    GROUP BY pid, other_pid
),
sims AS (
    SELECT pid, other_pid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.pid = na.productId
    JOIN norms nb ON dots.other_pid = nb.productId
),
knn AS (
    SELECT pid, other_pid FROM (
        SELECT pid, other_pid, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY sim DESC, other_pid
        ) AS rn
        FROM sims WHERE sim > 0
    ) WHERE rn <= 10
),
und AS (
    SELECT DISTINCT LEAST(pid, other_pid) AS a,
                    GREATEST(pid, other_pid) AS b
    FROM knn
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY node
),
wedges AS (SELECT SUM(d * (d - 1) / 2.0) AS n_wedges FROM deg)
SELECT CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
       CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles,
       {sql_round_stable(
           '3.0 * (SELECT n_triangles FROM tri)'
           ' / NULLIF((SELECT n_wedges FROM wedges), 0)', 4)}
           AS clustering_coefficient
""",
    doc="triangle count + global clustering coefficient of the "
    "undirected kNN item-similarity graph: edges canonicalized "
    "(least, greatest), triangles enumerated once via the a<b<c "
    "ordered two-hop join (each triangle counted exactly once, no "
    "6x overcount), transitivity = 3*triangles/wedges.  Graph "
    "cohesion is the structural complement of PageRank (importance) "
    "and BFS (reachability); on a co-rating graph it measures how "
    "clustered taste neighborhoods are.  The ordered join is the "
    "standard distributed triangle algorithm — candidate volume "
    "bounded by degree, never |V|³",
    defer=True,
)
def product_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.itemcf import corating_similarities
    from myrecommendsystem_spark.operators.relational import top_k_per_group

    ratings = readers.events_as_ratings(spark, sf_dir)
    sims = corating_similarities(ratings, threshold=0.0)
    knn = top_k_per_group(
        sims, ["pid"], [F.col("sim").desc(), F.col("other_pid")], 10
    ).select("pid", "other_pid")
    und = (
        knn.select(
            F.least("pid", "other_pid").alias("a"),
            F.greatest("pid", "other_pid").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused by 3 joins + degree agg
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    # The checkpoint is already materialized, so gate the join strategy on
    # the MEASURED edge count rather than the pre-checkpoint estimate
    # (which inflates with the upstream plan's width and statically flips
    # these self-joins to sort-merge even for a few hundred edges).  Two
    # ints per row: 2M edges ≈ 32 MB — the session broadcast threshold.
    # Above the gate the hint vanishes and the joins stay shuffled, which
    # is the right shape for a 100 TB knn edge list.
    if und.count() <= 2_000_000:
        e2 = F.broadcast(e2)
        e3 = F.broadcast(e3)
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("n_wedges")
    )
    n_edges = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            F.col("n_triangles").cast("bigint"),
            round_stable(
                3.0
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0.0)),
                4,
            ).alias("clustering_coefficient"),
        )
    )


# ---------------------------------------------------------------------------
# Session engagement metrics (bounce rate, depth, duration)
# ---------------------------------------------------------------------------


@register(
    "events_session_metrics",
    f"""
WITH s AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
    SELECT user_id, ts, CAST(SUM(new_s) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
    FROM s
),
sess AS (
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 1000.0 AS dur_s
    FROM t GROUP BY user_id, session_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_round_stable(
           'SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)'
           ' * 100.0 / COUNT(*)', 4)} AS bounce_pct,
       {sql_round_stable('AVG(n_events)', 4)} AS avg_depth,
       {sql_round_stable('AVG(dur_s)', 4)} AS avg_duration_s
FROM sess
""",
    doc="session engagement read-out over 30-min-gap sessions (the same "
    "gap-flag running-sum sessionization as ratings_session_examples, "
    "one user_id exchange): session count, bounce rate (single-event "
    "sessions), mean depth, mean duration — the four numbers an "
    "engagement dashboard leads with.  Batch twin of the streaming "
    "session_event_stats window",
    defer=True,
)
def events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag(ms).over(w).isNull() | ((ms - F.lag(ms).over(w)) > 1800000),
        1,
    ).otherwise(0)
    t = ev.select(
        "user_id",
        "ts",
        F.sum(new_s)
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("int")
        .alias("session_id"),
    )
    sess = t.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            (
                F.unix_millis(F.max("ts").cast("timestamp"))
                - F.unix_millis(F.min("ts").cast("timestamp"))
            )
            / 1000.0
        ).alias("dur_s"),
    )
    return sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        round_stable(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            * 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("bounce_pct"),
        round_stable(F.avg("n_events"), 4).alias("avg_depth"),
        round_stable(F.avg("dur_s"), 4).alias("avg_duration_s"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity corpus filter (CCNet-style)
# ---------------------------------------------------------------------------


@register(
    "doc_perplexity_report",
    rf"""
WITH toks AS (
    SELECT doc_id, source,
           CASE WHEN length(trim(text)) = 0 THEN []
                ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                END AS t
    FROM documents
),
words AS (SELECT doc_id, unnest(t) AS word FROM toks),
bigrams AS (
    SELECT doc_id, unnest(
        [t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]
    ) AS gram
    FROM toks WHERE len(t) >= 2
),
split_g AS (
    SELECT doc_id,
           string_split(gram, ' ')[1] AS w1,
           string_split(gram, ' ')[2] AS w2
    FROM bigrams
),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM split_g GROUP BY w1, w2),
uni AS (SELECT word AS w1, COUNT(*) AS c1 FROM words GROUP BY word),
voc AS (SELECT COUNT(DISTINCT word) AS v FROM words),
nll AS (
    SELECT s.doc_id,
           -LOG2((b.c12 + 1.0) / (u.c1 + voc.v)) AS nll
    FROM split_g s
    JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
    JOIN uni u ON s.w1 = u.w1
    CROSS JOIN voc
),
per_doc AS (
    SELECT doc_id, POW(2.0, AVG(nll)) AS ppl FROM nll GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
       {sql_round_stable('AVG(p.ppl)', 4)} AS mean_ppl,
       {sql_round_stable('quantile_cont(p.ppl, 0.5)', 4)} AS median_ppl
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    doc="bigram-LM perplexity report per source (operators/"
    "corpus_quality.bigram_lm_perplexity): an add-one-smoothed bigram "
    "model fit on the corpus itself scores every document; sources "
    "whose perplexity distribution shifts are accumulating gibberish, "
    "boilerplate, or wrong-language text — the CCNet-style filter "
    "signal LLM data pipelines gate ingestion on.  Exact interpolated "
    "median (F.percentile ≡ quantile_cont) per source",
    defer=True,
)
def doc_perplexity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.corpus_quality import (
        bigram_lm_perplexity,
    )

    docs = _t(spark, sf_dir, "documents")
    ppl = bigram_lm_perplexity(docs)
    return (
        ppl.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_scored"),
            round_stable(F.avg("ppl"), 4).alias("mean_ppl"),
            round_stable(F.percentile("ppl", 0.5), 4).alias("median_ppl"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cohort lifetime value (revenue-side cohort analysis)
# ---------------------------------------------------------------------------


@register(
    "orders_cohort_ltv",
    f"""
WITH first AS (
    SELECT o_custkey, MIN(o_orderdate) AS first_dt
    FROM orders GROUP BY o_custkey
),
coh AS (
    SELECT o_custkey,
           strftime(date_trunc('month', first_dt), '%Y-%m') AS cohort
    FROM first
),
sizes AS (
    SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM coh GROUP BY cohort
),
rev AS (
    SELECT c.cohort,
           CAST(date_diff('month',
                date_trunc('month', f.first_dt),
                date_trunc('month', o.o_orderdate)) AS INTEGER) AS age,
           SUM(o.o_totalprice) AS revenue
    FROM orders o
    JOIN first f ON o.o_custkey = f.o_custkey
    JOIN coh c ON o.o_custkey = c.o_custkey
    GROUP BY c.cohort, age
),
cum AS (
    SELECT cohort, age,
           SUM(revenue) OVER (
               PARTITION BY cohort ORDER BY age
               ROWS UNBOUNDED PRECEDING) AS cum_revenue
    FROM rev
)
SELECT m.cohort, m.age, s.n_customers,
       {sql_round_stable('m.cum_revenue / s.n_customers', 2)}
           AS ltv_per_customer
FROM cum m JOIN sizes s ON m.cohort = s.cohort
ORDER BY m.cohort, m.age
""",
    doc="cohort lifetime-value matrix: customers grouped by first-order "
    "month, cumulative revenue per customer by months-since-first — the "
    "revenue-side complement of events_user_retention_cohorts (which "
    "counts users).  First-order table and cohort sizes are "
    "customer-keyed aggregates; the age matrix is one grouped sum + a "
    "per-cohort cumulative window over the tiny (cohort, age) spine",
    defer=True,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt")
    )
    coh = first.select(
        "o_custkey",
        F.date_format(F.trunc("first_dt", "month"), "yyyy-MM").alias(
            "cohort"
        ),
    )
    sizes = coh.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    age = F.months_between(
        F.trunc("o_orderdate", "month"), F.trunc("first_dt", "month")
    ).cast("int")
    rev = (
        orders.join(first, "o_custkey")
        .join(coh.select("o_custkey", "cohort"), "o_custkey")
        .groupBy("cohort", age.alias("age"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.withColumn("cum_revenue", F.sum("revenue").over(w))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "age",
            "n_customers",
            round_stable(
                F.col("cum_revenue") / F.col("n_customers"), 2
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort", "age")
    )


# ---------------------------------------------------------------------------
# Supplier scorecard (composite multi-metric report)
# ---------------------------------------------------------------------------


@register(
    "supplier_scorecard",
    f"""
WITH per_supp AS (
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(l_extendedprice * (1 - l_discount)) AS revenue,
           AVG(date_diff('day', o_orderdate, l_shipdate)) AS ship_lag_days,
           AVG(CASE WHEN l_returnflag = 'R'
                    THEN 1.0 ELSE 0.0 END) AS return_rate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_suppkey
),
tot AS (SELECT SUM(revenue) AS total_rev FROM per_supp)
SELECT s.s_name,
       p.n_lines,
       {sql_round_stable('p.revenue', 2)} AS revenue,
       {sql_round_stable('p.revenue * 100.0 / t.total_rev', 4)}
           AS revenue_share_pct,
       {sql_round_stable('p.ship_lag_days', 4)} AS avg_ship_lag_days,
       {sql_round_stable('p.return_rate * 100.0', 4)} AS return_pct
FROM per_supp p
JOIN supplier s ON p.l_suppkey = s.s_suppkey
CROSS JOIN tot t
ORDER BY revenue DESC, s.s_name
""",
    doc="supplier scorecard: one composite report joining delivery "
    "performance (mean order-to-ship lag), quality (return-flag rate), and "
    "commercial weight (revenue + share) per supplier — the wide "
    "multi-metric rollup a procurement dashboard serves.  One lineitem "
    "aggregate (all metrics partial-aggregatable in the same pass), "
    "supplier dimension broadcast, total a 1-row cross join",
    defer=True,
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.avg(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            ).alias("ship_lag_days"),
            F.avg(
                F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
            ).alias("return_rate"),
        )
    )
    tot = per_supp.agg(F.sum("revenue").alias("total_rev"))
    return (
        per_supp.join(
            F.broadcast(supp),
            per_supp.l_suppkey == supp.s_suppkey,
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "s_name",
            "n_lines",
            round_stable(F.col("revenue"), 2).alias("revenue"),
            round_stable(
                F.col("revenue") * 100.0 / F.col("total_rev"), 4
            ).alias("revenue_share_pct"),
            round_stable(F.col("ship_lag_days"), 4).alias(
                "avg_ship_lag_days"
            ),
            round_stable(F.col("return_rate") * 100.0, 4).alias(
                "return_pct"
            ),
        )
        .orderBy(F.col("revenue").desc(), "s_name")
    )


# ---------------------------------------------------------------------------
# Forecast backtest (seasonal naive + MAPE)
# ---------------------------------------------------------------------------


@register(
    "events_forecast_backtest",
    f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
joined AS (
    SELECT a.event_type, a.day, a.x AS actual, b.x AS forecast
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND b.day = a.day - 7
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       {sql_round_stable(
           'AVG(ABS(actual - forecast) / NULLIF(ABS(actual), 0))'
           ' * 100.0', 4)} AS mape_pct,
       {sql_round_stable(
           'AVG(2.0 * ABS(actual - forecast)'
           ' / NULLIF(ABS(actual) + ABS(forecast), 0)) * 100.0', 4)}
           AS smape_pct
FROM joined
GROUP BY event_type
ORDER BY event_type
""",
    doc="forecast backtest: the seasonal-naive model (predict day d by "
    "day d-7) scored with MAPE and sMAPE per event type — the baseline "
    "every forecasting system must beat, and the backtest harness that "
    "scores it.  One daily aggregate, one self-join on the lagged day "
    "key (equi-join, no window needed), NULLIF guards for zero days",
    defer=True,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    joined = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.x").alias("actual"),
        F.col("b.x").alias("forecast"),
    )
    ae = F.abs(F.col("actual") - F.col("forecast"))
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
            round_stable(
                F.avg(ae / F.nullif(F.abs(F.col("actual")), F.lit(0.0)))
                * 100.0,
                4,
            ).alias("mape_pct"),
            round_stable(
                F.avg(
                    2.0
                    * ae
                    / F.nullif(
                        F.abs(F.col("actual")) + F.abs(F.col("forecast")),
                        F.lit(0.0),
                    )
                )
                * 100.0,
                4,
            ).alias("smape_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Duplicate-transaction suspects (fraud screening)
# ---------------------------------------------------------------------------


@register(
    "orders_duplicate_suspects",
    """
SELECT CAST(a.o_orderkey AS BIGINT) AS orderkey_a,
       CAST(b.o_orderkey AS BIGINT) AS orderkey_b,
       CAST(a.o_custkey AS BIGINT) AS custkey,
       CAST(ABS(date_diff('day', a.o_orderdate, b.o_orderdate))
            AS INTEGER) AS day_gap,
       ROUND(ABS(a.o_totalprice - b.o_totalprice) * 100.0
             / LEAST(a.o_totalprice, b.o_totalprice) + 1e-9, 4)
           AS rel_diff_pct
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
WHERE ABS(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 2
  AND ABS(a.o_totalprice - b.o_totalprice)
      <= 0.05 * LEAST(a.o_totalprice, b.o_totalprice)
ORDER BY orderkey_a, orderkey_b
""",
    doc="duplicate-transaction screening: same-customer order pairs "
    "within 2 days whose amounts differ by <=5% — the double-charge / "
    "resubmitted-cart suspects a payments review queue starts from "
    "(exact-amount equality never occurs in the continuous synthetic "
    "prices, which made the original check vacuous; near-equality is "
    "also what real screeners use — retries mutate totals by shipping "
    "or FX cents).  Blocking is the customer equi key (per-customer "
    "order counts are bounded), amount band + day gap verify as "
    "residuals",
    defer=True,
)
def orders_duplicate_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    a = orders.alias("a")
    b = orders.alias("b")
    gap = F.abs(
        F.datediff(F.col("a.o_orderdate"), F.col("b.o_orderdate"))
    )
    lo = F.least(F.col("a.o_totalprice"), F.col("b.o_totalprice"))
    diff = F.abs(F.col("a.o_totalprice") - F.col("b.o_totalprice"))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter((gap <= 2) & (diff <= 0.05 * lo))
        .select(
            F.col("a.o_orderkey").cast("bigint").alias("orderkey_a"),
            F.col("b.o_orderkey").cast("bigint").alias("orderkey_b"),
            F.col("a.o_custkey").cast("bigint").alias("custkey"),
            gap.cast("int").alias("day_gap"),
            F.round(diff * 100.0 / lo + F.lit(1e-9), 4).alias(
                "rel_diff_pct"
            ),
        )
        .orderBy("orderkey_a", "orderkey_b")
    )


# ---------------------------------------------------------------------------
# Pareto concentration (Lorenz point)
# ---------------------------------------------------------------------------


@register(
    "events_power_users_pareto",
    f"""
WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT n,
           ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk,
           SUM(n) OVER (ORDER BY n DESC, user_id
                        ROWS UNBOUNDED PRECEDING) AS cum_n,
           COUNT(*) OVER () AS n_users,
           SUM(n) OVER () AS total_n
    FROM per_user
)
SELECT CAST(MIN(n_users) AS BIGINT) AS n_users,
       CAST(MIN(CASE WHEN cum_n * 1.0 / total_n >= 0.8 THEN rnk END)
            AS BIGINT) AS users_for_80pct,
       {sql_round_stable(
           'MIN(CASE WHEN cum_n * 1.0 / total_n >= 0.8 THEN rnk END)'
           ' * 100.0 / MIN(n_users)', 4)} AS pct_users_for_80pct
FROM ranked
""",
    doc="Pareto concentration (the Lorenz 80% point): how many of the "
    "heaviest users generate 80% of all events — the '80/20' number "
    "capacity planning and abuse review both ask for.  Per-user "
    "totals, one descending cumulative window with a deterministic "
    "tie-break, and the threshold rank folded out via a conditional "
    "MIN — no iteration, no driver scan",
    defer=True,
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_ord = Window.orderBy(F.col("n").desc(), "user_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = per_user.select(
        "n",
        F.row_number().over(w_ord).alias("rnk"),
        F.sum("n").over(w_cum).alias("cum_n"),
        F.count(F.lit(1)).over(w_all).alias("n_users"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    at80 = F.min(
        F.when(
            F.col("cum_n") * 1.0 / F.col("total_n") >= 0.8, F.col("rnk")
        )
    )
    return ranked.agg(
        F.min("n_users").cast("bigint").alias("n_users"),
        at80.cast("bigint").alias("users_for_80pct"),
        round_stable(at80 * 100.0 / F.min("n_users"), 4).alias(
            "pct_users_for_80pct"
        ),
    )


@register(
    "events_key_skew_profile",
    f"""
WITH per_key AS (
    -- group on the RAW key, render '<NULL>' AFTER counting
    -- (COALESCE inside the GROUP BY would merge a NULL key with
    -- a literal '<NULL>' value; the operator never does — it groups
    -- raw columns and renders for display only)
    SELECT COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS key,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM per_key),
top AS (
    SELECT key, cnt FROM per_key ORDER BY cnt DESC, key LIMIT 20
),
c AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.cnt DESC, t.key) AS INT)
               AS rnk,
           t.key, t.cnt,
           SUM(t.cnt) OVER (ORDER BY t.cnt DESC, t.key) AS cum,
           total
    FROM top t CROSS JOIN tot
)
SELECT rnk, key, cnt,
       {sql_round_stable('CAST(cnt AS DOUBLE) / total')} AS share,
       {sql_round_stable('CAST(cum AS DOUBLE) / total')} AS cum_share,
       CAST((cnt + (total + 31) // 32 - 1)
            // ((total + 31) // 32) AS INTEGER) AS rec_salt
FROM c
""",
    doc="key-skew diagnostic (operators/skew.skew_profile): the profile "
    "run over a join/groupBy key BEFORE choosing broadcast vs "
    "salted_join vs AQE — top-20 heaviest keys with count, Lorenz "
    "share/cum_share, and rec_salt = ceil(cnt / ceil(total / "
    "num_partitions)) in pure integer arithmetic (num_partitions=32, "
    "the local session's shuffle width; 1 = the key fits one balanced "
    "task, max over the report = the salt_factor to hand salted_join).  "
    "Scale shape: one count shuffle; the heavy-hitter pick is "
    "TakeOrderedAndProject (per-partition heaps, top-20 driver merge), "
    "never a global sort of the distinct-key relation; the total rides "
    "a one-row broadcast and the ranking window spans ≤ 20 rows",
    defer=True,
    since=10,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import skew_profile

    return skew_profile(
        _t(spark, sf_dir, "events"), ["event_type"], top_n=20,
        num_partitions=32,
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# Readability report (text-quality family)
# ---------------------------------------------------------------------------


@register(
    "doc_readability_report",
    rf"""
WITH stats AS (
    SELECT doc_id, source,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\s+'))
                END AS n_words,
           length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_sent_marks,
           length(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
               AS n_word_chars
    FROM documents
),
per_doc AS (
    SELECT source,
           n_words * 1.0 / GREATEST(n_sent_marks, 1) AS words_per_sentence,
           n_word_chars * 1.0 / GREATEST(n_words, 1) AS chars_per_word
    FROM stats WHERE n_words > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sql_round_stable('AVG(words_per_sentence)', 4)}
           AS avg_words_per_sentence,
       {sql_round_stable('AVG(chars_per_word)', 4)} AS avg_chars_per_word,
       {sql_round_stable(
           'AVG(206.835 - 1.015 * words_per_sentence'
           ' - 84.6 * (chars_per_word / 3.0))', 4)} AS flesch_proxy
FROM per_doc
GROUP BY source
ORDER BY source
""",
    doc="readability report per source: words-per-sentence and "
    "chars-per-word (the two Flesch inputs; syllables proxied as "
    "chars/3 — the standard syllable-free approximation) plus the "
    "resulting Flesch-style score.  Sources drifting toward long "
    "sentences or long words are accumulating legalese/boilerplate; "
    "paired with perplexity and quality_scores this completes the "
    "text-quality triad.  Pure column expressions — pushdown-friendly, "
    "one grouped aggregate",
    defer=True,
)
def doc_readability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    n_words = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(TXT.tokens(F.col("text"))))
    n_sent = F.length(F.regexp_replace("text", r"[^.!?]", ""))
    n_chars = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "")
    )
    per_doc = docs.select(
        "source",
        n_words.alias("n_words"),
        (n_words * 1.0 / F.greatest(n_sent, F.lit(1))).alias(
            "words_per_sentence"
        ),
        (n_chars * 1.0 / F.greatest(n_words, F.lit(1))).alias(
            "chars_per_word"
        ),
    ).filter(F.col("n_words") > 0)
    flesch = (
        206.835
        - 1.015 * F.col("words_per_sentence")
        - 84.6 * (F.col("chars_per_word") / 3.0)
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            round_stable(F.avg("words_per_sentence"), 4).alias(
                "avg_words_per_sentence"
            ),
            round_stable(F.avg("chars_per_word"), 4).alias(
                "avg_chars_per_word"
            ),
            round_stable(F.avg(flesch), 4).alias("flesch_proxy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ABC revenue classification (inventory analytics)
# ---------------------------------------------------------------------------


@register(
    "parts_abc_classification",
    f"""
WITH rev AS (
    SELECT l_partkey,
           SUM(l_extendedprice * (1 - l_discount)) AS revenue
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT revenue,
           SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
           SUM(revenue) OVER () AS total_rev
    FROM rev
),
classed AS (
    SELECT revenue,
           CASE WHEN cum_rev / total_rev <= 0.8 THEN 'A'
                WHEN cum_rev / total_rev <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {sql_round_stable('SUM(revenue)', 2)} AS revenue,
       {sql_round_stable('SUM(revenue) * 100.0 / MIN(total_rev)', 4)}
           AS revenue_pct
FROM classed CROSS JOIN (SELECT SUM(revenue) AS total_rev FROM rev)
GROUP BY abc_class
ORDER BY abc_class
""",
    doc="ABC inventory classification: parts ranked by revenue, classed "
    "A (first 80% of cumulative revenue) / B (to 95%) / C (tail) via "
    "one descending cumulative window with a deterministic tie-break — "
    "the stock-control segmentation warehouses run weekly.  The class "
    "rollup shows each class's part count and revenue share",
    defer=True,
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    w_cum = Window.orderBy(
        F.col("revenue").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = rev.select(
        "revenue",
        F.sum("revenue").over(w_cum).alias("cum_rev"),
        F.sum("revenue").over(w_all).alias("total_rev"),
    )
    share = F.col("cum_rev") / F.col("total_rev")
    classed = ranked.select(
        "revenue",
        "total_rev",
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            round_stable(F.sum("revenue"), 2).alias("revenue"),
            round_stable(
                F.sum("revenue") * 100.0 / F.min("total_rev"), 4
            ).alias("revenue_pct"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# ALS under the same eval harness (rows-only: MLlib float fixpoint)
# ---------------------------------------------------------------------------


@register(
    "recsys_als_eval",
    None,  # ALS factors are an iterative float fixpoint — no SQL oracle
    doc="offline evaluation of the ALS recommender under the IDENTICAL "
    "harness as recsys_popularity_eval / recsys_itemcf_eval: train on "
    "the same 80% md5 hold-out split (rank=8, the smoke config), "
    "recommendForAllUsers(20), train-seen filtered, precision/recall/"
    "NDCG@20 vs the held-out ratings.  Completes the three-model "
    "comparison (popularity baseline -> neighborhood CF -> matrix "
    "factorization) a recommender team actually runs; rows-only "
    "because MLlib's blocked least-squares is a float fixpoint no SQL "
    "engine reproduces bit-for-bit",
    defer=True,
)
def recsys_als_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.als import train_als, user_recs_flat

    ratings = readers.events_as_ratings(spark, sf_dir)
    if ratings.isEmpty():
        return spark.createDataFrame(
            [],
            "n_users bigint, precision_at_20 double, recall_at_20 double, "
            "ndcg_at_20 double",
        )
    # Same md5 split/train as the item-CF eval pair (the ALS fit
    # ignores the extra ts column) — the three-model comparison runs on
    # one split.
    split, train = _eval_split(spark, sf_dir)
    test = split.filter("is_test").select("userId", "productId").distinct()
    model = train_als(train, rank=8)
    flat = user_recs_flat(model, k=40)  # over-fetch, then drop train-seen
    unseen = flat.join(
        train.select("userId", "productId"),
        ["userId", "productId"],
        "left_anti",
    )
    w = Window.partitionBy("userId").orderBy("rnk")
    recs = (
        unseen.withColumn("rnk2", F.row_number().over(w))
        .filter(F.col("rnk2") <= 20)
        .select(
            "userId",
            F.col("productId").alias("candidateId"),
            F.col("rnk2").alias("rnk"),
        )
    )
    user_test = test.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test")
    )
    hits = test.join(
        recs.withColumnRenamed("candidateId", "productId"),
        ["userId", "productId"],
    ).select("userId", "rnk")
    per_hit = hits.groupBy("userId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(1.0 / F.log2(F.col("rnk") + 1.0)).alias("dcg"),
    )
    sizes = user_test.select("n_test").distinct()
    ideal = (
        sizes.select(
            "n_test",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_test"), F.lit(20)))
            ).alias("i"),
        )
        .groupBy("n_test")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1.0)).alias("idcg"))
    )
    per_user = (
        user_test.join(per_hit, "userId", "left")
        .join(F.broadcast(ideal), "n_test")
        .select(
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_test",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        round_stable(F.avg(F.col("n_hits") / 20.0), 4).alias(
            "precision_at_20"
        ),
        round_stable(
            F.avg(F.col("n_hits") * 1.0 / F.col("n_test")), 4
        ).alias("recall_at_20"),
        round_stable(F.avg(F.col("dcg") / F.col("idcg")), 4).alias(
            "ndcg_at_20"
        ),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------

from myrecommendsystem_spark.plans.text_queries import _LEX_VALUES  # noqa: E402


@register(
    "doc_langid_confusion",
    rf"""
WITH lex(lang, tok) AS (VALUES {_LEX_VALUES}),
toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
hits AS (
    SELECT doc_id, lang, COUNT(*) AS cnt
    FROM toks JOIN lex USING (tok)
    GROUP BY doc_id, lang
),
best AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, lang) AS r
    FROM hits
),
pred AS (
    SELECT d.doc_id, d.lang AS actual_lang,
           COALESCE(b.lang, 'und') AS predicted_lang
    FROM documents d
    LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b
        USING (doc_id)
),
cells AS (
    SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY actual_lang, predicted_lang
),
tot AS (
    SELECT actual_lang, SUM(n) AS class_n FROM cells GROUP BY actual_lang
)
SELECT c.actual_lang, c.predicted_lang, c.n,
       {sql_round_stable('c.n * 100.0 / t.class_n', 4)} AS class_recall_pct
FROM cells c JOIN tot t ON c.actual_lang = t.actual_lang
ORDER BY c.actual_lang, c.predicted_lang
""",
    doc="language-ID confusion matrix: the heuristic classifier "
    "(functions/text.language_id_table, stopword-hit argmax) scored "
    "against the labeled lang column — per-(actual, predicted) counts "
    "with within-class recall.  The classifier-evaluation shape for "
    "any labeled heuristic: where F1 would hide WHICH languages "
    "confuse, the matrix shows it.  Reuses doc_lang_id's exact "
    "lexicon (shared _LEX_VALUES) so predictions match the gated "
    "classifier query bit-for-bit",
    defer=True,
)
def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions import text as TXT

    docs = _t(spark, sf_dir, "documents")
    pred = TXT.language_id_table(docs).join(
        docs.select("doc_id", F.col("lang").alias("actual_lang")),
        "doc_id",
    )
    cells = pred.groupBy(
        "actual_lang", F.col("predicted_lang")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.groupBy("actual_lang").agg(
        F.sum("n").alias("class_n")
    )
    return (
        cells.join(F.broadcast(tot), "actual_lang")
        .select(
            "actual_lang",
            "predicted_lang",
            "n",
            round_stable(
                F.col("n") * 100.0 / F.col("class_n"), 4
            ).alias("class_recall_pct"),
        )
        .orderBy("actual_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Bot / automation detection heuristic (abuse screening)
# ---------------------------------------------------------------------------


@register(
    "users_bot_signals",
    f"""
WITH gaps AS (
    SELECT user_id,
           (epoch_ms(ts) - epoch_ms(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ))) / 1000.0 AS gap_s
    FROM events
),
per_user AS (
    SELECT user_id,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           AVG(gap_s) AS mean_gap_s,
           stddev_samp(gap_s) AS sd_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       n_gaps,
       {sql_round_stable('mean_gap_s', 4)} AS mean_gap_s,
       {sql_round_stable('COALESCE(sd_gap_s, 0.0)', 4)} AS sd_gap_s,
       CAST(CASE WHEN n_gaps >= 20
                  AND COALESCE(sd_gap_s, 0.0) < 0.2 * mean_gap_s
                 THEN 1 ELSE 0 END AS INTEGER) AS bot_suspect
FROM per_user
WHERE n_gaps >= 5
ORDER BY user_id
""",
    doc="automation screening: per-user inter-event gap regularity — "
    "human traffic is bursty (high gap variance), scripted traffic is "
    "metronomic (sd << mean).  One LAG window for gaps + one grouped "
    "moment aggregate; the suspect rule (>=20 gaps, sd < 20% of mean) "
    "is the classic coefficient-of-variation screen an abuse queue "
    "triages from.  Complements events_value_mad_outliers (value "
    "anomalies) with timing anomalies",
    defer=True,
)
def users_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", ((ms - F.lag(ms).over(w)) / 1000.0).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.avg("gap_s").alias("mean_gap_s"),
        F.stddev_samp("gap_s").alias("sd_gap_s"),
    )
    sd = F.coalesce(F.col("sd_gap_s"), F.lit(0.0))
    return (
        per_user.filter(F.col("n_gaps") >= 5)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_gaps",
            round_stable(F.col("mean_gap_s"), 4).alias("mean_gap_s"),
            round_stable(sd, 4).alias("sd_gap_s"),
            F.when(
                (F.col("n_gaps") >= 20)
                & (sd < 0.2 * F.col("mean_gap_s")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("bot_suspect"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Customer segment migration (lifecycle flow matrix)
# ---------------------------------------------------------------------------


@register(
    "customer_segment_migration",
    f"""
WITH monthly AS (
    SELECT o_custkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
           SUM(o_totalprice) AS spend
    FROM orders
    GROUP BY o_custkey, mon
),
seg AS (
    SELECT o_custkey, mon,
           NTILE(4) OVER (PARTITION BY mon
                          ORDER BY spend DESC, o_custkey) AS segment
    FROM monthly
),
flow AS (
    SELECT a.segment AS seg_from, b.segment AS seg_to
    FROM seg a JOIN seg b
      ON a.o_custkey = b.o_custkey
     AND b.mon = strftime(date_trunc('month',
            CAST(a.mon || '-01' AS DATE) + INTERVAL 1 MONTH), '%Y-%m')
)
SELECT CAST(seg_from AS INTEGER) AS seg_from,
       CAST(seg_to AS INTEGER) AS seg_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM flow
GROUP BY seg_from, seg_to
ORDER BY seg_from, seg_to
""",
    doc="customer segment migration: monthly spend quartiles (NTILE "
    "within month, deterministic tie-break) self-joined on the "
    "consecutive-month key — the 4x4 lifecycle flow matrix (who moved "
    "up, who churned down) a CRM reads monthly.  Two windowed passes "
    "plus one equi self-join on (customer, next-month); quartiles "
    "recompute per month so the matrix measures relative movement, "
    "not absolute spend drift",
    defer=True,
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_custkey",
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM").alias(
            "mon"
        ),
    ).agg(F.sum("o_totalprice").alias("spend"))
    w = Window.partitionBy("mon").orderBy(
        F.col("spend").desc(), "o_custkey"
    )
    seg = monthly.select(
        "o_custkey", "mon", F.ntile(4).over(w).alias("segment")
    )
    next_mon = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("a.mon"), F.lit("-01"))), 1),
        "yyyy-MM",
    )
    a = seg.alias("a")
    b = seg.alias("b")
    flow = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.mon") == next_mon),
    ).select(
        F.col("a.segment").alias("seg_from"),
        F.col("b.segment").alias("seg_to"),
    )
    return (
        flow.groupBy(
            F.col("seg_from").cast("int").alias("seg_from"),
            F.col("seg_to").cast("int").alias("seg_to"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("seg_from", "seg_to")
    )


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@register(
    "users_growth_accounting",
    """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
    SELECT user_id, MIN(day) AS first_day FROM activity GROUP BY user_id
),
classified AS (
    SELECT a.day,
           CASE WHEN a.day = f.first_day THEN 'new'
                WHEN y.user_id IS NOT NULL THEN 'retained'
                ELSE 'resurrected' END AS status
    FROM activity a
    JOIN firsts f ON a.user_id = f.user_id
    LEFT JOIN activity y
      ON y.user_id = a.user_id AND y.day = a.day - 1
),
churn AS (
    SELECT y.day + 1 AS day, 'churned' AS status
    FROM activity y
    LEFT JOIN activity t
      ON t.user_id = y.user_id AND t.day = y.day + 1
    WHERE t.user_id IS NULL
)
SELECT strftime(day, '%Y-%m-%d') AS day, status,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT day, status FROM classified
      UNION ALL SELECT day, status FROM churn)
GROUP BY day, status
ORDER BY day, status
""",
    doc="daily growth accounting: every active user classified new "
    "(first-ever day), retained (also active yesterday), or "
    "resurrected (returning after a gap), plus churned (active "
    "yesterday, absent today, attributed to today) — the DAU "
    "decomposition growth teams steer by, where raw DAU hides whether "
    "growth is acquisition or resurrection.  One distinct-activity "
    "relation reused four ways: a first-seen aggregate and two "
    "self-equi-joins on the (user, day±1) key — no windows, no spine "
    "join, every join key-local",
    defer=True,
)
def users_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    activity = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .localCheckpoint(eager=True)  # reused by 4 plan branches
    )
    firsts = activity.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    y = activity.select(
        "user_id", F.date_add("day", 1).alias("day"), F.lit(1).alias("yest")
    )
    classified = (
        activity.join(firsts, "user_id")
        .join(y, ["user_id", "day"], "left")
        .select(
            "day",
            F.when(F.col("day") == F.col("first_day"), "new")
            .when(F.col("yest").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    t = activity.select(
        "user_id", F.col("day").alias("next_day"), F.lit(1).alias("act")
    )
    churn = (
        activity.select(
            "user_id", F.date_add("day", 1).alias("next_day")
        )
        .join(t, ["user_id", "next_day"], "left_anti")
        .select(
            F.col("next_day").alias("day"), F.lit("churned").alias("status")
        )
    )
    return (
        classified.unionByName(churn)
        .groupBy(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "status"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("day", "status")
    )


# ---------------------------------------------------------------------------
# Embedding outlier detection (corpus QA for the vector column)
# ---------------------------------------------------------------------------


@register(
    "embedding_outlier_scores",
    f"""
WITH dims AS (
    SELECT vec_id, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
centroid AS (
    SELECT pos, AVG(v) AS c FROM dims GROUP BY pos
),
dist AS (
    SELECT d.vec_id, SQRT(SUM((d.v - c.c) * (d.v - c.c))) AS dist
    FROM dims d JOIN centroid c ON d.pos = c.pos
    GROUP BY d.vec_id
),
moments AS (
    SELECT AVG(dist) AS mu, stddev_samp(dist) AS sd FROM dist
)
SELECT CAST(d.vec_id AS BIGINT) AS vec_id,
       {sql_round_stable('d.dist', 4)} AS dist,
       {sql_round_stable('(d.dist - m.mu) / m.sd', 4)} AS z
FROM dist d CROSS JOIN moments m
WHERE (d.dist - m.mu) / m.sd > 2.0
ORDER BY z DESC, vec_id
""",
    doc="embedding outlier detection: euclidean distance of every "
    "vector to the GLOBAL centroid, z-scored, reporting vectors more "
    "than 2 sigma out — the corpus-QA pass that catches corrupted, "
    "zero-padded, or wrong-model vectors before they poison an ANN "
    "index or a training run.  Fully relational on (vec_id, pos, v) "
    "scalars: centroid is a 64-row aggregate on a broadcast, distance "
    "is one dim-keyed join + grouped sum — no vector ever assembles "
    "on one node (the 100 TB form, same discipline as "
    "embedding_label_centroids)",
    defer=True,
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "v")
    ).select("vec_id", (F.col("p") + 1).alias("pos"), "v")
    centroid = dims.groupBy("pos").agg(F.avg("v").alias("c"))
    dist = (
        dims.join(F.broadcast(centroid), "pos")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
            ).alias("dist")
        )
    )
    moments = dist.agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sd")
    )
    z = (F.col("dist") - F.col("mu")) / F.col("sd")
    return (
        dist.crossJoin(F.broadcast(moments))
        .filter(z > 2.0)
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            round_stable(F.col("dist"), 4).alias("dist"),
            round_stable(z, 4).alias("z"),
        )
        .orderBy(F.col("z").desc(), "vec_id")
    )


# ---------------------------------------------------------------------------
# Dedup health report (per-source duplication profile)
# ---------------------------------------------------------------------------


@register(
    "doc_duplication_profile",
    rf"""
WITH fp AS (
    SELECT source,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
    FROM documents
),
groups AS (
    SELECT source, f, CAST(COUNT(*) AS BIGINT) AS n
    FROM fp GROUP BY source, f
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
       {sql_round_stable(
           '(SUM(n) - COUNT(*)) * 100.0 / SUM(n)', 4)} AS dup_pct,
       CAST(MAX(n) AS BIGINT) AS largest_group
FROM groups
GROUP BY source
ORDER BY source
""",
    doc="dedup health report: per-source duplication profile off the "
    "exact-fingerprint groups (same normalized-md5 as "
    "dedup_exact_groups) — doc count, distinct count, redundant rows, "
    "duplication %, and the largest clone group.  The ingestion-health "
    "number a crawl pipeline alerts on: a source whose dup_pct climbs "
    "is recrawling itself.  Two grouped aggregates, nothing but "
    "hashes moves",
    defer=True,
)
def doc_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("f"),
    )
    groups = fp.groupBy("source", "f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            (F.sum("n") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_redundant"),
            round_stable(
                (F.sum("n") - F.count(F.lit(1))) * 100.0 / F.sum("n"), 4
            ).alias("dup_pct"),
            F.max("n").cast("bigint").alias("largest_group"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Statistical process control (p-chart error monitoring)
# ---------------------------------------------------------------------------


@register(
    "events_error_pchart",
    f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY hr
),
center AS (
    SELECT SUM(n_err) * 1.0 / SUM(n) AS p_bar FROM hourly
)
SELECT strftime(h.hr, '%Y-%m-%d %H:00') AS hour,
       h.n, h.n_err,
       {sql_round_stable('h.n_err * 1.0 / h.n', 4)} AS err_rate,
       {sql_round_stable('c.p_bar', 4)} AS center_line,
       {sql_round_stable(
           'c.p_bar + 3.0 * SQRT(c.p_bar * (1.0 - c.p_bar) / h.n)', 4)}
           AS ucl,
       CAST(CASE WHEN h.n_err * 1.0 / h.n >
                 c.p_bar + 3.0 * SQRT(c.p_bar * (1.0 - c.p_bar) / h.n)
            THEN 1 ELSE 0 END AS INTEGER) AS out_of_control
FROM hourly h CROSS JOIN center c
ORDER BY h.hr
""",
    doc="statistical process control: the p-chart over hourly error "
    "rates — center line = pooled error share, per-hour 3-sigma upper "
    "control limit sized by that hour's sample (UCL tightens as "
    "volume grows), out-of-control hours flagged.  The monitoring "
    "query an SRE dashboard alerts from, distinguishing real "
    "incidents from binomial noise.  One hourly aggregate + a 1-row "
    "broadcast center line",
    defer=True,
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_err"),
    )
    center = hourly.agg(
        (F.sum("n_err") * 1.0 / F.sum("n")).alias("p_bar")
    )
    rate = F.col("n_err") * 1.0 / F.col("n")
    ucl = F.col("p_bar") + 3.0 * F.sqrt(
        F.col("p_bar") * (1.0 - F.col("p_bar")) / F.col("n")
    )
    return (
        hourly.crossJoin(F.broadcast(center))
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            "n_err",
            round_stable(rate, 4).alias("err_rate"),
            round_stable(F.col("p_bar"), 4).alias("center_line"),
            round_stable(ucl, 4).alias("ucl"),
            F.when(rate > ucl, 1).otherwise(0).cast("int").alias(
                "out_of_control"
            ),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Skyline (pareto-dominance frontier) — multi-criteria optimization
# ---------------------------------------------------------------------------


@register(
    "parts_skyline",
    f"""
WITH pts AS (
    SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part
)
SELECT {sql_round_stable('p.price', 2)} AS price,
       CAST(p.size AS INTEGER) AS size
FROM pts p
WHERE NOT EXISTS (
    SELECT 1 FROM pts d
    WHERE d.price <= p.price AND d.size >= p.size
      AND (d.price < p.price OR d.size > p.size)
)
ORDER BY price, size
""",
    doc="SKYLINE operator (Borzsony 2001 pareto frontier): parts not "
    "dominated on (minimize retailprice, maximize size).  The oracle's "
    "NOT EXISTS is O(n^2); the Spark plan is the distributed two-phase "
    "skyline with ZERO quadratic work and zero Python: range-bucket on "
    "price (bounds from a broadcast 1-row agg), local frontier per "
    "bucket via a running-max window over (price ASC, size DESC), "
    "cross-bucket dominance via the strictly-prior-bucket prefix max "
    "(a 32-row broadcast).  Each point is kept iff its size strictly "
    "exceeds every cheaper point's running max — two window passes, "
    "one tiny broadcast join, fully codegen",
    defer=True,
)
def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bkt = 32
    pts = (
        _t(spark, sf_dir, "part")
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("int").alias("size"),
        )
        .distinct()
    )
    bounds = pts.agg(
        F.min("price").alias("mn"), F.max("price").alias("mx")
    )
    span = F.col("mx") - F.col("mn")
    with_bkt = pts.crossJoin(F.broadcast(bounds)).select(
        "price",
        "size",
        F.least(
            F.lit(n_bkt - 1),
            F.floor(
                (F.col("price") - F.col("mn"))
                / (span / n_bkt + F.lit(1e-12))
            ),
        )
        .cast("int")
        .alias("bkt"),
    )
    w_loc = (
        Window.partitionBy("bkt")
        .orderBy(F.col("price").asc(), F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_bkt.withColumn("prev_max", F.max("size").over(w_loc))
    bmax = with_bkt.groupBy("bkt").agg(F.max("size").alias("bsize"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prior = bmax.select(
        "bkt", F.max("bsize").over(w_bkt).alias("prior_max")
    )
    return (
        local.join(F.broadcast(prior), "bkt")
        .filter(
            (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
            & (
                F.col("prior_max").isNull()
                | (F.col("size") > F.col("prior_max"))
            )
        )
        .select(
            round_stable(F.col("price"), 2).alias("price"),
            F.col("size"),
        )
        .orderBy("price", "size")
    )


# ---------------------------------------------------------------------------
# Audience overlap (set-ops on distinct users across event types)
# ---------------------------------------------------------------------------


@register(
    "events_audience_overlap",
    f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM ut GROUP BY event_type
),
inter AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY type_a, type_b
)
SELECT i.type_a, i.type_b, ta.n AS n_a, tb.n AS n_b, i.n_common,
       {sql_round_stable(
           'i.n_common * 1.0 / (ta.n + tb.n - i.n_common)', 4)} AS jaccard
FROM inter i
JOIN tot ta ON ta.event_type = i.type_a
JOIN tot tb ON tb.event_type = i.type_b
ORDER BY type_a, type_b
""",
    doc="audience-overlap matrix: pairwise distinct-user intersection "
    "and Jaccard between event types.  The scale shape: distinct "
    "(user, type) FIRST (collapses the event volume to at most "
    "users x types rows), the self-join runs on that reduced relation "
    "keyed on user, and the per-type totals ride a broadcast.  The "
    "audience-sizing query every ads/engagement stack runs; the "
    "sketch twin (HLL inclusion-exclusion, see "
    "events_audience_overlap_hll) answers it without the self-join "
    "when estimates suffice",
    defer=True,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    tot = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    jac = F.col("n_common") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            round_stable(jac, 4).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "events_audience_overlap_hll",
    None,  # approx_count_distinct's HLL++ estimates are engine-specific
    # — rows-only at the driver; estimate-vs-exact error is bounded by
    # test_hll_overlap_tracks_exact
    doc="sketch twin of events_audience_overlap: per-type and unioned "
    "distinct-user HLL estimates, intersection by inclusion-exclusion "
    "(|A|+|B|-|AuB|).  No self-join at all — two grouped sketch "
    "aggregates over (type) and (pair-union) — the shape that answers "
    "overlap on 100 TB in one pass when ~2% error is acceptable",
    defer=True,
)
def events_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    tot = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_est")
    )
    types = [r["event_type"] for r in tot.select("event_type").collect()]
    pairs = [(x, y) for x in types for y in types if x < y]
    pair_df = ev.sparkSession.createDataFrame(
        pairs, "type_a string, type_b string"
    )
    union_est = (
        pair_df.join(
            ev,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_union_est"))
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n_est").alias("n_a_est")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n_est").alias("n_b_est")
    )
    inter = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("n_a_est") + F.col("n_b_est") - F.col("n_union_est"),
    )
    return (
        union_est.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a_est",
            "n_b_est",
            inter.alias("n_common_est"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "approx_users_kmv_merge",
    f"""
WITH d AS (
    SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
           {stats.sql_kmv_hash("user_id")} AS hv
    FROM events
),
daily AS (
    SELECT event_type, day, hv FROM d
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv) <= 64
),
merged AS (
    SELECT event_type, hv FROM (SELECT DISTINCT event_type, hv FROM daily)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) <= 64
),
agg AS (
    SELECT event_type, COUNT(*) AS k, MAX(hv) AS hk FROM merged GROUP BY 1
),
ex AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
    FROM events GROUP BY 1
)
SELECT agg.event_type,
       {sql_round_stable(
           f'CASE WHEN k < 64 THEN CAST(k AS DOUBLE)'
           f' ELSE (k - 1) * {float(stats.KMV_M)} / hk END', 4)}
           AS approx_users,
       CAST(ex.exact_users AS BIGINT) AS exact_users
FROM agg JOIN ex ON agg.event_type = ex.event_type
ORDER BY agg.event_type
""",
    doc="mergeable KMV distinct-count maintenance — the DETERMINISTIC "
    "(hash-gated) twin of approx_users_hll_merge: per-(type, day) "
    "k=64 sketch states, min-merged to per-type estimates next to the "
    "exact count.  The 100 TB maintenance shape: a day's refresh "
    "touches one day's slice, merge is associative/commutative/"
    "lossless (min-union — the law pinned in "
    "test_kmv_estimate_tracks_exact_and_merges), and the shuffle "
    "carries 64 longs per group, never user ids.  Pure integer "
    "hashing end to end, so states AND estimates replay in SQL — the "
    "datasketches-HLL original stays rows-only because its register "
    "bytes are engine-internal",
    defer=True,
    since=9,
)
def approx_users_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = 64
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    hv = stats.kmv_hash(F.col("user_id"))
    d = ev.select(
        "event_type", F.col("ts").cast("date").alias("day"), hv.alias("hv")
    ).distinct()
    wd = Window.partitionBy("event_type", "day").orderBy("hv")
    daily = (
        d.withColumn("__r", F.row_number().over(wd))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    wm = Window.partitionBy("event_type").orderBy("hv")
    merged = (
        daily.select("event_type", "hv")
        .distinct()
        .withColumn("__r", F.row_number().over(wm))
        .filter(F.col("__r") <= k)
    )
    agg = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"), F.max("hv").alias("hk")
    )
    est = F.when(F.col("k") < k, F.col("k").cast("double")).otherwise(
        (F.col("k") - 1) * F.lit(float(stats.KMV_M)) / F.col("hk")
    )
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        agg.join(ex, "event_type")
        .select(
            "event_type",
            round_stable(est, 4).alias("approx_users"),
            "exact_users",
        )
        .orderBy("event_type")
    )


@register(
    "events_type_overlap_kmv",
    f"""
WITH d AS (
    SELECT DISTINCT event_type,
           {stats.sql_kmv_hash("user_id")} AS hv
    FROM events
),
sk AS (
    SELECT event_type, hv FROM d
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) <= 64
),
tp AS (SELECT DISTINCT event_type AS t FROM events),
pairs AS (SELECT a.t AS type_a, b.t AS type_b FROM tp a JOIN tp b ON a.t < b.t),
u AS (
    SELECT DISTINCT p.type_a, p.type_b, s.hv
    FROM pairs p JOIN sk s
      ON s.event_type = p.type_a OR s.event_type = p.type_b
),
ut AS (
    SELECT type_a, type_b, hv FROM u
    QUALIFY ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) <= 64
),
agg AS (
    SELECT ut.type_a, ut.type_b,
           COUNT(*) AS k_u, MAX(ut.hv) AS hk,
           SUM(CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL
                    THEN 1 ELSE 0 END) AS n_both
    FROM ut
    LEFT JOIN sk sa ON sa.event_type = ut.type_a AND sa.hv = ut.hv
    LEFT JOIN sk sb ON sb.event_type = ut.type_b AND sb.hv = ut.hv
    GROUP BY 1, 2
),
ex AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_common_exact
    FROM (SELECT DISTINCT event_type, user_id FROM events) a
    JOIN (SELECT DISTINCT event_type, user_id FROM events) b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT agg.type_a, agg.type_b,
       {sql_round_stable(
           f'CASE WHEN k_u < 64 THEN CAST(k_u AS DOUBLE)'
           f' ELSE (k_u - 1) * {float(stats.KMV_M)} / hk END', 4)}
           AS n_union_est,
       {sql_round_stable('n_both * 1.0 / k_u', 4)} AS jaccard_est,
       {sql_round_stable(
           f'(n_both * 1.0 / k_u) * (CASE WHEN k_u < 64 THEN CAST(k_u AS DOUBLE)'
           f' ELSE (k_u - 1) * {float(stats.KMV_M)} / hk END)', 4)}
           AS n_common_est,
       COALESCE(ex.n_common_exact, CAST(0 AS BIGINT)) AS n_common_exact
FROM agg LEFT JOIN ex ON agg.type_a = ex.type_a AND agg.type_b = ex.type_b
ORDER BY agg.type_a, agg.type_b
""",
    doc="KMV set-operation estimates — the DETERMINISTIC (hash-gated) "
    "twin of events_audience_overlap_hll: per-type k=64 KMV sketches "
    "of distinct users, pairwise UNION by min-merge (the pinned "
    "lossless merge law), union estimate (k-1)·2³²/h₍ₖ₎, Jaccard = "
    "|union-top-k ∩ sketch(A) ∩ sketch(B)| / k (Bar-Yossef/Beyer "
    "KMV set ops), intersection = Jaccard × union.  One distinct "
    "shuffle on (type, hash) + a per-type top-64 window; everything "
    "downstream is types²·k rows — no corpus self-join for the "
    "estimates.  The exact intersection rides along as the validation "
    "readout (the CMS/quantile-sketch convention); production uses "
    "the sketches alone",
    defer=True,
    since=9,
)
def events_type_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = 64
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    hv = stats.kmv_hash(F.col("user_id"))
    d = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        d.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
        # three small consumers (union build + two membership probes);
        # types×k rows — materialize once, never re-derive from the corpus
        .localCheckpoint(eager=True)
    )
    # type roster from the checkpointed sketch, not a third events scan
    # (guide §2.4): every event row lands in d — a NULL user hashes
    # to a NULL hv row that still survives per type (NULLs sort first in
    # the top-k window) — so sk carries exactly the distinct types and
    # the pair grid derives from types x k checkpointed rows.
    tp = sk.select(F.col("event_type").alias("t")).distinct()
    pairs = (
        tp.alias("a")
        .join(tp.alias("b"), F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b"))
    )
    u = (
        pairs.join(
            sk,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "hv")
        .distinct()
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("hv")
    ut = (
        u.withColumn("__r", F.row_number().over(wu))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    sa = sk.select(
        F.col("event_type").alias("type_a"), F.col("hv").alias("hv_a")
    )
    sb = sk.select(
        F.col("event_type").alias("type_b"), F.col("hv").alias("hv_b")
    )
    agg = (
        ut.join(
            sa,
            (sa.type_a == ut.type_a) & (F.col("hv_a") == ut.hv),
            "left",
        )
        .join(
            sb,
            (sb.type_b == ut.type_b) & (F.col("hv_b") == ut.hv),
            "left",
        )
        .groupBy(ut.type_a, ut.type_b)
        .agg(
            F.count(F.lit(1)).alias("k_u"),
            F.max(ut.hv).alias("hk"),
            F.sum(
                F.when(
                    F.col("hv_a").isNotNull() & F.col("hv_b").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_both"),
        )
    )
    union_est = F.when(
        F.col("k_u") < k, F.col("k_u").cast("double")
    ).otherwise(
        (F.col("k_u") - 1) * F.lit(float(stats.KMV_M)) / F.col("hk")
    )
    jac = F.col("n_both") * F.lit(1.0) / F.col("k_u")
    du = ev.distinct()
    ex = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common_exact"))
    )
    return (
        agg.join(ex, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            round_stable(union_est, 4).alias("n_union_est"),
            round_stable(jac, 4).alias("jaccard_est"),
            round_stable(jac * union_est, 4).alias("n_common_est"),
            F.coalesce(
                F.col("n_common_exact"), F.lit(0).cast("bigint")
            ).alias("n_common_exact"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (categorical association audit)
# ---------------------------------------------------------------------------


@register(
    "orders_chi2_status_priority",
    f"""
WITH obs AS (
    SELECT o_orderstatus AS flag, o_orderpriority AS mode,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM orders GROUP BY flag, mode
),
rowt AS (SELECT flag, SUM(o) AS rt FROM obs GROUP BY flag),
colt AS (SELECT mode, SUM(o) AS ct FROM obs GROUP BY mode),
n AS (SELECT SUM(o) AS n FROM obs)
SELECT obs.flag AS flag, obs.mode AS mode, obs.o AS o,
       {sql_round_stable('rowt.rt * colt.ct * 1.0 / n.n', 4)} AS expected,
       {sql_round_stable(
           'POWER(obs.o - rowt.rt * colt.ct * 1.0 / n.n, 2)'
           ' / (rowt.rt * colt.ct * 1.0 / n.n)', 4)} AS contrib
FROM obs
JOIN rowt ON obs.flag = rowt.flag
JOIN colt ON obs.mode = colt.mode
CROSS JOIN n
ORDER BY obs.flag, obs.mode
""",
    doc="chi-square test of independence between order status and "
    "order priority: observed vs expected contingency cells and each cell's "
    "statistic contribution (their sum is the chi2 statistic, dof = "
    "(R-1)(C-1)).  The categorical-association audit behind feature "
    "selection and drift alarms.  One grouped count over the fact "
    "table; margins and the grand total are tiny broadcast aggregates "
    "— the fact table shuffles once, everything downstream is "
    "cell-cardinality work",
    defer=True,
)
def orders_chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("flag"),
            F.col("o_orderpriority").alias("mode"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rowt = obs.groupBy("flag").agg(F.sum("o").alias("rt"))
    colt = obs.groupBy("mode").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    expected = F.col("rt") * F.col("ct") * 1.0 / F.col("n")
    contrib = F.pow(F.col("o") - expected, 2) / expected
    return (
        obs.join(F.broadcast(rowt), "flag")
        .join(F.broadcast(colt), "mode")
        .crossJoin(F.broadcast(n))
        .select(
            "flag",
            "mode",
            "o",
            round_stable(expected, 4).alias("expected"),
            round_stable(contrib, 4).alias("contrib"),
        )
        .orderBy("flag", "mode")
    )


@register(
    "events_cusum_alarms",
    f"""
WITH RECURSIVE daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, AVG(value) AS avg_value
    FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
m AS (
    SELECT event_type, AVG(avg_value) AS mu, STDDEV_SAMP(avg_value) AS sd
    FROM daily GROUP BY event_type
),
z AS (
    SELECT d.event_type, d.day, d.avg_value,
           CASE WHEN m.sd IS NULL OR m.sd = 0 THEN 0.0
                ELSE (d.avg_value - m.mu) / m.sd END AS zv,
           ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
    FROM daily d JOIN m USING (event_type)
),
-- Page's recursion s_t = max(0, s_(t-1) +/- z_t - k) is a nonlinear
-- prefix scan: no window equivalent, but a bounded left fold — walked
-- here day-by-day per type (recursion depth = series length)
scan AS (
    SELECT event_type, rn, day, avg_value, zv,
           GREATEST(0.0, zv - 0.5) AS s_hi,
           GREATEST(0.0, -zv - 0.5) AS s_lo
    FROM z WHERE rn = 1
    UNION ALL
    SELECT o.event_type, o.rn, o.day, o.avg_value, o.zv,
           GREATEST(0.0, s.s_hi + o.zv - 0.5),
           GREATEST(0.0, s.s_lo - o.zv - 0.5)
    FROM scan s JOIN z o ON o.event_type = s.event_type AND o.rn = s.rn + 1
)
SELECT event_type, day,
       {sql_round_stable('avg_value', 4)} AS avg_value,
       {sql_round_stable('zv', 4)} AS z,
       {sql_round_stable('s_hi', 4)} AS s_hi,
       {sql_round_stable('s_lo', 4)} AS s_lo,
       CAST(CASE WHEN s_hi > 4.0 OR s_lo > 4.0 THEN 1 ELSE 0 END AS INTEGER)
           AS alarm
FROM scan
ORDER BY event_type, day
""",
    doc="change-point monitoring: two-sided CUSUM (Page 1954) on the "
    "daily mean event value per event type (operators/stats.py::"
    "cusum_alarms).  The input series is the calendar x type aggregate "
    "(bounded rows), standardization moments ride a broadcast, and the "
    "recursion runs as an Arrow kernel per type via applyInPandas — "
    "groups parallelize, each series is one batch.  Complements the "
    "Shewhart p-chart (events_error_pchart): CUSUM accumulates small "
    "persistent shifts the per-point control limits miss.  Upgraded "
    "rows-only → hash-gated: the nonlinear prefix scan is a "
    "bounded left fold, so the DuckDB twin walks it as a day-indexed "
    "recursive CTE (the doc_cdc_chunks technique); alarms fire on the "
    "UNROUNDED sums on both sides, outputs follow round_stable.  The "
    "independent-scan parity + step-injection tests (test_cusum_*) "
    "stay as the semantic pins",
    defer=True,
)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.avg("value").alias("avg_value"))
    )
    return stats.cusum_alarms(daily)


# ---------------------------------------------------------------------------
# Connected components (iterative min-label vs recursive-CTE oracle)
# ---------------------------------------------------------------------------


@register(
    "product_graph_components",
    f"""
WITH RECURSIVE ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
),
capped AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
r AS (
    SELECT userId, productId, AVG(score) AS score
    FROM capped GROUP BY userId, productId
),
norms AS (
    SELECT productId, SQRT(SUM(score * score)) AS nrm
    FROM r GROUP BY productId
),
dots AS (
    SELECT a.productId AS pid, b.productId AS other_pid,
           SUM(a.score * b.score) AS dot
    FROM r a JOIN r b ON a.userId = b.userId AND a.productId <> b.productId
    GROUP BY pid, other_pid
),
sims AS (
    SELECT pid, other_pid,
           {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS sim
    FROM dots
    JOIN norms na ON dots.pid = na.productId
    JOIN norms nb ON dots.other_pid = nb.productId
),
knn AS (
    SELECT CAST(pid AS BIGINT) AS src, CAST(other_pid AS BIGINT) AS dst
    FROM (
        SELECT pid, other_pid, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY sim DESC, other_pid
        ) AS rn
        FROM sims WHERE sim > 0.3
    ) WHERE rn <= 3
),
edges AS (
    SELECT src, dst FROM knn UNION SELECT dst, src FROM knn
),
reach AS (
        SELECT src AS a, src AS b FROM edges
    UNION
        SELECT src, dst FROM edges
    UNION
        SELECT r2.a, e.dst FROM reach r2 JOIN edges e ON e.src = r2.b
)
SELECT a AS id, CAST(MIN(b) AS BIGINT) AS component
FROM reach
GROUP BY a
ORDER BY id
""",
    doc="connected components of the sparse kNN similarity graph "
    "(sim > 0.3, k=3): Spark runs the iterative min-label propagation "
    "(operators/dedup.connected_components — O(diameter) rounds, "
    "checkpoint-truncated); the oracle computes the same labeling as "
    "a DuckDB RECURSIVE reachability closure with MIN aggregation.  "
    "Same iterative-vs-declarative parity discipline as "
    "product_graph_distances, but for the fixed-point (unbounded-"
    "depth) case.  The graph-segmentation pass behind catalog "
    "taxonomy discovery and near-dup cluster audits",
    defer=True,
)
def product_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.itemcf import corating_similarities
    from myrecommendsystem_spark.operators.dedup import connected_components
    from myrecommendsystem_spark.operators.relational import top_k_per_group

    ratings = readers.events_as_ratings(spark, sf_dir)
    sims = corating_similarities(ratings, threshold=0.0).filter(
        F.col("sim") > 0.3
    )
    knn = top_k_per_group(
        sims, ["pid"], [F.col("sim").desc(), F.col("other_pid")], 3
    ).select(
        F.col("pid").cast("long").alias("id_a"),
        F.col("other_pid").cast("long").alias("id_b"),
    )
    comp = connected_components(knn)
    return (
        comp.select(
            F.col("id").cast("bigint"),
            F.col("comp").cast("bigint").alias("component"),
        )
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Conversion latency distribution (view -> first purchase)
# ---------------------------------------------------------------------------


@register(
    "events_time_to_convert",
    f"""
WITH deltas AS (
    SELECT v.event_id,
           MIN(date_diff('microsecond', v.ts, p.ts) / 1000000.0) AS delta_s
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
    GROUP BY v.event_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       {sql_round_stable('AVG(delta_s)', 2)} AS avg_s,
       {sql_round_stable('quantile_cont(delta_s, 0.25)', 2)} AS p25_s,
       {sql_round_stable('quantile_cont(delta_s, 0.50)', 2)} AS p50_s,
       {sql_round_stable('quantile_cont(delta_s, 0.75)', 2)} AS p75_s
FROM deltas
""",
    doc="conversion-latency distribution: per view, seconds to the "
    "FIRST purchase by the same user within 30 minutes, summarized as "
    "exact continuous quantiles (Spark percentile == DuckDB "
    "quantile_cont interpolation).  The interval join is the "
    "watermark-evictable attribution shape (streaming/joins.py); the "
    "min-per-view collapses in the same grouped pass.  The latency "
    "read-out product teams put on dashboards next to the funnel",
    defer=True,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("view_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    deltas = (
        views.join(
            purchases,
            (views.user_id == purchases.user_id)
            & (F.col("p_ts") >= F.col("view_ts"))
            & (F.col("p_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("event_id")
        .agg(
            F.min(
                F.expr("timestampdiff(MICROSECOND, view_ts, p_ts)") / 1e6
            ).alias("delta_s")
        )
    )
    return deltas.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        round_stable(F.avg("delta_s"), 2).alias("avg_s"),
        round_stable(F.percentile("delta_s", F.lit(0.25)), 2).alias("p25_s"),
        round_stable(F.percentile("delta_s", F.lit(0.50)), 2).alias("p50_s"),
        round_stable(F.percentile("delta_s", F.lit(0.75)), 2).alias("p75_s"),
    )


# ---------------------------------------------------------------------------
# Watermark late-arrival audit
# ---------------------------------------------------------------------------


@register(
    "events_late_arrivals",
    """
WITH wm AS (
    SELECT event_type, ts,
           MAX(ts) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - INTERVAL 10 MINUTE AS watermark
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < watermark THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
       ROUND(SUM(CASE WHEN ts < watermark THEN 1 ELSE 0 END) * 100.0
             / COUNT(*) + 1e-9, 4) AS late_pct
FROM wm
GROUP BY event_type
ORDER BY event_type
""",
    doc="watermark audit: events that a 10-minute watermark would drop, "
    "per type — arrival order proxied by event_id, watermark = running "
    "max event time over strictly-prior arrivals minus the delay.  The "
    "pre-deployment answer to 'what loss does this watermark buy'.  "
    "The oracle's global running max is a single-partition window; the "
    "Spark plan is the two-phase form (same discipline as the skyline "
    "and global_row_numbers): range-bucket on event_id, running max "
    "within bucket, strictly-prior-bucket prefix max via a 32-row "
    "broadcast — no global single-partition exchange anywhere",
    defer=True,
)
def events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bkt = 32
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    bounds = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    )
    span = (F.col("mx") - F.col("mn") + 1).cast("double")
    with_bkt = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "event_type",
        "ts",
        F.least(
            F.lit(n_bkt - 1),
            F.floor((F.col("event_id") - F.col("mn")) * n_bkt / span),
        )
        .cast("int")
        .alias("bkt"),
    )
    w_loc = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_bkt.withColumn("loc_max", F.max("ts").over(w_loc))
    bmax = with_bkt.groupBy("bkt").agg(F.max("ts").alias("bts"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prior = bmax.select(
        "bkt", F.max("bts").over(w_bkt).alias("prior_max")
    )
    wm = (
        local.join(F.broadcast(prior), "bkt")
        .withColumn(
            "watermark",
            F.greatest(
                F.coalesce(F.col("loc_max"), F.col("prior_max")),
                F.coalesce(F.col("prior_max"), F.col("loc_max")),
            )
            - F.expr("INTERVAL 10 MINUTES"),
        )
    )
    late = F.when(F.col("ts") < F.col("watermark"), 1).otherwise(0)
    return (
        wm.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(late).cast("bigint").alias("n_late"),
            F.round(
                F.sum(late) * 100.0 / F.count(F.lit(1)) + F.lit(1e-9), 4
            ).alias("late_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Entity resolution (fuzzy match -> cluster -> golden record)
# ---------------------------------------------------------------------------


@register(
    "parts_entity_resolution",
    """
WITH RECURSIVE names AS (
    SELECT p_name AS val, CAST(MIN(p_partkey) AS BIGINT) AS nid
    FROM part WHERE p_name IS NOT NULL GROUP BY p_name
),
pairs AS (
    SELECT a.nid AS ia, b.nid AS ib
    FROM names a JOIN names b
      ON a.val < b.val AND levenshtein(a.val, b.val) <= 1
),
edges AS (SELECT ia AS src, ib AS dst FROM pairs
          UNION SELECT ib, ia FROM pairs),
reach AS (
        SELECT src AS a, src AS b FROM edges
    UNION
        SELECT src, dst FROM edges
    UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
assigned AS (
    SELECT n.nid, n.val, COALESCE(c.comp, n.nid) AS cluster_id
    FROM names n LEFT JOIN comp c ON n.nid = c.id
)
SELECT a.cluster_id AS cluster_id,
       cn.val AS canonical,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM assigned a
JOIN names cn ON cn.nid = a.cluster_id
GROUP BY a.cluster_id, cn.val
ORDER BY cluster_id
""",
    doc="entity resolution end-to-end: SymSpell-blocked fuzzy pairs "
    "(edit distance <= 1) -> connected-component clustering -> golden "
    "record (canonical = the min-key member's spelling, survivorship "
    "by deterministic rule).  Composes three verified operators "
    "(edit_distance_pairs, dedup.connected_components) into the "
    "master-data pipeline shape; singletons keep themselves as "
    "cluster.  Oracle: brute-force Levenshtein pairs + RECURSIVE "
    "closure — the declarative twin of both iterative stages at once",
    defer=True,
)
def parts_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.dedup import (
        connected_components,
        edit_distance_pairs,
    )

    part = _t(spark, sf_dir, "part")
    names = (
        part.filter(F.col("p_name").isNotNull())
        .groupBy(F.col("p_name").alias("val"))
        .agg(F.min("p_partkey").cast("bigint").alias("nid"))
    )
    pairs = edit_distance_pairs(part, "p_name")
    na = names.select(F.col("val").alias("val_a"), F.col("nid").alias("id_a"))
    nb = names.select(F.col("val").alias("val_b"), F.col("nid").alias("id_b"))
    idp = (
        pairs.join(F.broadcast(na), "val_a")
        .join(F.broadcast(nb), "val_b")
        .select("id_a", "id_b")
    )
    comp = connected_components(idp)
    assigned = names.join(
        comp.select(F.col("id").alias("nid"), "comp"), "nid", "left"
    ).select(
        "nid", "val", F.coalesce("comp", "nid").alias("cluster_id")
    )
    canon = names.select(
        F.col("nid").alias("cluster_id"), F.col("val").alias("canonical")
    )
    return (
        assigned.join(F.broadcast(canon), "cluster_id")
        .groupBy("cluster_id", "canonical")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_variants"))
        .orderBy("cluster_id")
    )


@register(
    "users_cumulative_reach",
    """
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day
    FROM events GROUP BY user_id
),
daily AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM first_seen GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumulative_reach
FROM daily
ORDER BY day
""",
    doc="cumulative reach curve: running count of DISTINCT users ever "
    "seen, by day.  The naive form (COUNT(DISTINCT) OVER a growing "
    "frame) re-scans every prefix — O(days x events); the decomposed "
    "form maps each user to their FIRST day (one grouped min), counts "
    "new users per day, and prefix-sums the (calendar-sized) daily "
    "relation.  The growth curve every launch dashboard shows, in one "
    "aggregate + one tiny window",
    defer=True,
)
def users_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_new",
            F.sum("n_new").over(w).cast("bigint").alias("cumulative_reach"),
        )
        .orderBy("day")
    )


@register(
    "events_cms_user_counts",
    None,  # xxhash64-seeded sketch — engine-specific; rows-only at the
    # driver.  Overestimate-only + additive-merge + error-bound laws
    # pinned in test_cms_overestimates_within_bound_and_merges
    doc="count-min sketch point-frequency readout: build one mergeable "
    "depth=5 x width=256 sketch over event user_ids (operators/stats."
    "count_min_sketch — Arrow grid partials reduced by a grouped sum, "
    "driver sees O(1) cells), then estimate the 20 heaviest users' "
    "frequencies JVM-side (cms_estimate_col compiles the min-over-rows "
    "lookup into a column expression; the grid rides the plan as a "
    "~1 KB literal).  Output (user_id, true_cnt, est_cnt) — the "
    "validation readout; production uses the sketch alone.  Third "
    "member of the mergeable-sketch family (HLL distinct, exact "
    "heavy-hitters' sketch twin)",
    defer=True,
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.functions.caching import (
        eager_release,
        release_checkpoint,
    )

    ev = _t(spark, sf_dir, "events")
    # ONE events pass (guide §2.4): the sketch build used to scan
    # raw events through the Arrow grid kernel while the top-20 readout
    # scanned them AGAIN for the exact counts.  The per-user counts are
    # sufficient for both — cell-identical sketch via the weighted build
    # (a cell is the sum of the counts of the users hashing into it) —
    # so aggregate once, checkpoint the tiny (user, cnt) relation, and
    # derive sketch + top-20 from it.  At 100 TB: one corpus scan, and
    # the Python stage sees the user dictionary, not the event stream.
    per_user = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .persist()
    )
    # the sketch build's internal collect doubles as the cache
    # materializer; the top-20 readout then reads the warm cache
    grid = stats.count_min_sketch(per_user, "user_id", weight_col="true_cnt")
    top = per_user.orderBy(F.col("true_cnt").desc(), "user_id").limit(20)
    out = top.select(
        "user_id",
        "true_cnt",
        stats.cms_estimate_col(grid, F.col("user_id"))
        .cast("bigint")
        .alias("est_cnt"),
    ).orderBy(F.col("true_cnt").desc(), "user_id")
    return eager_release(out, per_user)


# ---------------------------------------------------------------------------
# Deterministic sketch twins: the xxhash/datasketches sketches
# above are engine-specific and stay rows-only; these two replay the SAME
# sketch algorithms with pure-integer hashing both engines compute
# identically, so the whole family is hash-gated end to end.
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_users_kmv",
    f"""
WITH h AS (
    SELECT DISTINCT {stats.sql_kmv_hash("user_id")} AS hv
    FROM events
),
topk AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
kth AS (SELECT MAX(hv) AS kth_hash, COUNT(*) AS k FROM topk),
ex AS (SELECT COUNT(DISTINCT user_id) AS exact_users FROM events)
SELECT CAST(k AS INTEGER) AS k,
       CAST(kth_hash AS BIGINT) AS kth_hash,
       {sql_round_stable(
           f'CASE WHEN k < 64 THEN CAST(k AS DOUBLE)'
           f' ELSE (k - 1) * {float(stats.KMV_M)} / kth_hash END', 4)}
           AS est_users,
       CAST(exact_users AS BIGINT) AS exact_users
FROM kth, ex
""",
    doc="KMV (k-minimum-values) distinct-count sketch, the "
    "DETERMINISTIC twin of approx_distinct_users' HLL: Knuth-hash each "
    "user id, keep the k=64 smallest distinct hash values, estimate "
    "distinct ≈ (k-1)·2^32 / h_(k) (Bar-Yossef et al. 2002).  "
    "orderBy+limit compiles to TakeOrderedAndProject — every partition "
    "forwards only its own 64 smallest, no global sort — and the "
    "sketch state (64 longs) is mergeable by min-union, the same "
    "100 TB maintenance shape as the HLL entry.  Pure integer "
    "arithmetic, so the oracle replays the hash, the top-k, and the "
    "estimate exactly; the exact distinct count rides along as the "
    "validation readout",
    defer=True,
    since=9,
)
def approx_distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    topk = stats.kmv_smallest_hashes(ev, "user_id", k=64)
    kth = topk.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.max("hv").alias("kth_hash"),
    )
    exact = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    # k<64 guard (the KMV-family convention): the
    # (k-1)·M/h_(k) estimator is biased while the sketch isn't full —
    # with fewer than k distinct keys the sketch IS the exact set
    est = F.when(F.col("k") < 64, F.col("k").cast("double")).otherwise(
        (F.col("k") - 1) * F.lit(float(stats.KMV_M)) / F.col("kth_hash")
    )
    return kth.crossJoin(exact).select(
        "k",
        "kth_hash",
        round_stable(est, 4).alias("est_users"),
        "exact_users",
    )


@register(
    "events_cms_replay_counts",
    f"""
WITH params(j, a, b) AS (
    VALUES {", ".join(f"({j}, {a}, {b})" for j, a, b in stats.CMS_REPLAY_PARAMS)}
),
cells AS (
    SELECT p.j,
           ((CAST(e.user_id AS BIGINT) * p.a + p.b) % {stats.CMS_REPLAY_P})
               % {stats.CMS_REPLAY_WIDTH} AS bucket,
           COUNT(*) AS cnt
    FROM events e CROSS JOIN params p
    GROUP BY 1, 2
),
top AS (
    SELECT user_id, COUNT(*) AS true_cnt
    FROM events GROUP BY user_id
    ORDER BY true_cnt DESC, user_id LIMIT 20
),
probe AS (
    SELECT t.user_id, t.true_cnt, p.j,
           ((CAST(t.user_id AS BIGINT) * p.a + p.b) % {stats.CMS_REPLAY_P})
               % {stats.CMS_REPLAY_WIDTH} AS bucket
    FROM top t CROSS JOIN params p
)
SELECT pr.user_id,
       CAST(pr.true_cnt AS BIGINT) AS true_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
FROM probe pr JOIN cells c ON c.j = pr.j AND c.bucket = pr.bucket
GROUP BY pr.user_id, pr.true_cnt
ORDER BY true_cnt DESC, pr.user_id
""",
    doc="REPLAYABLE count-min sketch (deterministic twin of "
    "events_cms_user_counts): depth=4 mod-p affine hash rows x "
    "width=512, built as a relation — each event explodes to its 4 "
    "(row, bucket) pairs and ONE grouped count folds them; partial "
    "aggregation caps map output at 2048 cells per task, so the "
    "shuffle is O(tasks·cells) regardless of event volume.  The 20 "
    "heaviest users probe the sketch via a broadcast join + min-over-"
    "rows — (user, true_cnt, est_cnt ≥ true_cnt).  Pure integer "
    "hashing makes build AND probe oracle-replayable; the CMS laws "
    "(overestimate-only, additive merge) are pinned in "
    "test_cms_overestimates_within_bound_and_merges for the xxhash "
    "variant and hold "
    "here by the same algebra",
    defer=True,
    since=9,
)
def events_cms_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = stats.cms_replay_cells(ev, "user_id")
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "user_id")
        .limit(20)
    )
    probe = top.select(
        "user_id",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        stats.cms_replay_bucket(
                            F.col("user_id"), a, b
                        ).alias("bucket"),
                    )
                    for j, a, b in stats.CMS_REPLAY_PARAMS
                ]
            )
        ).alias("x"),
    ).select("user_id", "true_cnt", "x.j", "x.bucket")
    return (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
        .orderBy(F.col("true_cnt").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# Band join (numeric-distance self-join via bucket expansion)
# ---------------------------------------------------------------------------


@register(
    "parts_price_band_join",
    f"""
WITH p AS (SELECT p_partkey AS k, p_retailprice AS price FROM part)
SELECT a.k AS partkey,
       CAST(COUNT(b.k) AS BIGINT) AS n_within_band,
       {sql_round_stable('COALESCE(AVG(ABS(a.price - b.price)), 0.0)', 4)}
           AS avg_gap
FROM p a
LEFT JOIN p b
  ON b.k <> a.k AND ABS(a.price - b.price) <= 5.0
GROUP BY a.k
ORDER BY partkey
""",
    doc="BAND JOIN (|price_a - price_b| <= 5) as a bucketed equi join: "
    "probes explode to their 3 adjacent width-5 buckets, the build "
    "side keys on its OWN bucket, so every qualifying pair meets on "
    "exactly one equi key and the band predicate is a cheap residual.  "
    "The oracle is the O(n^2) inequality join Spark would otherwise "
    "nested-loop; the bucketed plan shuffles each side once on the "
    "bucket key — the standard scale rewrite for distance/band "
    "predicates (same family as the blocked SymSpell join).  Output: "
    "per part, how many others price within the band + mean gap "
    "(LEFT: zero-neighbor parts kept)",
    defer=True,
)
def parts_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    width = 5.0
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_retailprice").alias("price")
    )
    probe = p.select(
        "k",
        "price",
        F.explode(
            F.array(
                F.floor(F.col("price") / width) - 1,
                F.floor(F.col("price") / width),
                F.floor(F.col("price") / width) + 1,
            )
        ).alias("bkt"),
    )
    build = p.select(
        F.col("k").alias("bk"),
        F.col("price").alias("bprice"),
        F.floor(F.col("price") / width).alias("bkt"),
    )
    # keep the SELF-match (it lands in exactly one of the probe's
    # three buckets) so every part reaches the aggregate and the old
    # LEFT join back to `p` — a second full scan of part plus a
    # sort-merge join (2 exchanges + 2 sorts) — is redundant:
    # n_within_band = count-1, and the self gap is exactly 0.0 so the
    # neighbor gap SUM is unchanged.  Equivalent because p_partkey /
    # p_retailprice are non-null by the TPC-H data contract (the old
    # plan's build side already pushed IsNotNull on both).
    pairs = probe.join(build, "bkt").filter(
        F.abs(F.col("price") - F.col("bprice")) <= width
    )
    counts = pairs.groupBy("k").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_within_band"),
        F.sum(F.abs(F.col("price") - F.col("bprice"))).alias("sum_gap"),
    )
    return counts.select(
        F.col("k").alias("partkey"),
        "n_within_band",
        round_stable(
            F.when(
                F.col("n_within_band") > 0,
                F.col("sum_gap") / F.col("n_within_band"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("avg_gap"),
    ).orderBy("partkey")


# ---------------------------------------------------------------------------
# Hypertable-style multi-grain rollup (continuous-aggregate chain)
# ---------------------------------------------------------------------------


@register(
    "events_rollup_two_level",
    f"""
WITH minute AS (
    SELECT event_type,
           date_trunc('minute', ts) AS m,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(value) AS sv
    FROM events GROUP BY event_type, m
)
SELECT event_type,
       strftime(date_trunc('hour', m), '%Y-%m-%d %H:00') AS hour,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_minutes_active,
       {sql_round_stable('SUM(sv)', 4)} AS sum_value,
       {sql_round_stable('SUM(sv) / SUM(n)', 4)} AS avg_value
FROM minute
GROUP BY event_type, hour
ORDER BY event_type, hour
""",
    doc="hypertable-style continuous-aggregate chain: the hour grain is "
    "derived FROM the minute grain, never from raw events — the "
    "TimescaleDB/Druid rollup discipline that makes multi-resolution "
    "dashboards O(finer-grain rows), not O(events), and the reason "
    "every aggregate here is algebraic (count/sum re-aggregate; avg is "
    "derived sum/count at read time, never averaged-of-averages).  "
    "n_minutes_active (a COUNT over the minute relation) is the "
    "signal only the chain can produce cheaply.  One raw scan total; "
    "the hour pass reads minute-cardinality rows",
    defer=True,
)
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    minute = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("sv"),
    )
    return (
        minute.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "m"), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_minutes_active"),
            round_stable(F.sum("sv"), 4).alias("sum_value"),
            round_stable(F.sum("sv") / F.sum("n"), 4).alias("avg_value"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "events_value_quantiles_sketch",
    None,  # approx_percentile's KLL-style sketch is engine-specific —
    # rows-only; rank-error vs the exact quantiles is bounded in
    # test_quantile_sketch_tracks_exact
    doc="mergeable quantile sketch readout: per-type approx_percentile "
    "(Spark's GK/KLL-family sketch, relativeError 0.01) for "
    "p25/p50/p75/p99 — the one-pass mergeable path that answers "
    "quantiles over any slice union at 100 TB, where the exact twin "
    "(events_value_quantiles_by_type) needs a full sort per group.  "
    "Sketch partials merge map-side like any aggregate",
    defer=True,
)
def events_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    qs = F.percentile_approx(
        "value", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.99)]), 10_000
    )
    return (
        ev.groupBy("event_type")
        .agg(qs.alias("q"))
        .select(
            "event_type",
            F.round(F.element_at("q", 1), 4).alias("p25"),
            F.round(F.element_at("q", 2), 4).alias("p50"),
            F.round(F.element_at("q", 3), 4).alias("p75"),
            F.round(F.element_at("q", 4), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "events_value_quantiles_histsketch",
    f"""
WITH cells AS (
    SELECT event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
),
cum AS (
    SELECT event_type, bucket, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM cells
)
SELECT event_type,
       {sql_round_stable(
           "MIN(CASE WHEN cum >= CEIL(0.25 * n) THEN bucket END) / 100.0", 4)}
           AS p25,
       {sql_round_stable(
           "MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN bucket END) / 100.0", 4)}
           AS p50,
       {sql_round_stable(
           "MIN(CASE WHEN cum >= CEIL(0.75 * n) THEN bucket END) / 100.0", 4)}
           AS p75,
       {sql_round_stable(
           "MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bucket END) / 100.0", 4)}
           AS p99
FROM cum
GROUP BY event_type
ORDER BY event_type
""",
    doc="REPLAYABLE mergeable quantile sketch (deterministic twin of "
    "events_value_quantiles_sketch — the KMV/CMS-twin "
    "technique extended to the last sketch family): a fixed-resolution "
    "histogram relation (event_type, centi-bucket = floor(value·100), "
    "cnt), one grouped count whose map-side partial aggregation caps "
    "every task's shuffle output at the distinct-bucket count (bounded "
    "by the value RANGE × 100, never by event volume), then rank "
    "selection — per quantile p, the smallest bucket whose cumulative "
    "count reaches ceil(p·n) — over the types × buckets relation.  The "
    "sketch is lossless-mergeable (bucket counts ADD across any slice "
    "union: the same 100 TB maintenance shape as the KMV/CMS twins) "
    "and accurate to the 0.01 bucket resolution by construction.  "
    "Rank selection is pure integer arithmetic on bucket counts, so "
    "build AND readout replay in SQL exactly; the approx_percentile "
    "original stays rows-only because Spark's KLL-family sketch "
    "internals are engine-specific",
    defer=True,
    since=10,
)
def events_value_quantiles_histsketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )

    def _q(p: float, name: str):
        hit = F.when(
            F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("bucket")
        )
        return round_stable(F.min(hit) / F.lit(100.0), 4).alias(name)

    return (
        cum.groupBy("event_type")
        .agg(_q(0.25, "p25"), _q(0.5, "p50"), _q(0.75, "p75"), _q(0.99, "p99"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Differentially-private release (Laplace mechanism, deterministic noise)
# ---------------------------------------------------------------------------


@register(
    "events_dp_type_counts",
    f"""
WITH c AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_cnt
    FROM events GROUP BY event_type
),
seeded AS (
    SELECT event_type, true_cnt,
           ROW_NUMBER() OVER (ORDER BY event_type) AS i
    FROM c
),
noise AS (
    SELECT event_type, true_cnt,
           ((i * 2654435761) % 2147483647) / 2147483647.0 AS u
    FROM seeded
)
SELECT event_type, true_cnt,
       {sql_round_stable(
           'true_cnt - SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5))', 4
       )} AS dp_cnt
FROM noise
ORDER BY event_type
""",
    doc="differentially-private count release (Laplace mechanism, "
    "epsilon=1, sensitivity 1 => scale b=1): per-type counts plus "
    "Laplace noise drawn by inverse-CDF from a DETERMINISTIC "
    "Knuth-hash uniform keyed on the output row — reproducible across "
    "engines (hash-matched!) and runs, which is what makes a DP "
    "release auditable and idempotent under retries (fresh noise per "
    "re-run would compose privacy budgets).  Completes the privacy "
    "family with events_k_anonymity; true_cnt appears here only for "
    "the oracle comparison — a production release drops it.  One "
    "grouped count; noise is per-output-row arithmetic on a "
    "group-cardinality relation",
    defer=True,
)
def events_dp_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    w = Window.orderBy("event_type")
    seeded = c.withColumn("i", F.row_number().over(w))
    u = (F.col("i") * 2654435761) % 2147483647 / 2147483647.0
    lap = -F.signum(u - 0.5) * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    return (
        seeded.select(
            "event_type",
            "true_cnt",
            round_stable(F.col("true_cnt") + lap, 4).alias("dp_cnt"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Behavioral anomaly: improbable event sequences
# ---------------------------------------------------------------------------


@register(
    "events_anomalous_sequences",
    f"""
WITH seq AS (
    SELECT user_id, event_type AS cur,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
trans AS (
    SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
model AS (
    SELECT cur, nxt, n * 1.0 / SUM(n) OVER (PARTITION BY cur) AS p
    FROM trans
),
scored AS (
    SELECT s.user_id, LN(m.p) AS lp
    FROM seq s JOIN model m ON s.cur = m.cur AND s.nxt = m.nxt
),
per_user AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           AVG(lp) AS avg_lp
    FROM scored GROUP BY user_id
),
cut AS (SELECT quantile_cont(avg_lp, 0.05) AS c FROM per_user)
SELECT CAST(user_id AS BIGINT) AS user_id, n_transitions,
       {sql_round_stable('avg_lp', 4)} AS avg_log_prob
FROM per_user CROSS JOIN cut
WHERE avg_lp <= cut.c
ORDER BY avg_log_prob, user_id
""",
    doc="behavioral anomaly via sequence likelihood: fit the first-order "
    "transition model from the corpus itself (events_type_transitions' "
    "matrix as probabilities), score every user's journey by mean "
    "transition log-probability, flag the bottom 5% tail.  Users whose "
    "paths the population model finds improbable — the complement of "
    "users_bot_signals' TIMING screen (this one catches scripted "
    "ORDER, not scripted cadence).  Transition model is type^2 rows "
    "on a broadcast; one LEAD window + two grouped aggregates",
    defer=True,
)
def events_anomalous_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wm = Window.partitionBy("cur")
    model = trans.select(
        "cur", "nxt", (F.col("n") * 1.0 / F.sum("n").over(wm)).alias("p")
    )
    scored = seq.join(F.broadcast(model), ["cur", "nxt"]).select(
        "user_id", F.log(F.col("p")).alias("lp")
    )
    per_user = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.avg("lp").alias("avg_lp"),
    )
    cut = per_user.agg(
        F.percentile(F.col("avg_lp"), F.lit(0.05)).alias("c")
    )
    return (
        per_user.crossJoin(F.broadcast(cut))
        .filter(F.col("avg_lp") <= F.col("c"))
        .select(
            F.col("user_id").cast("bigint"),
            "n_transitions",
            round_stable(F.col("avg_lp"), 4).alias("avg_log_prob"),
        )
        .orderBy("avg_log_prob", "user_id")
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (last-touch vs linear credit)
# ---------------------------------------------------------------------------


@register(
    "events_multitouch_attribution",
    f"""
WITH touches AS (
    SELECT p.event_id AS purchase_id, p.value AS revenue,
           v.event_id AS view_id, v.ts AS view_ts,
           ROW_NUMBER() OVER (PARTITION BY p.event_id
                              ORDER BY v.ts DESC, v.event_id DESC) AS recency,
           CAST(COUNT(*) OVER (PARTITION BY p.event_id) AS BIGINT) AS n_touch
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
)
SELECT CAST(view_id AS BIGINT) AS view_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
       {sql_round_stable(
           'SUM(CASE WHEN recency = 1 THEN revenue ELSE 0 END)', 4
       )} AS last_touch_credit,
       {sql_round_stable('SUM(revenue / n_touch)', 4)} AS linear_credit
FROM touches
GROUP BY view_id
ORDER BY view_id
""",
    doc="multi-touch attribution over the 30-minute pre-purchase "
    "window: every purchase credits its touching views under BOTH "
    "models — last-touch (full revenue to the most recent view) and "
    "linear (equal split across the journey) — in one pass.  The "
    "interval join is the watermark-evictable shape; both credit "
    "models derive from the same two windows over the joined "
    "relation, so comparing attribution models costs one query, not "
    "two pipelines.  Complements events_view_purchase_attrib "
    "(forward-looking conversion) with the backward-looking credit "
    "assignment marketing actually bills on",
    defer=True,
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("revenue"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("p_ts"))
        & (F.col("view_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    wp = Window.partitionBy("purchase_id")
    wr = wp.orderBy(F.col("view_ts").desc(), F.col("view_id").desc())
    touches = joined.select(
        "purchase_id",
        "revenue",
        "view_id",
        F.row_number().over(wr).alias("recency"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_touch"),
    )
    return (
        touches.groupBy(F.col("view_id").cast("bigint").alias("view_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases_touched"),
            round_stable(
                F.sum(
                    F.when(F.col("recency") == 1, F.col("revenue")).otherwise(
                        0.0
                    )
                ),
                4,
            ).alias("last_touch_credit"),
            round_stable(
                F.sum(F.col("revenue") / F.col("n_touch")), 4
            ).alias("linear_credit"),
        )
        .orderBy("view_id")
    )


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier repurchase curve
# ---------------------------------------------------------------------------


@register(
    "orders_repurchase_survival",
    f"""
WITH seq AS (
    SELECT o_custkey,
           date_diff('day',
                     LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS gap,
           o_orderdate
    FROM orders
),
observed AS (SELECT gap FROM seq WHERE gap IS NOT NULL),
last_order AS (
    SELECT o_custkey, MAX(o_orderdate) AS last_d FROM orders GROUP BY o_custkey
),
horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
censored AS (
    SELECT date_diff('day', last_d, horizon.h) AS gap
    FROM last_order CROSS JOIN horizon
),
gaps AS (
    SELECT gap, 1 AS observed FROM observed
    UNION ALL
    SELECT gap, 0 AS observed FROM censored
),
times AS (SELECT DISTINCT gap AS t FROM observed),
km AS (
    SELECT t.t,
           CAST(SUM(CASE WHEN g.gap = t.t AND g.observed = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN g.gap >= t.t THEN 1 ELSE 0 END) AS BIGINT) AS n
    FROM times t JOIN gaps g ON g.gap >= t.t
    GROUP BY t.t
)
SELECT CAST(t AS INTEGER) AS t_days, n AS n_at_risk, d AS n_events,
       {sql_round_stable(
           'EXP(SUM(LN(GREATEST(1.0 - d * 1.0 / n, 1e-12)))'
           ' OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING'
           ' AND CURRENT ROW))', 4)} AS survival
FROM km
ORDER BY t_days
""",
    doc="Kaplan-Meier repurchase curve: S(t) = P(next order takes more "
    "than t days), with the open gap from each customer's LAST order "
    "to the data horizon entering as a CENSORED observation — the "
    "estimator marketing/retention teams need because naive gap "
    "averages are biased by exactly those open intervals.  The "
    "product-limit is exp(running sum of ln(1 - d/n)).  "
    "The at-risk counts come from "
    "ONE per-gap aggregate + a suffix cumulative sum over the "
    "calendar-bounded distinct-gap relation, replacing the oracle's "
    "times x gaps band join — algebraically identical (n(t) = suffix "
    "count of gaps >= t), but O(N + T log T) instead of the O(T x N) "
    "row explosion that was this query's whole cost (2.5 -> 0.6 s warm "
    "at sf0.1, and the explosion is what would die first at 100 TB); "
    "observed and censored gaps now also derive from the SAME "
    "custkey-window pass (lead IS NULL marks the last order), so "
    "orders shuffles once, not twice",
    defer=True,
)
def orders_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    horizon = o.agg(F.max("d").alias("h"))
    seq = o.select(
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap"),
        F.lead("d").over(w).alias("nxt"),
        "d",
    )
    observed = (
        seq.filter(F.col("gap").isNotNull())
        .select("gap")
        .withColumn("observed", F.lit(1))
    )
    censored = (
        seq.filter(F.col("nxt").isNull())
        .crossJoin(F.broadcast(horizon))
        .select(F.datediff("h", "d").alias("gap"))
        .withColumn("observed", F.lit(0))
    )
    gaps = observed.unionByName(censored)
    per_gap = gaps.groupBy("gap").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("observed").cast("bigint").alias("d"),
    )
    # n(t) = #gaps >= t: suffix cumulative count over the (tiny,
    # calendar-bounded) per-gap relation; t ranges over OBSERVED gap
    # values exactly as before (d > 0 <=> the gap value was observed)
    wn = Window.orderBy(F.col("gap").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    km = (
        per_gap.withColumn("n", F.sum("c_all").over(wn))
        .filter(F.col("d") > 0)
        .select(F.col("gap").alias("t"), "d", "n")
    )
    wk = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.exp(
        F.sum(
            F.log(F.greatest(1.0 - F.col("d") * 1.0 / F.col("n"), F.lit(1e-12)))
        ).over(wk)
    )
    return (
        km.select(
            F.col("t").cast("int").alias("t_days"),
            F.col("n").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            round_stable(surv, 4).alias("survival"),
        )
        .orderBy("t_days")
    )


@register(
    "events_twap_daily",
    f"""
WITH seq AS (
    SELECT event_type, value, ts,
           CAST(ts AS DATE) AS day,
           LEAD(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                          ORDER BY ts, event_id) AS nxt
    FROM events
),
weighted AS (
    SELECT event_type, day, value,
           date_diff('microsecond', ts, COALESCE(nxt,
               CAST(day + INTERVAL 1 DAY AS TIMESTAMP))) / 1e6 AS w
    FROM seq
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_round_stable('SUM(value * w) / SUM(w)', 4)} AS twap,
       {sql_round_stable('AVG(value)', 4)} AS plain_avg
FROM weighted
GROUP BY event_type, day
ORDER BY event_type, day
""",
    doc="time-weighted average (TWAP) per type x day: each observation "
    "weighted by how long it remained the latest value (LEAD gap; the "
    "last of the day holds until midnight).  The correct aggregate "
    "for irregularly-sampled series — plain AVG over-weights bursts; "
    "the query emits both so the bias is visible.  One LEAD window "
    "sharing the (type, day) exchange with the final aggregate",
    defer=True,
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("ts").over(w))
    end_of_day = F.date_add("day", 1).cast("timestamp")
    weight = (
        F.expr("timestampdiff(MICROSECOND, ts, coalesce(nxt, cast(date_add(day, 1) as timestamp)))")
        / 1e6
    )
    weighted = seq.withColumn("w", weight)
    return (
        weighted.groupBy(
            "event_type", F.date_format("day", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_stable(
                F.sum(F.col("value") * F.col("w")) / F.sum("w"), 4
            ).alias("twap"),
            round_stable(F.avg("value"), 4).alias("plain_avg"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "events_burst_scores",
    f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, hr
),
scored AS (
    SELECT event_type, hr, n,
           AVG(n) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
               AS trail_avg
    FROM hourly
)
SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hour, n,
       {sql_round_stable('trail_avg', 4)} AS trailing_avg,
       {sql_round_stable('n / trail_avg', 4)} AS burst_ratio
FROM scored
WHERE trail_avg IS NOT NULL AND n / trail_avg >= 2.0
ORDER BY event_type, hour
""",
    doc="burst detection: hours whose event count is >= 2x the "
    "trailing-24h hourly mean, per type (the ACTIVE-hours mean — "
    "gapless hours don't produce rows, matching the windowed-frame "
    "semantics on both engines).  One grouped count + one trailing "
    "frame sharing the same type-keyed exchange — the ops-alerting "
    "complement of the seasonality profile (expected shape) and the "
    "p-chart (error рейт): this one flags VOLUME anomalies",
    defer=True,
)
def events_burst_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    scored = hourly.withColumn("trailing", F.avg("n").over(w))
    ratio = F.col("n") / F.col("trailing")
    return (
        scored.filter(F.col("trailing").isNotNull() & (ratio >= 2.0))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            round_stable(F.col("trailing"), 4).alias("trailing_avg"),
            round_stable(ratio, 4).alias("burst_ratio"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "revenue_by_priority_salted",
    f"""
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_round_stable(
           'SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY priority
ORDER BY priority
""",
    doc="skew-safe fact-to-fact join through operators/skew.salted_join: "
    "lineitem (salted 8 ways on a deterministic row hash) joins orders "
    "(replicated per salt) on orderkey, then revenue per priority.  "
    "The oracle is the PLAIN join — the gate proves the salted rewrite "
    "is answer-identical, which is the entire point of salting: spread "
    "one hot key over salt_factor reducers without changing a row.  "
    "Deterministic salt (xxhash64 of the row, never rand()) keeps "
    "retries/speculation consistent.  For dimension-sized right sides "
    "only — replication multiplies it by the salt factor",
    defer=True,
)
def revenue_by_priority_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, on=["o_orderkey"], salt_factor=8)
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            round_stable(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


@register(
    "events_salted_join_adaptive",
    """
WITH dim AS (
    SELECT event_type, MIN(event_id) AS first_id FROM events GROUP BY 1
)
SELECT e.event_type AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(d.first_id) AS BIGINT) AS first_id,
       CAST(SUM(e.event_id - d.first_id) AS BIGINT) AS sum_id_offset
FROM events e JOIN dim d ON d.event_type = e.event_type
GROUP BY e.event_type
ORDER BY e.event_type
""",
    doc="closes the skew loop: "
    "operators/skew.adaptive_salted_join derives its salt factor from "
    "skew_profile's rec_salt IN-PLAN — the heaviest key's recommended "
    "salt rides a one-row broadcast into both join sides, so the salt "
    "width adapts to the data with no driver hop and no hand-tuned "
    "constant (the fixed-8 twin revenue_by_priority_salted keeps the "
    "classic form).  events joins its per-type first-event dim on the "
    "5-whale-key event_type — every key is hot, the canonical "
    "salted-join shape; the replicated dim carries a merge hint "
    "(small_hint — a hint on the raw dim would be swallowed by the "
    "salt-broadcast cross join) because a "
    "broadcastable 5-row dim would never need salting (the operator "
    "targets dims too big to broadcast — replicas of a salted "
    "broadcast side would DUPLICATE rows; the hint pins the "
    "sort-merge plan the operator exists for, and the plan test pins "
    "the salted exchange).  Oracle is the PLAIN join: the gate proves "
    "the adaptive rewrite answer-identical, all measures integer-exact "
    "(no float boundary can flip a row between engines)",
    defer=True,
    since=11,
)
def events_salted_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import (
        adaptive_salted_join,
        skew_profile,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id")
    dim = ev.groupBy("event_type").agg(F.min("event_id").alias("first_id"))
    profile = skew_profile(
        ev.select("event_type"), ["event_type"], top_n=1, num_partitions=32
    )
    joined = adaptive_salted_join(
        ev,
        dim,
        on=["event_type"],
        num_partitions=32,
        profile=profile,
        small_hint="merge",
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("first_id").cast("bigint").alias("first_id"),
            F.sum(F.col("event_id") - F.col("first_id"))
            .cast("bigint")
            .alias("sum_id_offset"),
        )
        .orderBy("event_type")
    )


@register(
    "events_salted_agg_adaptive",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="the groupBy half of the skew loop: "
    "operators/skew.adaptive_salted_group_count derives its salt "
    "factor from skew_profile's rec_salt via the same one-row "
    "broadcast as the adaptive join — partial count shuffles on "
    "(event_type, __salt), spreading the 5 whale keys over rec_salt "
    "reducers each, then the salt_n-bounded partials re-aggregate on "
    "the bare key.  The salt mixes the partition-local row ordinal "
    "into the row hash (skew._salt_col), so even LITERAL duplicate "
    "rows level — event logs are duplicate-heavy by nature.  Oracle "
    "is the PLAIN GROUP BY count: the gate proves the salted rewrite "
    "answer-identical, integer-exact.  Mostly pedagogical for a bare "
    "count (groupBy already map-side combines); the operator exists "
    "for hot-key aggregates WITHOUT partial support (exact distinct, "
    "collect_list) where the (key, salt) pre-shuffle is the only "
    "bound on a whale key's buffer",
    defer=True,
    since=12,
)
def events_salted_agg_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import (
        adaptive_salted_group_count,
        skew_profile,
    )

    ev = _t(spark, sf_dir, "events").select("event_type")
    profile = skew_profile(ev, ["event_type"], top_n=1, num_partitions=32)
    return (
        adaptive_salted_group_count(
            ev, ["event_type"], num_partitions=32, profile=profile
        )
        .select("event_type", "cnt")
        .orderBy("event_type")
    )


@register(
    "events_salted_distinct_users",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COALESCE(array_to_string(
           list_sort(list(DISTINCT CAST(user_id AS BIGINT))), ','
       ), '') AS user_ids
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="the adaptive salt's REAL venue (a "
    "salted count is pedagogical — counts map-side combine; the "
    "no-partial-aggregation shape is a SET-VALUED aggregate, where "
    "the (key, salt) pre-shuffle is the only bound on a whale key's "
    "buffer).  operators/skew.salted_distinct_set: the salt is "
    "pmod(xxhash64(VALUE), rec_salt-from-skew_profile) — keyed on the "
    "value so partial collect_sets PARTITION each key's distinct set "
    "(disjoint, sizes sum exactly) — the partial shuffles on "
    "(event_type, __salt) spreading a whale key's buffer over salt_n "
    "reducers, and the final merge flattens salt_n pre-deduped "
    "disjoint arrays into the output-sized sorted set (the floor for "
    "materializing a set).  Output rendered as the comma-joined "
    "sorted id string (nested-column contract); oracle is the PLAIN "
    "COUNT(DISTINCT) + sorted list(DISTINCT): the gate proves the "
    "salted rewrite answer-identical, integer-exact.  NULL values "
    "are dropped on both sides (collect_set / COUNT DISTINCT "
    "semantics); an all-NULL key renders '' — the oracle COALESCEs "
    "DuckDB's NULL-list rendering to match (fuzz-pinned)",
    defer=True,
    since=13,
)
def events_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.skew import (
        salted_distinct_set,
        skew_profile,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    profile = skew_profile(
        ev.select("event_type"), ["event_type"], top_n=1, num_partitions=32
    )
    res = salted_distinct_set(
        ev, ["event_type"], "user_id", num_partitions=32, profile=profile
    )
    return res.select(
        "event_type",
        F.col("n_distinct").alias("n_users"),
        F.concat_ws(
            ",", F.col("distinct_values").cast("array<string>")
        ).alias("user_ids"),
    ).orderBy("event_type")


_ZORDER_INTERLEAVE_SQL = " | ".join(
    f"(((a >> {i}) & 1) << {2 * i}) | (((b >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)


@register(
    "events_zorder_keys",
    f"""
WITH s AS (
    SELECT MIN(CAST(user_id AS DOUBLE)) AS mn0,
           MAX(CAST(user_id AS DOUBLE)) AS mx0,
           MIN(value) AS mn1, MAX(value) AS mx1
    FROM events
),
sc AS (
    SELECT e.event_id,
           LEAST(65535, CAST(FLOOR(
               (CAST(e.user_id AS DOUBLE) - s.mn0)
               / (CASE WHEN s.mx0 > s.mn0 THEN s.mx0 - s.mn0 ELSE 1.0 END)
               * 65536) AS BIGINT)) AS a,
           LEAST(65535, CAST(FLOOR(
               (e.value - s.mn1)
               / (CASE WHEN s.mx1 > s.mn1 THEN s.mx1 - s.mn1 ELSE 1.0 END)
               * 65536) AS BIGINT)) AS b
    FROM events e CROSS JOIN s
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST({_ZORDER_INTERLEAVE_SQL} AS BIGINT) AS z
FROM sc
ORDER BY z, event_id
""",
    doc="Z-order (Morton) clustering keys over (user_id, value) — the "
    "data-layout half of scan pruning at 100 TB "
    "(operators/zorder.zorder_value, the Delta/Iceberg OPTIMIZE "
    "ZORDER move built from plain Catalyst bit expressions): each "
    "column normalizes to 2^16 buckets between its observed min/max "
    "(a one-row broadcast, never a driver collect) and the bucket "
    "bits interleave into one BIGINT; sorting files by z gives every "
    "file a compact hyper-rectangle so parquet min/max stats prune on "
    "BOTH columns (write path + pruning effect pinned in "
    "tests/test_zorder.py; this gate pins the KEY arithmetic "
    "cross-engine — scaling is IEEE-deterministic double math in "
    "identical op order, interleave is integer bit ops).  The module "
    "had tests but no driver-verified gate — "
    "this closes that audit hole",
    defer=True,
    since=11,
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import zorder

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return (
        zorder.zorder_value(ev, ["user_id", "value"], bits=16, out_col="z")
        .select(F.col("event_id").cast("bigint").alias("event_id"), "z")
        .orderBy("z", "event_id")
    )


@register(
    "revenue_share_of_parent",
    f"""
WITH rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS v
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY region, nation
)
SELECT region, nation,
       {sql_round_stable('v', 2)} AS revenue,
       {sql_round_stable(
           'v * 100.0 / SUM(v) OVER (PARTITION BY region)', 4
       )} AS pct_of_region,
       {sql_round_stable(
           'SUM(v) OVER (PARTITION BY region) * 100.0 / SUM(v) OVER ()', 4
       )} AS region_pct_of_total
FROM rev
ORDER BY region, nation
""",
    doc="share-of-parent hierarchy readout: each nation's % of its "
    "region's revenue and each region's % of the global total, in one "
    "pass — the ratio-to-parent windows every BI drill-down renders "
    "beside the rollup.  Both window levels and the base aggregate "
    "share the supplier-nation-region broadcast join tree; the "
    "global-total window runs over the nation-cardinality aggregate "
    "(bounded rows), never the fact table",
    defer=True,
)
def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "v"
            )
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return (
        rev.select(
            "region",
            "nation",
            round_stable(F.col("v"), 2).alias("revenue"),
            round_stable(
                F.col("v") * 100.0 / F.sum("v").over(w_region), 4
            ).alias("pct_of_region"),
            round_stable(
                F.sum("v").over(w_region) * 100.0 / F.sum("v").over(w_all),
                4,
            ).alias("region_pct_of_total"),
        )
        .orderBy("region", "nation")
    )


@register(
    "users_erasure_audit",
    """
WITH del AS (
    SELECT user_id FROM (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ) WHERE n <= 2
),
ev AS (
    SELECT 'events' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN del USING (user_id)
),
cu AS (
    SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_users
    FROM customer c JOIN del ON c.c_custkey = del.user_id
),
oo AS (
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_users
    FROM orders o JOIN del ON o.o_custkey = del.user_id
)
SELECT * FROM ev UNION ALL SELECT * FROM cu UNION ALL SELECT * FROM oo
ORDER BY tbl
""",
    doc="right-to-be-forgotten blast-radius audit: for a deletion "
    "cohort (here: users with <= 2 events — the synthetic stand-in "
    "for an erasure request list), the per-table row and subject "
    "counts an erasure job would touch across every table keyed by "
    "the subject id.  The pre-delete report a DPO signs off on, and "
    "the post-delete assertion (re-run, expect zeros).  The deletion "
    "list rides a broadcast semi-join into each table — one scan per "
    "table, no fact-to-fact joins.  Third privacy-family member with "
    "events_k_anonymity and events_dp_type_counts",
    defer=True,
)
def users_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    del_list = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= 2)
        .select(F.col("user_id").alias("__del_uid"))
    )

    def audit(df, tbl, key):
        return (
            df.join(
                F.broadcast(del_list),
                F.col(key) == F.col("__del_uid"),
            )
            .agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(key).cast("bigint").alias("n_users"),
            )
        )

    return (
        audit(ev, "events", "user_id")
        .unionByName(audit(cust, "customer", "c_custkey"))
        .unionByName(audit(orders, "orders", "o_custkey"))
        .orderBy("tbl")
    )


@register(
    "events_ab_srm_check",
    f"""
WITH assign AS (
    SELECT DISTINCT user_id,
           CASE WHEN (user_id * 2654435761) % 100 < 50
                THEN 'A' ELSE 'B' END AS variant
    FROM events
),
counts AS (
    SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
    FROM assign
)
SELECT n_a, n_b,
       {sql_round_stable(
           'POWER(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)'
           ' + POWER(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)',
           4)} AS chi2,
       CAST(CASE WHEN
           POWER(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
           + POWER(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
           > 3.841 THEN 1 ELSE 0 END AS INTEGER) AS srm_detected
FROM counts
""",
    doc="sample-ratio-mismatch guardrail: chi-square goodness-of-fit of "
    "the observed A/B assignment counts against the designed 50/50 "
    "split (df=1, alpha=0.05 critical value 3.841).  SRM is the "
    "experimentation-platform check that MUST run before reading any "
    "metric — a biased assignment invalidates "
    "events_ab_test_zscore's conclusion wholesale.  Same "
    "deterministic Knuth-hash assignment as the z-test so the pair "
    "audits the identical experiment; one distinct + one fold",
    defer=True,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    assign = ev.select(
        "user_id",
        F.when(
            (F.col("user_id") * 2654435761) % 100 < 50, "A"
        ).otherwise("B").alias("variant"),
    ).distinct()
    counts = assign.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    exp = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = F.pow(F.col("n_a") - exp, 2) / exp + F.pow(
        F.col("n_b") - exp, 2
    ) / exp
    return counts.select(
        "n_a",
        "n_b",
        round_stable(chi2, 4).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("int").alias(
            "srm_detected"
        ),
    )


@register(
    "events_dow_anova",
    f"""
WITH obs AS (
    SELECT CAST(strftime(ts, '%w') AS INTEGER) AS dow, value
    FROM events
),
grp AS (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n, AVG(value) AS m
    FROM obs GROUP BY dow
),
tot AS (
    SELECT AVG(value) AS gm, CAST(COUNT(*) AS BIGINT) AS n_tot FROM obs
),
ss AS (
    SELECT (SELECT SUM(n * (m - tot.gm) * (m - tot.gm)) FROM grp) AS ssb,
           (SELECT SUM((o.value - g.m) * (o.value - g.m))
            FROM obs o JOIN grp g ON o.dow = g.dow) AS ssw,
           (SELECT COUNT(*) FROM grp) AS k,
           tot.n_tot AS n
    FROM tot
)
SELECT CAST(k AS INTEGER) AS k_groups,
       CAST(n AS BIGINT) AS n_obs,
       {sql_round_stable('ssb / (k - 1)', 4)} AS ms_between,
       {sql_round_stable('ssw / (n - k)', 4)} AS ms_within,
       {sql_round_stable('(ssb / (k - 1)) / (ssw / (n - k))', 4)} AS f_stat
FROM ss
""",
    doc="one-way ANOVA: does mean event value differ by day-of-week? "
    "F = MS_between / MS_within over the 7 dow groups — completing "
    "the hypothesis-testing trio (two-proportion z, chi-square "
    "independence, F-test of means).  Group means are a 7-row "
    "broadcast; the within-group sum of squares is one joined "
    "aggregate pass — no per-group collect, no second scan beyond "
    "the SSW join",
    defer=True,
)
def events_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        (F.dayofweek("ts") - 1).alias("dow"), "value"
    )
    grp = obs.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("value").alias("m"),
    )
    tot = obs.agg(
        F.avg("value").alias("gm"),
        F.count(F.lit(1)).cast("bigint").alias("n_tot"),
    )
    ssb = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
            ).alias("ssb"),
            F.count(F.lit(1)).cast("int").alias("k"),
            F.max("n_tot").alias("n"),
        )
    )
    ssw = (
        obs.join(F.broadcast(grp.select("dow", "m")), "dow")
        .agg(
            F.sum(
                (F.col("value") - F.col("m")) * (F.col("value") - F.col("m"))
            ).alias("ssw")
        )
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("n") - F.col("k"))
    return (
        ssb.crossJoin(F.broadcast(ssw))
        .select(
            F.col("k").alias("k_groups"),
            F.col("n").alias("n_obs"),
            round_stable(msb, 4).alias("ms_between"),
            round_stable(msw, 4).alias("ms_within"),
            round_stable(msb / msw, 4).alias("f_stat"),
        )
    )


@register(
    "revenue_price_volume_mix",
    f"""
WITH yearly AS (
    SELECT p.p_type AS ptype,
           CAST(strftime(l.l_shipdate, '%Y') AS INTEGER) AS yr,
           SUM(l.l_quantity) AS qty,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY ptype, yr
),
seq AS (
    SELECT ptype, yr, qty, rev,
           rev / qty AS price,
           LAG(qty) OVER (PARTITION BY ptype ORDER BY yr) AS qty_p,
           LAG(rev) OVER (PARTITION BY ptype ORDER BY yr) AS rev_p,
           LAG(rev / qty) OVER (PARTITION BY ptype ORDER BY yr) AS price_p
    FROM yearly
)
SELECT ptype, yr,
       {sql_round_stable('rev - rev_p', 2)} AS delta_rev,
       {sql_round_stable('(qty - qty_p) * price_p', 2)} AS volume_effect,
       {sql_round_stable('qty * (price - price_p)', 2)} AS price_effect
FROM seq
WHERE rev_p IS NOT NULL
ORDER BY ptype, yr
""",
    doc="price-volume-mix decomposition: year-over-year revenue change "
    "per part type split EXACTLY into volume effect ((q-q')*p') and "
    "price effect (q*(p-p')) — the two terms sum to delta_rev by "
    "construction, the finance-review identity.  One fact aggregate, "
    "one LAG window over the (type, year) relation (bounded rows); "
    "the part-type dimension rides the usual broadcast",
    defer=True,
)
def revenue_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    yearly = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_type").alias("ptype"),
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev"),
        )
    )
    w = Window.partitionBy("ptype").orderBy("yr")
    price = F.col("rev") / F.col("qty")
    seq = yearly.select(
        "ptype",
        "yr",
        "qty",
        "rev",
        price.alias("price"),
        F.lag("qty").over(w).alias("qty_p"),
        F.lag("rev").over(w).alias("rev_p"),
        F.lag(price).over(w).alias("price_p"),
    )
    return (
        seq.filter(F.col("rev_p").isNotNull())
        .select(
            "ptype",
            "yr",
            round_stable(F.col("rev") - F.col("rev_p"), 2).alias("delta_rev"),
            round_stable(
                (F.col("qty") - F.col("qty_p")) * F.col("price_p"), 2
            ).alias("volume_effect"),
            round_stable(
                F.col("qty") * (F.col("price") - F.col("price_p")), 2
            ).alias("price_effect"),
        )
        .orderBy("ptype", "yr")
    )


@register(
    "parts_xyz_classification",
    f"""
WITH monthly AS (
    SELECT l_partkey,
           strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mo,
           SUM(l_quantity) AS qty
    FROM lineitem GROUP BY l_partkey, mo
),
per_part AS (
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           AVG(qty) AS mq,
           stddev_samp(qty) AS sq
    FROM monthly GROUP BY l_partkey
),
classed AS (
    SELECT l_partkey,
           CASE WHEN sq IS NULL THEN 'Z'
                WHEN sq / mq < 0.5 THEN 'X'
                WHEN sq / mq < 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz,
           sq / mq AS cv,
           n_months
    FROM per_part
)
SELECT xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {sql_round_stable('AVG(cv)', 4)} AS avg_cv,
       {sql_round_stable('AVG(n_months)', 2)} AS avg_active_months
FROM classed
GROUP BY xyz
ORDER BY xyz
""",
    doc="XYZ demand-variability classification: monthly demand "
    "coefficient-of-variation per part — X steady (cv<0.5), Y "
    "variable (cv<1), Z erratic/sparse — the second axis of the "
    "ABC-XYZ inventory grid (parts_abc_classification is the value "
    "axis; crossing the two is a broadcast join of two bounded "
    "part-level relations).  Single-month parts have undefined "
    "stddev -> Z by policy.  Two grouped aggregates, bounded "
    "relations after the first",
    defer=True,
)
def parts_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    monthly = li.groupBy(
        "l_partkey",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
            "mo"
        ),
    ).agg(F.sum("l_quantity").alias("qty"))
    per_part = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.avg("qty").alias("mq"),
        F.stddev_samp("qty").alias("sq"),
    )
    cv = F.col("sq") / F.col("mq")
    classed = per_part.select(
        F.when(F.col("sq").isNull(), "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
        cv.alias("cv"),
        "n_months",
    )
    return (
        classed.groupBy("xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            round_stable(F.avg("cv"), 4).alias("avg_cv"),
            round_stable(F.avg("n_months"), 2).alias("avg_active_months"),
        )
        .orderBy("xyz")
    )


@register(
    "parts_size_rank_semantics",
    """
WITH r AS (
    SELECT p_size,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part GROUP BY p_size
)
SELECT CAST(p_size AS INTEGER) AS p_size, n_parts,
       CAST(RANK() OVER (ORDER BY n_parts DESC) AS INTEGER)
           AS rnk,
       CAST(DENSE_RANK() OVER (ORDER BY n_parts DESC) AS INTEGER)
           AS dense_rnk,
       CAST(ROW_NUMBER() OVER (ORDER BY n_parts DESC, p_size) AS INTEGER)
           AS row_num
FROM r
ORDER BY rnk, p_size
""",
    doc="ranking-semantics reference: RANK (tied counts share a rank, "
    "gaps follow), DENSE_RANK (shared rank, no gaps), and ROW_NUMBER "
    "(ties split deterministically via the explicit p_size tie-break) "
    "side by side over the part-size popularity table — the three "
    "functions downstream teams routinely confuse.  RANK/DENSE_RANK "
    "deliberately omit the tie-break so ties actually occur; the "
    "values stay engine-deterministic because tied rows get THE SAME "
    "rank.  Windows run over the size-cardinality aggregate",
    defer=True,
)
def parts_size_rank_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        _t(spark, sf_dir, "part")
        .groupBy("p_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    w_tie = Window.orderBy(F.col("n_parts").desc(), "p_size")
    w_notie = Window.orderBy(F.col("n_parts").desc())
    return (
        r.select(
            F.col("p_size").cast("int"),
            "n_parts",
            F.rank().over(w_notie).cast("int").alias("rnk"),
            F.dense_rank().over(w_notie).cast("int").alias("dense_rnk"),
            F.row_number().over(w_tie).cast("int").alias("row_num"),
        )
        .orderBy("rnk", "p_size")
    )


# ---------------------------------------------------------------------------
# Incremental JOIN view maintenance (delta-join algebra)
# ---------------------------------------------------------------------------


@register(
    "incremental_join_view",
    """
SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
       c_mktsegment AS segment,
       o_totalprice AS totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY orderkey
""",
    doc="incremental JOIN maintenance (operators/incremental.py "
    "join_delta / maintain_join_view): the Spark side refreshes a stored "
    "orders x customer join view from insert-only deltas on BOTH sides — "
    "view' = view UNION ALL (dA JOIN B) UNION ALL (A JOIN dB) UNION ALL "
    "(dA JOIN dB), the DBSP bilinear-operator delta rule — while the "
    "oracle joins the full relations from scratch.  Hash equality IS the "
    "proof the delta algebra reproduces the full recompute; terms are "
    "disjoint for insert-only deltas so UNION ALL adds no dedup shuffle, "
    "and per refresh only the deltas probe the base tables (bucketed "
    "bases shuffle nothing but the sliver).  The A JOIN B term is never "
    "recomputed — the materialized view absorbs it",
    defer=True,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import incremental as INC

    cut = F.lit("2000-01-01").cast("timestamp")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    a_old = orders.filter(F.col("o_orderdate") < cut)
    a_delta = orders.filter(F.col("o_orderdate") >= cut)
    # dim-side delta: a late-arriving slice of customers (every 10th key)
    b_old = cust.filter(F.col("custkey") % 10 != 0)
    b_delta = cust.filter(F.col("custkey") % 10 == 0)
    # in production view_old is READ BACK from storage; here it is built
    # once so the whole statement stays a single lazily-planned query
    view_old = a_old.join(b_old, ["custkey"])
    refreshed = INC.maintain_join_view(
        view_old, a_old, a_delta, b_old, b_delta, ["custkey"]
    )
    return refreshed.select(
        F.col("o_orderkey").cast("bigint").alias("orderkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("totalprice"),
    ).orderBy("orderkey")


# ---------------------------------------------------------------------------
# Bloom-filter runtime pre-filtering (dynamic-filter join shape)
# ---------------------------------------------------------------------------


@register(
    "bloom_prefilter_join",
    f"""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_round_stable('SUM(o_totalprice)', 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
ORDER BY priority
""",
    doc="runtime Bloom pre-filter join (operators/runtime_filter.py): "
    "the selective dim side (BUILDING customers) builds a packed-word "
    "Bloom filter via distributed xxhash64; the fact side drops "
    "non-candidate rows with a pure-Catalyst getbit predicate AT THE "
    "SCAN, before any exchange; the real join then removes false "
    "positives.  Hash equality against the plain-join oracle IS the "
    "no-false-negatives proof (build and probe share the same JVM hash "
    "expression).  This is Spark's own runtimeFilter / Trino dynamic "
    "filtering made explicit and testable: at 100 TB the exchange "
    "carries the ~matching sliver of the fact table, not all of it",
    defer=True,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import runtime_filter as RFil

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_mktsegment")
    )
    joined = RFil.bloom_prefiltered_join(orders, dim, "o_custkey", "c_custkey")
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_stable(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Frequent itemsets beyond pairs (Apriori candidate pruning)
# ---------------------------------------------------------------------------


@register(
    "orders_frequent_triples",
    """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT CAST(a.l_partkey AS BIGINT) AS pa,
       CAST(p2.l_partkey AS BIGINT) AS pb,
       CAST(p3.l_partkey AS BIGINT) AS pc,
       CAST(COUNT(*) AS BIGINT) AS support
FROM b a
JOIN b p2 ON a.l_orderkey = p2.l_orderkey AND a.l_partkey < p2.l_partkey
JOIN b p3 ON a.l_orderkey = p3.l_orderkey AND p2.l_partkey < p3.l_partkey
GROUP BY 1, 2, 3
HAVING COUNT(*) >= 2
ORDER BY pa, pb, pc
""",
    doc="frequent 3-itemsets with Apriori candidate pruning: the Spark "
    "side first finds frequent items, then frequent pairs, and only "
    "enumerates order-level triples whose leading pair is already "
    "frequent (downward-closure monotonicity: a triple can reach "
    "support s only if every sub-pair does) — the oracle brute-forces "
    "the three-way self-join.  Hash equality IS the losslessness proof "
    "for the pruning.  At 100 TB the unpruned triple join is "
    "O(sum(basket^3)); pruning multiplies in the pair-support "
    "selectivity first, and the frequent-pair table rides a broadcast "
    "(it is small BECAUSE it already cleared the support bar)",
    defer=True,
)
def orders_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = 2  # min support (orders containing the itemset)
    b = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq_items = (
        b.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s)
        .select("l_partkey")
    )
    bf = b.join(F.broadcast(freq_items), "l_partkey").select(
        "l_orderkey", "l_partkey"
    )
    a = bf.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b2 = bf.select("l_orderkey", F.col("l_partkey").alias("pb"))
    c = bf.select("l_orderkey", F.col("l_partkey").alias("pc"))
    pairs = (
        a.join(b2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s)
        .select("pa", "pb")
    )
    # enumerate triples only where the leading (pa, pb) pair is frequent.
    # NO broadcast hint here — this is a plan-audit watch-point
    # (a hinted broadcast of the frequent-pair set could outgrow executor
    # memory at very low relative support), resolved the Spark-first way:
    # AQE observes the pair aggregate's RUNTIME size at the shuffle
    # boundary and converts the join to a broadcast when it fits
    # (adaptive.autoBroadcastJoinThreshold), keeping a shuffle join when
    # it does not.  An explicit count()+gate form measured ~+1 s at
    # sf0.1 (it materializes the pair pipeline twice); the AQE form
    # costs nothing and scales the decision with the data.
    lead = (
        a.join(b2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .join(pairs, ["pa", "pb"])
    )
    triples = (
        lead.join(c, "l_orderkey")
        .filter(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= s)
    )
    return triples.select(
        F.col("pa").cast("bigint"),
        F.col("pb").cast("bigint"),
        F.col("pc").cast("bigint"),
        F.col("support").cast("bigint"),
    ).orderBy("pa", "pb", "pc")


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (distribution-shift detection)
# ---------------------------------------------------------------------------


@register(
    "events_ks_test",
    f"""
WITH s AS (
    SELECT value AS v,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is1
    FROM events WHERE event_type IN ('view', 'purchase')
),
n AS (
    SELECT CAST(SUM(is1) AS DOUBLE) AS n1,
           CAST(SUM(1 - is1) AS DOUBLE) AS n2
    FROM s
),
g AS (
    SELECT v, SUM(is1) AS c1, SUM(1 - is1) AS c2 FROM s GROUP BY v
),
ecdf AS (
    SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
           SUM(c2) OVER (ORDER BY v) AS cum2
    FROM g
),
d AS (
    SELECT MAX(ABS(cum1 / n1 - cum2 / n2)) AS d_stat
    FROM ecdf CROSS JOIN n
)
SELECT CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       {sql_round_stable('d_stat', 6)} AS d_stat,
       {sql_round_stable('2 * EXP(-2 * POWER(d_stat * SQRT(n1 * n2 / (n1 + n2)), 2))', 6)}
           AS p_value,
       CAST(d_stat > 1.358 * SQRT((n1 + n2) / (n1 * n2)) AS INTEGER)
           AS reject_05
FROM d CROSS JOIN n
""",
    doc="two-sample Kolmogorov-Smirnov test: are 'view' and 'purchase' "
    "event values drawn from the same distribution?  D = sup |ECDF1 - "
    "ECDF2| evaluated at the pooled distinct values — one grouped "
    "aggregate, then DISTRIBUTED prefix sums (indexing.running_sums: "
    "range-partition + partition-local windows + broadcast offsets — "
    "values can be near-continuous, so no single-partition global "
    "window), counts broadcast.  Asymptotic "
    "Smirnov p-value and the alpha=0.05 decision computed in closed "
    "form on both engines.  Completes the statistical-testing family "
    "(z, chi-square, ANOVA, SRM, CUSUM): KS is the standard "
    "nonparametric drift gate feature pipelines run between training "
    "snapshots — PSI's threshold-free sibling",
    defer=True,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    s = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is1"),
    )
    n = s.agg(
        F.sum("is1").cast("double").alias("n1"),
        F.sum(1 - F.col("is1")).cast("double").alias("n2"),
    )
    g = s.groupBy("v").agg(
        F.sum("is1").alias("c1"), F.sum(1 - F.col("is1")).alias("c2")
    )
    # distributed ECDF: range-partitioned two-pass prefix sums — never a
    # single-partition global window (values can be near-continuous, so
    # the distinct-value relation scales with the data)
    from myrecommendsystem_spark.operators.indexing import running_sums

    ecdf = running_sums(g, ["v"], ["c1", "c2"]).select(
        F.col("cum_c1").alias("cum1"), F.col("cum_c2").alias("cum2")
    )
    d = ecdf.crossJoin(F.broadcast(n)).agg(
        F.max(F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))).alias(
            "d_stat"
        )
    )
    out = d.crossJoin(F.broadcast(n))
    scale = F.sqrt(F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
    return out.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        round_stable(F.col("d_stat"), 6).alias("d_stat"),
        round_stable(
            2 * F.exp(-2 * F.pow(F.col("d_stat") * scale, F.lit(2.0))), 6
        ).alias("p_value"),
        (
            F.col("d_stat")
            > 1.358 * F.sqrt((F.col("n1") + F.col("n2")) / (F.col("n1") * F.col("n2")))
        )
        .cast("int")
        .alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Exact decimal (money) arithmetic
# ---------------------------------------------------------------------------


@register(
    "revenue_decimal_exact",
    """
SELECT l_returnflag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue
FROM lineitem
GROUP BY flag
ORDER BY flag
""",
    doc="exact decimal money arithmetic: revenue summed in DECIMAL — "
    "Spark's UnscaledLong/Decimal128 aggregation — is EXACT and "
    "engine/order-independent, so the two engines agree to the last "
    "digit with no ROUND smoothing (every float aggregate elsewhere in "
    "the registry needs round_stable because double summation order "
    "differs).  The financial-reporting discipline: partial aggregates "
    "of decimals merge losslessly across any partitioning, which is "
    "what makes money columns safe under AQE re-planning and "
    "incremental state merges at 100 TB",
    defer=True,
)
def revenue_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment read-out
# ---------------------------------------------------------------------------


@register(
    "events_ab_cuped",
    f"""
WITH pre AS (
    SELECT CAST(user_id AS INTEGER) AS userId, AVG(value) AS x
    FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY userId
),
post AS (
    SELECT CAST(user_id AS INTEGER) AS userId, AVG(value) AS y
    FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY userId
),
u AS (
    SELECT pre.userId, x, y,
           CASE WHEN substring(
               md5('ab' || CAST(pre.userId AS VARCHAR)), 1, 8
           ) < '80000000' THEN 'A' ELSE 'B' END AS variant
    FROM pre JOIN post ON pre.userId = post.userId
),
theta AS (
    SELECT COVAR_POP(x, y) / NULLIF(VAR_POP(x), 0) AS th,
           AVG(x) AS mx
    FROM u
),
adj AS (
    SELECT variant, y, y - th * (x - mx) AS y_adj
    FROM u CROSS JOIN theta
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       {sql_round_stable('AVG(y)', 4)} AS mean_raw,
       {sql_round_stable('AVG(y_adj)', 4)} AS mean_cuped,
       {sql_round_stable('1.0 - VAR_POP(y_adj) / NULLIF(VAR_POP(y), 0)', 4)}
           AS var_reduction
FROM adj
GROUP BY variant
ORDER BY variant
""",
    doc="CUPED variance-reduced A/B read-out (Deng et al. 2013, the "
    "experimentation-platform standard): per-user pre-period covariate "
    "x and post-period metric y, theta = cov(x,y)/var(x) POOLED across "
    "variants (a 1-row broadcast), adjusted metric y - theta(x - "
    "mean_x), then per-variant means and the achieved variance "
    "reduction.  Three grouped aggregates and one broadcast — the "
    "pre-period re-use that lets the same experiment reach "
    "significance with a fraction of the traffic.  Complements "
    "events_ab_test_zscore (same deterministic md5 split) and "
    "events_ab_srm_check in the experimentation family",
    defer=True,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("int")
    cut = F.lit("2024-01-15").cast("timestamp")
    pre = (
        ev.filter(F.col("ts") < cut)
        .groupBy(uid.alias("userId"))
        .agg(F.avg("value").alias("x"))
    )
    post = (
        ev.filter(F.col("ts") >= cut)
        .groupBy(uid.alias("userId"))
        .agg(F.avg("value").alias("y"))
    )
    variant = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("userId").cast("string"))), 1, 8
        )
        < "80000000",
        "A",
    ).otherwise("B")
    u = pre.join(post, "userId").select(
        "userId", "x", "y", variant.alias("variant")
    )
    theta = u.agg(
        (F.covar_pop("x", "y") / F.nullif(F.var_pop("x"), F.lit(0.0))).alias(
            "th"
        ),
        F.avg("x").alias("mx"),
    )
    adj = u.crossJoin(F.broadcast(theta)).select(
        "variant",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))).alias("y_adj"),
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            round_stable(F.avg("y"), 4).alias("mean_raw"),
            round_stable(F.avg("y_adj"), 4).alias("mean_cuped"),
            round_stable(
                1.0
                - F.var_pop("y_adj") / F.nullif(F.var_pop("y"), F.lit(0.0)),
                4,
            ).alias("var_reduction"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# Multivariate per-group OLS (closed-form normal equations)
# ---------------------------------------------------------------------------

# Shared algebra for the 3x3 Cramer solve: the nine sufficient statistics
# reduce each segment to one row; identical formulas run on both engines.
_OLS_STATS = """
    SELECT seg,
           CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
           SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
           SUM(x2 * x2) AS s22,
           SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y,
           SUM(y * y) AS syy
    FROM feats GROUP BY seg
"""


@register(
    "orders_ols_by_segment",
    f"""
WITH feats AS (
    SELECT c_mktsegment AS seg,
           o_totalprice AS y,
           CAST(COUNT(*) AS DOUBLE) AS x1,
           SUM(l_quantity) AS x2
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, seg, y
),
stats AS ({_OLS_STATS}),
solve AS (
    SELECT seg, n, sy, syy,
           n * (s11 * s22 - s12 * s12)
         - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2) AS det,
           sy * (s11 * s22 - s12 * s12)
         - s1 * (s1y * s22 - s12 * s2y)
         + s2 * (s1y * s12 - s11 * s2y) AS det0,
           n * (s1y * s22 - s12 * s2y)
         - sy * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s2y - s1y * s2) AS det1,
           n * (s11 * s2y - s1y * s12)
         - s1 * (s1 * s2y - s1y * s2)
         + sy * (s1 * s12 - s11 * s2) AS det2,
           s1, s2, s1y, s2y
    FROM stats
)
SELECT seg,
       CAST(n AS BIGINT) AS n_orders,
       {sql_round_stable('det0 / det', 4)} AS b0,
       {sql_round_stable('det1 / det', 4)} AS b1,
       {sql_round_stable('det2 / det', 4)} AS b2,
       {sql_round_stable(
           '1.0 - (syy - (det0 * sy + det1 * s1y + det2 * s2y) / det)'
           ' / NULLIF(syy - sy * sy / n, 0)', 4)} AS r2
FROM solve
ORDER BY seg
""",
    doc="closed-form multivariate OLS per group: order totalprice "
    "regressed on line count and total quantity, solved per market "
    "segment from the NINE sufficient statistics (one grouped "
    "aggregate) via Cramer's rule on the 3x3 normal equations — no "
    "MLlib fit, no iterations, no driver math; segments solve in "
    "parallel as column expressions.  The sufficient-statistic "
    "reduction is the 100 TB shape: the regression 'model' is an "
    "algebraic aggregate (mergeable partials, AQE-safe), so per-group "
    "OLS costs exactly one shuffle of 11-number states.  Extends "
    "product_score_trend (single-feature) to the multivariate case; "
    "R-squared emitted beside the coefficients",
    defer=True,
)
def orders_ols_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    feats = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("x1"),
            F.sum("l_quantity").alias("x2"),
        )
    )
    st = feats.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = F.col
    det = (
        c("n") * (c("s11") * c("s22") - c("s12") * c("s12"))
        - c("s1") * (c("s1") * c("s22") - c("s12") * c("s2"))
        + c("s2") * (c("s1") * c("s12") - c("s11") * c("s2"))
    )
    det0 = (
        c("sy") * (c("s11") * c("s22") - c("s12") * c("s12"))
        - c("s1") * (c("s1y") * c("s22") - c("s12") * c("s2y"))
        + c("s2") * (c("s1y") * c("s12") - c("s11") * c("s2y"))
    )
    det1 = (
        c("n") * (c("s1y") * c("s22") - c("s12") * c("s2y"))
        - c("sy") * (c("s1") * c("s22") - c("s12") * c("s2"))
        + c("s2") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
    )
    det2 = (
        c("n") * (c("s11") * c("s2y") - c("s1y") * c("s12"))
        - c("s1") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
        + c("sy") * (c("s1") * c("s12") - c("s11") * c("s2"))
    )
    sse = c("syy") - (det0 * c("sy") + det1 * c("s1y") + det2 * c("s2y")) / det
    sst = c("syy") - c("sy") * c("sy") / c("n")
    return (
        st.select(
            "seg",
            c("n").cast("bigint").alias("n_orders"),
            round_stable(det0 / det, 4).alias("b0"),
            round_stable(det1 / det, 4).alias("b1"),
            round_stable(det2 / det, 4).alias("b2"),
            round_stable(1.0 - sse / F.nullif(sst, F.lit(0.0)), 4).alias("r2"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# Per-key LOCF gap-fill (last observation carried forward on a calendar spine)
# ---------------------------------------------------------------------------


@register(
    "users_locf_daily",
    f"""
WITH daily AS (
    SELECT CAST(user_id AS INTEGER) AS userId, CAST(ts AS DATE) AS day,
           AVG(value) AS v
    FROM events GROUP BY userId, day
),
u AS (SELECT DISTINCT CAST(user_id AS INTEGER) AS userId FROM events),
days AS (
    SELECT CAST(unnest(generate_series(
        DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day
),
grid AS (SELECT userId, day FROM u CROSS JOIN days),
j AS (
    SELECT g.userId, g.day, d.v,
           CAST(d.v IS NOT NULL AS INTEGER) AS is_observed
    FROM grid g LEFT JOIN daily d USING (userId, day)
),
f AS (
    SELECT userId, day, is_observed,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY userId ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled
    FROM j
)
SELECT userId, strftime(day, '%Y-%m-%d') AS day, is_observed,
       {sql_round_stable('filled', 4)} AS filled
FROM f
ORDER BY userId, day
""",
    doc="per-user LOCF gap-fill: the user x calendar spine (30-day "
    "sequence exploded, tiny side broadcast) left-joins observed daily "
    "averages, then last(ignorenulls) over a per-user ordered frame "
    "carries the most recent observation forward — the "
    "feature-engineering staple for daily snapshots from sparse "
    "events (leading days before first observation stay NULL, "
    "honestly unfilled).  Per-user windows partition-parallelize; the "
    "calendar twin of events_hourly_gapfill, which fills the GLOBAL "
    "hourly series",
    defer=True,
)
def users_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("int")
    daily = ev.groupBy(
        uid.alias("userId"), F.to_date("ts").alias("day")
    ).agg(F.avg("value").alias("v"))
    users = ev.select(uid.alias("userId")).distinct()
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    grid = users.crossJoin(F.broadcast(days))
    j = grid.join(daily, ["userId", "day"], "left").withColumn(
        "is_observed", F.col("v").isNotNull().cast("int")
    )
    w = (
        Window.partitionBy("userId")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        j.select(
            "userId",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "is_observed",
            round_stable(F.last("v", ignorenulls=True).over(w), 4).alias(
                "filled"
            ),
        )
        .orderBy("userId", "day")
    )


# ---------------------------------------------------------------------------
# Strict time-constrained funnel (each step within a max gap of the previous)
# ---------------------------------------------------------------------------


@register(
    "events_strict_funnel",
    """
WITH v AS (
    SELECT CAST(user_id AS INTEGER) AS userId, MIN(ts) AS t1
    FROM events WHERE event_type = 'view' GROUP BY userId
),
c AS (
    SELECT v.userId, v.t1, MIN(e.ts) AS t2
    FROM v JOIN events e
      ON CAST(e.user_id AS INTEGER) = v.userId
     AND e.event_type = 'click'
     AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 6 HOUR
    GROUP BY v.userId, v.t1
),
p AS (
    SELECT c.userId, MIN(e.ts) AS t3
    FROM c JOIN events e
      ON CAST(e.user_id AS INTEGER) = c.userId
     AND e.event_type = 'purchase'
     AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 6 HOUR
    GROUP BY c.userId
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_6h,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_6h
""",
    doc="strict time-constrained funnel: first view, then the first "
    "click within 6h OF THAT VIEW, then the first purchase within 6h "
    "OF THAT CLICK — the greedy earliest-qualifying-event chaining "
    "analytics engines (funnel windows in Amplitude/Mixpanel terms) "
    "define.  Three keyed joins on (user, bounded time range), each "
    "stage's relation shrinking; complements events_funnel_conversion "
    "(unconstrained ordering) with the gap-bounded variant.  The "
    "range predicates keep each probe a broadcastable per-user "
    "interval check, never an unbounded time cross product",
    defer=True,
)
def events_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("int").alias("userId"), "event_type", "ts"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("userId")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("userId").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (F.col("cu") == F.col("userId"))
            & (F.col("cts") > F.col("t1"))
            & (F.col("cts") <= F.col("t1") + F.expr("interval 6 hours")),
        )
        .groupBy("userId", "t1")
        .agg(F.min("cts").alias("t2"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("userId").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            purchases,
            (F.col("pu") == F.col("userId"))
            & (F.col("pts") > F.col("t2"))
            & (F.col("pts") <= F.col("t2") + F.expr("interval 6 hours")),
        )
        .groupBy("userId")
        .agg(F.min("pts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_6h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_6h")))
    )


# ---------------------------------------------------------------------------
# Mutual information between categorical columns (dependence profiling)
# ---------------------------------------------------------------------------


@register(
    "events_mutual_information",
    f"""
WITH j AS (
    SELECT event_type AS x, CAST(dayofweek(ts) AS INTEGER) AS y,
           CAST(COUNT(*) AS DOUBLE) AS n_xy
    FROM events GROUP BY x, y
),
tot AS (SELECT SUM(n_xy) AS n FROM j),
mx AS (SELECT x, SUM(n_xy) AS n_x FROM j GROUP BY x),
my AS (SELECT y, SUM(n_xy) AS n_y FROM j GROUP BY y)
SELECT {sql_round_stable(
    'SUM((n_xy / n) * LN(n_xy * n / (n_x * n_y)))', 6)} AS mi,
       {sql_round_stable('-SUM((n_xy / n) * LN(n_xy / n_x))', 6)}
           AS cond_entropy_y_given_x,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM j
JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
""",
    doc="mutual information between two categorical columns (event type "
    "x day-of-week): the feature-selection / leakage-screening staple, "
    "computed from the contingency table — one grouped count, margins "
    "re-aggregated FROM the joint (never a second scan), broadcast "
    "back, one closed-form sum.  Conditional entropy H(Y|X) emitted "
    "beside MI.  The information-theoretic sibling of "
    "orders_chi2_status_priority: chi2 tests independence, MI "
    "quantifies the dependence in nats",
    defer=True,
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    j = ev.groupBy(
        F.col("event_type").alias("x"),
        F.dayofweek("ts").cast("int").alias("y"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_xy"))
    tot = j.agg(F.sum("n_xy").alias("n"))
    mx = j.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = j.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    full = (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    return full.agg(
        round_stable(
            F.sum(
                (F.col("n_xy") / F.col("n"))
                * F.log(F.col("n_xy") * F.col("n") / (F.col("n_x") * F.col("n_y")))
            ),
            6,
        ).alias("mi"),
        round_stable(
            -F.sum(
                (F.col("n_xy") / F.col("n"))
                * F.log(F.col("n_xy") / F.col("n_x"))
            ),
            6,
        ).alias("cond_entropy_y_given_x"),
        F.count(F.lit(1)).alias("n_cells"),
    )
