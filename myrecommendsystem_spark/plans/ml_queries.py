"""ML queries (SURVEY.md §2.8) — rows-only driver checks (no SQL oracle).

ALS factorization is iterative least-squares — not expressible in ANSI SQL,
so per the driver contract these register without an oracle and get a
rows-only check.  Correctness is covered by property tests in
``tests/test_ml.py`` (list lengths, ordering, RMSE threshold vs the
reference's recorded 1.2837, exact-vs-LSH agreement).

The ratings input is the deterministic events-derived relation, so these
run at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.ml import als as als_mod
from myrecommendsystem_spark.ml.tuner import grid_search_als
from myrecommendsystem_spark.plans.registry import RATINGS_CTE, register

# Query-sized ALS config: small rank keeps the correctness-gate runtime in
# seconds; the production config (rank=50, iter=5, reg=0.01 —
# OfflineRecommender.scala:66) is exercised in tests/bench.
_QUERY_RANK = 8
_QUERY_ITER = 5


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.events_as_ratings(spark, sf_dir).select(
        "userId", "productId", "score"
    )


@register(
    "als_user_recs",
    None,
    doc="M1+M2+A5: ALS fit + recommendForAllUsers top-10, flat "
    "(userId, productId, score, rnk) — replaces the cartesian+predict+ "
    "groupByKey-top-k pipeline (OfflineRecommender.scala:64-90)",
)
def als_user_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ratings(spark, sf_dir)
    if r.isEmpty():  # ALS is undefined on zero ratings — empty recs out
        return spark.createDataFrame(
            [], "userId int, productId int, score double, rnk int"
        )
    model = als_mod.train_als(r, rank=_QUERY_RANK, max_iter=_QUERY_ITER)
    return als_mod.user_recs_flat(model, k=10)


@register(
    "als_item_similarities",
    None,
    doc="M3+M7: item-factor cosine similarity matrix, exact broadcast GEMM "
    "over unit factors, sim > 0.6 (OfflineRecommender.scala:92-109)",
)
def als_item_similarities(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ratings(spark, sf_dir)
    if r.isEmpty():
        return spark.createDataFrame(
            [], "pid int, other_pid int, sim double"
        )
    model = als_mod.train_als(r, rank=_QUERY_RANK, max_iter=_QUERY_ITER)
    factors = als_mod.item_factors_df(model)
    return als_mod.item_similarities(factors, threshold=0.6, method="exact")


@register(
    "als_grid_search",
    None,
    doc="M4-M6: TrainValidationSplit grid search (ALSTrainer.scala:41-79) — "
    "query-sized grid; returns (rank, reg_param, rmse) per grid point",
)
def als_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    r0 = _ratings(spark, sf_dir)
    if r0.isEmpty():
        return spark.createDataFrame(
            [], "rank bigint, reg_param double, rmse double"
        )
    _, results = grid_search_als(
        r0,
        ranks=(4, 8),
        regs=(0.1, 0.01),
        max_iter=3,
    )
    return results.select(
        "rank", "reg_param", F.round("rmse", 4).alias("rmse")
    )


@register(
    "ratings_next_item_examples",
    f"""
WITH {RATINGS_CTE},
h AS (
    SELECT userId,
           array_to_string(
               list(productId) OVER (
                   PARTITION BY userId
                   ORDER BY ts, productId, score
                   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
               ), ',') AS history,
           productId AS label,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
    FROM ratings
)
SELECT userId, history, label, ts_sec
FROM h
WHERE history IS NOT NULL AND length(history) > 0
""",
    doc="training-example generation for sequential recommenders: each "
    "interaction with >=1 predecessor becomes (history of last <=5 item "
    "ids, next-item label) — one userId shuffle, O(k) ROWS frame, "
    "history flattened to CSV string (flat schema for any consumer)",
    defer=True,
)
def ratings_next_item_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.examples import next_item_examples

    # events_as_ratings keeps ts, which the chronological window needs
    return next_item_examples(readers.events_as_ratings(spark, sf_dir), history_k=5)


@register(
    "als_implicit_recs",
    None,
    doc="implicit-feedback ALS (Hu/Koren/Volinsky 2008 — the MLlib mode "
    "the reference never exercises but any view/click pipeline needs): "
    "scores as confidence weights over binary preferences, top-10 per "
    "user; rows-only (iterative factorization not SQL-expressible)",
    defer=True,
)
def als_implicit_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ratings(spark, sf_dir)
    if r.isEmpty():
        return spark.createDataFrame(
            [], "userId int, productId int, score double, rnk int"
        )
    model = als_mod.train_als(
        r,
        rank=_QUERY_RANK,
        max_iter=_QUERY_ITER,
        implicit_prefs=True,
        alpha=40.0,
    )
    return als_mod.user_recs_flat(model, k=10)


@register(
    "product_cooccurrence_pmi",
    f"""
WITH {RATINGS_CTE},
capped AS (
    SELECT userId, productId FROM (
        SELECT userId, productId, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
    GROUP BY userId, productId
),
n AS (SELECT CAST(COUNT(DISTINCT userId) AS DOUBLE) AS n_users FROM capped),
pc AS (SELECT productId, CAST(COUNT(*) AS DOUBLE) AS n_p FROM capped GROUP BY productId),
pairs AS (
    SELECT a.productId AS pid_a, b.productId AS pid_b,
           CAST(COUNT(*) AS DOUBLE) AS n_ab
    FROM capped a JOIN capped b
      ON a.userId = b.userId AND a.productId < b.productId
    GROUP BY pid_a, pid_b
)
SELECT CAST(pid_a AS INTEGER) AS pid_a, CAST(pid_b AS INTEGER) AS pid_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       {sql_round_stable(
           'ln((n_ab / n.n_users) / ((ca.n_p / n.n_users) * (cb.n_p / n.n_users)))',
           4)} AS pmi
FROM pairs
JOIN pc ca ON pairs.pid_a = ca.productId
JOIN pc cb ON pairs.pid_b = cb.productId
CROSS JOIN n
WHERE n_ab >= 5
ORDER BY pid_a, pid_b
""",
    doc="product co-occurrence PMI (the SGNS-style association "
    "statistic, complementing item-CF's cosine): baskets capped at the "
    "recent-20 per user (the itemcf scale guard, so pair volume is "
    "O(users*K^2)), pair counts vs independence over distinct users; "
    "support floor n_ab >= 5 drops noise pairs",
    defer=True,
)
def product_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    r = readers.events_as_ratings(spark, sf_dir)
    w = Window.partitionBy("userId").orderBy(
        F.col("ts").desc(), F.col("productId").desc(), F.col("score").desc()
    )
    # persisted: four consumers (user count, product counts, both
    # self-join sides) would each re-run the recency window otherwise —
    # the same shared-relation rule as tfidf_cosine_pairs
    capped = (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("userId", "productId")
        .distinct()
        .persist()
    )
    n = capped.agg(
        F.countDistinct("userId").cast("double").alias("n_users")
    )
    pc = capped.groupBy("productId").agg(
        F.count(F.lit(1)).cast("double").alias("n_p")
    )
    a = capped.withColumnsRenamed({"productId": "pid_a"})
    b = capped.withColumnsRenamed({"productId": "pid_b"})
    pairs = (
        a.join(b, "userId")
        .filter(F.col("pid_a") < F.col("pid_b"))
        .groupBy("pid_a", "pid_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
    )
    # one eager checkpoint of the tiny (product, count) table —
    # lazily, ca and cb each re-ran the product-count aggregation over
    # the cached capped relation (two shuffles for one relation).
    pc = pc.localCheckpoint(eager=True)
    ca = pc.withColumnsRenamed({"productId": "pid_a", "n_p": "na"})
    cb = pc.withColumnsRenamed({"productId": "pid_b", "n_p": "nb"})
    out = (
        pairs.join(F.broadcast(ca), "pid_a")
        .join(F.broadcast(cb), "pid_b")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") >= 5)
        .select(
            F.col("pid_a").cast("int").alias("pid_a"),
            F.col("pid_b").cast("int").alias("pid_b"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            round_stable(
                F.log(
                    (F.col("n_ab") / F.col("n_users"))
                    / (
                        (F.col("na") / F.col("n_users"))
                        * (F.col("nb") / F.col("n_users"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy("pid_a", "pid_b")
    )
    from myrecommendsystem_spark.functions.caching import (
        eager_release,
        release_checkpoint,
    )

    result = eager_release(out, capped)
    if result is not out:  # materialized (not the lazy_plans hook):
        release_checkpoint(pc)  # pc was consumed by the checkpoint job
    return result


@register(
    "ratings_session_examples",
    f"""
WITH {RATINGS_CTE},
s AS (
    SELECT userId, productId, score, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_s
    FROM ratings
    WINDOW w AS (PARTITION BY userId ORDER BY ts, productId, score)
),
t AS (
    SELECT *, CAST(SUM(new_s) OVER (
        PARTITION BY userId ORDER BY ts, productId, score
        ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
    FROM s
),
h AS (
    SELECT userId, session_id,
           array_to_string(list(productId) OVER (
               PARTITION BY userId, session_id
               ORDER BY ts, productId, score
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), ',') AS history,
           productId AS label
    FROM t
)
SELECT userId, session_id, history, label
FROM h WHERE history IS NOT NULL AND length(history) > 0
""",
    doc="session-scoped next-item examples: history never crosses a "
    ">30 min inactivity boundary (gap-flag running sum -> session id, "
    "then the k-capped ROWS history window per (user, session)); both "
    "windows ride one userId shuffle",
    defer=True,
)
def ratings_session_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.examples import session_next_item_examples

    return session_next_item_examples(
        readers.events_as_ratings(spark, sf_dir), history_k=5, gap_minutes=30
    )


@register(
    "ratings_negative_samples",
    f"""
WITH {RATINGS_CTE},
pop AS (
    SELECT productId, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ratings GROUP BY productId
    ORDER BY cnt DESC, productId LIMIT 50
),
users AS (SELECT DISTINCT userId FROM ratings),
seen AS (SELECT DISTINCT userId, productId FROM ratings),
cand AS (
    SELECT u.userId, p.productId
    FROM users u CROSS JOIN pop p
    LEFT JOIN seen s
      ON s.userId = u.userId AND s.productId = p.productId
    WHERE s.userId IS NULL
),
ranked AS (
    SELECT userId, productId,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY userId
               ORDER BY md5(CAST(userId AS VARCHAR) || ':' ||
                            CAST(productId AS VARCHAR)), productId
           ) AS INTEGER) AS neg_rank
    FROM cand
)
SELECT userId, productId, neg_rank
FROM ranked WHERE neg_rank <= 5
ORDER BY userId, neg_rank
""",
    doc="negative sampling for implicit-feedback training: 5 unseen "
    "items per user from the top-50 popularity candidate pool, "
    "selected by DETERMINISTIC hash ranking (md5 of user:item — "
    "engine-independent, reproducible across runs and executors, the "
    "same content-cut discipline as operators/sampling).  The "
    "candidate pool is a broadcast (bounded, not catalog-sized), "
    "seen-set removal is the anti-join shape, ranking is one keyed "
    "window.  Popularity-biased negatives are the standard hard-ish "
    "negative scheme for ALS/BPR-style training (uniform negatives "
    "are trivially easy; true hard negatives come from the ANN path)",
    defer=True,
)
def ratings_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ratings = readers.events_as_ratings(spark, sf_dir)
    pop = (
        ratings.groupBy("productId")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "productId")
        .limit(50)
        .select("productId")
    )
    users = ratings.select("userId").distinct()
    seen = ratings.select("userId", "productId").distinct()
    cand = users.crossJoin(F.broadcast(pop)).join(
        seen, ["userId", "productId"], "left_anti"
    )
    key = F.md5(
        F.concat(
            F.col("userId").cast("string"),
            F.lit(":"),
            F.col("productId").cast("string"),
        )
    )
    w = W.partitionBy("userId").orderBy(key, "productId")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= 5)
        .select("userId", "productId", "neg_rank")
        .orderBy("userId", "neg_rank")
    )


@register(
    "product_wilson_ranking",
    f"""
WITH {RATINGS_CTE},
agg AS (
    SELECT productId,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN score > 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
    FROM ratings GROUP BY productId
),
wil AS (
    SELECT productId, n, n_pos,
           (n_pos * 1.0 / n) AS p_hat,
           ((n_pos * 1.0 / n) + 1.9208 / n
            - 1.96 * SQRT((n_pos * 1.0 / n) * (1 - n_pos * 1.0 / n) / n
                          + 0.9604 / (n * n)))
           / (1 + 3.8416 / n) AS lb
    FROM agg
)
SELECT productId, n, n_pos,
       {sql_round_stable('p_hat', 4)} AS pos_rate,
       {sql_round_stable('lb', 4)} AS wilson_lb
FROM wil
ORDER BY wilson_lb DESC, productId
""",
    doc="Wilson-score ranking: products ordered by the 95% lower "
    "confidence bound of their positive-rating proportion (score > 3, "
    "the reference's own quality pivot, StreamingRecommender.scala:"
    "215) — the ranking that does not let a 1-vote/1-positive item "
    "outrank a 95/100 one, which the raw pos_rate (emitted beside it) "
    "does.  One grouped aggregate; the bound is closed-form column "
    "arithmetic.  The statistically-honest twin of "
    "stats_rate_more_products",
    defer=True,
)
def product_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = readers.events_as_ratings(spark, sf_dir)
    agg = r.groupBy("productId").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("score") > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    p = F.col("n_pos") * 1.0 / F.col("n")
    n = F.col("n")
    lb = (
        p
        + 1.9208 / n
        - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    ) / (1 + 3.8416 / n)
    return (
        agg.select(
            "productId",
            "n",
            "n_pos",
            round_stable(p, 4).alias("pos_rate"),
            round_stable(lb, 4).alias("wilson_lb"),
        )
        .orderBy(F.col("wilson_lb").desc(), "productId")
    )
