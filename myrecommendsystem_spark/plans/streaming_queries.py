"""Streaming-family queries (SURVEY.md §2.9 T1-T6, §2.1 S7-S11) — batch form.

The streaming recommender's per-micro-batch cycle is a pure DataFrame
function (``streaming.recommender``), so the correctness gate can run it as
a batch query against DuckDB SQL — the strongest check available for a
streaming pipeline (the reference has none at all).  The Structured
Streaming wiring itself (file/kafka source, foreachBatch, availableNow
trigger) is exercised in ``tests/test_streaming.py``.

The similarity matrix used here is the deterministic item-CF cosine
(``ml.itemcf``), not ALS factors — same shape, oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.ml.itemcf import corating_similarities
from myrecommendsystem_spark.plans.registry import RATINGS_CTE, register
from myrecommendsystem_spark.streaming.log_filter import (
    PRODUCT_RATING_PREFIX,
    filter_rating_log,
)
from myrecommendsystem_spark.streaming.recommender import (
    compact_recent_ratings,
    stream_recs_flat,
)
from myrecommendsystem_spark.streaming.windows import session_event_stats

# The reference's 0.6 threshold (OfflineRecommender.scala:105) is tuned for
# dense ALS factor vectors; co-rating vectors get sparser as user count
# grows (max observed cosine at sf0.01 is ~0.53), so the deterministic
# item-CF variant uses 0.3 to stay non-vacuous across scale factors.
_ITEMCF_THRESHOLD = 0.3

# DuckDB twins of ml.itemcf.corating_similarities — keep in sync.
# The capped CTE mirrors the default per_user_cap=20 (recent-K compaction,
# same ordering as stream_recent_ratings) applied before the self-join.
_ITEMCF_CTES = f"""
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
)
""".strip()

# The full micro-batch cycle (trigger → candidates → seen filter →
# recent-K pairing → priority) as shared CTEs — used by the plain batch
# query and the cold-start-fallback composition; batch = users with
# userId % 13 = 0.
_CYCLE_CTES = f"""
batch AS (SELECT * FROM ratings WHERE userId % 13 = 0),
trig AS (
    SELECT userId, productId AS trigger_pid FROM (
        SELECT userId, productId, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY ts DESC, productId DESC
        ) AS rn FROM batch
    ) WHERE rn = 1
),
cand0 AS (
    SELECT t.userId, s.other_pid AS candidateId, s.sim AS trigger_sim
    FROM trig t JOIN sims s ON t.trigger_pid = s.pid
    WHERE s.sim > {_ITEMCF_THRESHOLD}
),
cand1 AS (
    SELECT c.* FROM cand0 c
    WHERE NOT EXISTS (
        SELECT 1 FROM ratings r
        WHERE r.userId = c.userId AND r.productId = c.candidateId
    )
),
cand AS (
    SELECT userId, candidateId FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY trigger_sim DESC, candidateId
        ) AS rn FROM cand1
    ) WHERE rn <= 20
),
recent AS (
    SELECT userId, productId, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId
            ORDER BY ts DESC, productId DESC, score DESC
        ) AS rn FROM ratings
    ) WHERE rn <= 20
),
pairs AS (
    SELECT c.userId, c.candidateId, s.sim, r.score
    FROM cand c
    JOIN recent r ON c.userId = r.userId
    JOIN sims s ON s.pid = c.candidateId AND s.other_pid = r.productId
    WHERE s.sim > {_ITEMCF_THRESHOLD}
),
scores AS (
    SELECT userId, candidateId,
           {sql_round_stable(
            'AVG(sim * score)'
            ' + LOG10(GREATEST(SUM(CASE WHEN score > 3 THEN 1 ELSE 0 END), 1))'
            ' - LOG10(GREATEST(SUM(CASE WHEN score <= 3 THEN 1 ELSE 0 END), 1))',
            4)} AS priority
    FROM pairs GROUP BY userId, candidateId
)
""".strip()


@register(
    "stream_log_filter_parse",
    f"""
WITH {RATINGS_CTE},
lines AS (
    SELECT CASE WHEN userId % 10 = 0
        THEN 'heartbeat uid=' || CAST(userId AS VARCHAR)
        ELSE 'app-log {PRODUCT_RATING_PREFIX}' || CAST(userId AS VARCHAR)
             || '|' || CAST(productId AS VARCHAR)
             || '|' || CAST(score AS VARCHAR)
             || '|' || CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS VARCHAR)
        END AS value
    FROM ratings
),
filtered AS (
    SELECT trim(split_part(value, '{PRODUCT_RATING_PREFIX}', 2)) AS value
    FROM lines WHERE contains(value, '{PRODUCT_RATING_PREFIX}')
)
SELECT CAST(split_part(value, '|', 1) AS INTEGER) AS userId,
       CAST(split_part(value, '|', 2) AS INTEGER) AS productId,
       CAST(split_part(value, '|', 3) AS DOUBLE) AS score,
       CAST(split_part(value, '|', 4) AS INTEGER) AS ts_sec
FROM filtered
""",
    doc="S11+P6+T2: the KafkaStreaming log-filter topology + event parse as "
    "Catalyst expressions (LogProcess.java:17-25, "
    "StreamingRecommender.scala:109-113); log lines synthesized "
    "deterministically from the ratings relation, 1-in-10 users as noise",
)
def stream_log_filter_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir)
    rating_line = F.concat(
        F.lit("app-log " + PRODUCT_RATING_PREFIX),
        F.col("userId").cast("string"),
        F.lit("|"),
        F.col("productId").cast("string"),
        F.lit("|"),
        F.col("score").cast("string"),
        F.lit("|"),
        F.unix_timestamp("ts").cast("string"),
    )
    noise_line = F.concat(
        F.lit("heartbeat uid="), F.col("userId").cast("string")
    )
    lines = ratings.select(
        F.when(F.col("userId") % 10 == 0, noise_line)
        .otherwise(rating_line)
        .alias("value")
    )
    parsed = readers.read_rating_lines(filter_rating_log(lines))
    return parsed.withColumnRenamed("timestamp", "ts_sec")


@register(
    "stream_recent_ratings",
    f"""
WITH {RATINGS_CTE}
SELECT userId, productId, score,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY userId
        ORDER BY ts DESC, productId DESC, score DESC
    ) AS rn
    FROM ratings
)
WHERE rn <= 20
""",
    doc="T4/S8: the Redis recent-K list as a compacted table — ≤20 most "
    "recent ratings per user (StreamingRecommender.scala:151-159)",
)
def stream_recent_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir)
    return compact_recent_ratings(ratings).select(
        "userId",
        "productId",
        "score",
        F.unix_timestamp("ts").cast("bigint").alias("ts_sec"),
    )


@register(
    "itemcf_similarities",
    f"""
WITH {RATINGS_CTE},
{_ITEMCF_CTES}
SELECT pid, other_pid, sim FROM sims WHERE sim > {_ITEMCF_THRESHOLD}
""",
    doc="M7 (deterministic variant): item-item cosine over co-rating "
    "vectors, thresholded, both directions — the oracle-able stand-in for "
    "the ALS-factor similarity matrix (OfflineRecommender.scala:92-109); "
    "per-user recent-20 cap bounds the self-join to O(users·K²) pairs",
)
def itemcf_similarities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corating_similarities(
        readers.events_as_ratings(spark, sf_dir), threshold=_ITEMCF_THRESHOLD
    )


@register(
    "stream_recs_batch",
    f"""
WITH {RATINGS_CTE},
{_ITEMCF_CTES},
{_CYCLE_CTES}
SELECT userId, candidateId, priority, CAST(rn AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY userId ORDER BY priority DESC, candidateId
    ) AS rn FROM scores
) WHERE rn <= 20
""",
    doc="T3+T5+T6+J4+J5+A8: one full streaming-recommender micro-batch "
    "cycle in batch form — trigger event per user, broadcast sim join, "
    "seen anti join, recent-K pairing, priority formula, top-20 "
    "(StreamingRecommender.scala:116-231); batch = users with id % 13 = 0",
)
def stream_recs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = readers.events_as_ratings(spark, sf_dir)
    # The sim matrix feeds two join branches (candidate generation and
    # recent-rating pairing).  Uncached, Spark re-runs the whole item-CF
    # self-join + aggregation per branch (observed: 11 scans of events,
    # 26 exchanges).  In production this table is precomputed and loaded
    # (the reference reads it from storage too — StreamingRecommender
    # .scala:78-88); the cache is the batch-query stand-in for that.
    # It is small by construction: thresholded item×item pairs.
    sims = corating_similarities(ratings, threshold=_ITEMCF_THRESHOLD).cache()
    batch = ratings.filter(F.col("userId") % 13 == 0)
    recent = compact_recent_ratings(ratings)
    return stream_recs_flat(
        batch, sims, ratings, recent, sim_threshold=_ITEMCF_THRESHOLD
    )


@register(
    "stream_recs_cold_start",
    f"""
WITH {RATINGS_CTE},
{_ITEMCF_CTES},
{_CYCLE_CTES},
final0 AS (
    SELECT userId, candidateId, priority, CAST(rn AS INTEGER) AS rnk,
           'model' AS rec_source
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY priority DESC, candidateId
        ) AS rn FROM scores
    ) WHERE rn <= 20
),
missing AS (
    SELECT DISTINCT userId FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM final0 f WHERE f.userId = b.userId)
),
popt AS (
    SELECT productId, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ratings GROUP BY productId
),
fb0 AS (
    SELECT m.userId, p.productId, p.cnt
    FROM missing m CROSS JOIN popt p
    WHERE NOT EXISTS (
        SELECT 1 FROM ratings r
        WHERE r.userId = m.userId AND r.productId = p.productId
    )
),
fb AS (
    SELECT userId, productId AS candidateId, 0.0 AS priority,
           CAST(rn AS INTEGER) AS rnk, 'popularity' AS rec_source
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY cnt DESC, productId
        ) AS rn FROM fb0
    ) WHERE rn <= 5
)
SELECT * FROM final0 UNION ALL SELECT * FROM fb
""",
    doc="the serving-complete micro-batch: model cycle output PLUS the "
    "popularity fallback rail for batch users the personalized path "
    "left empty (cold start / no similar neighbors) — the reference "
    "serves its statistics job's popularity list in exactly this role; "
    "fallback excludes seen products, popularity table broadcast, "
    "rec_source tags the provenance",
    defer=True,
)
def stream_recs_cold_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import stats
    from myrecommendsystem_spark.streaming.recommender import (
        recs_with_popularity_fallback,
    )

    ratings = readers.events_as_ratings(spark, sf_dir)
    sims = corating_similarities(ratings, threshold=_ITEMCF_THRESHOLD).cache()
    batch = ratings.filter(F.col("userId") % 13 == 0)
    recent = compact_recent_ratings(ratings)
    recs = stream_recs_flat(
        batch, sims, ratings, recent, sim_threshold=_ITEMCF_THRESHOLD
    )
    pop = stats.rate_more_products(ratings)
    return recs_with_popularity_fallback(
        recs, batch, pop, ratings, k=5
    ).orderBy("userId", "rec_source", "rnk")


@register(
    "events_tumbling_hourly",
    f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {sql_round_stable('AVG(value)', 4)} AS avg_value
FROM events
GROUP BY window_start
""",
    doc="Engine extension (SURVEY.md §2.9 'absent' list): event-time "
    "tumbling-window aggregation — the batch twin of the watermarked "
    "streaming window in streaming/windows.py",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = readers.load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            round_stable(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
            "avg_value",
        )
    )


@register(
    "events_session_windows",
    f"""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     < INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_sess
    FROM events
),
grouped AS (
    SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS sess_id
    FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {sql_round_stable('AVG(value)', 4)} AS avg_value
FROM grouped
GROUP BY user_id, sess_id
""",
    doc="Engine extension: session windows (30-minute gap) per user — "
    "F.session_window on the Spark side, gaps-and-islands SQL as the "
    "oracle; strict-inequality gap semantics pinned on both sides",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = readers.load_table(spark, sf_dir, "events")
    return session_event_stats(events, gap="30 minutes").select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "cnt",
        "avg_value",
    )


@register(
    "events_sliding_counts",
    """
SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM events, (SELECT unnest(range(4)) AS k)
GROUP BY window_start
""",
    doc="Engine extension: sliding windows (1 hour window, 15 minute "
    "slide) — every event lands in exactly window/slide = 4 buckets; "
    "Spark's F.window replicates rows at the EXPAND stage before the "
    "partial aggregate, the oracle replicates via a 4-row range join",
)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.streaming.windows import sliding_event_counts

    events = readers.load_table(spark, sf_dir, "events")
    return sliding_event_counts(events).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "cnt",
    )


@register(
    "events_view_purchase_attrib",
    f"""
SELECT v.event_id AS view_id, v.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {sql_round_stable('SUM(p.value)', 4)} AS purchase_value
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view'
GROUP BY view_id, v.user_id
ORDER BY view_id
""",
    doc="Engine extension (SURVEY.md §2.9 'absent' list): interval-join "
    "attribution — purchases within 30 minutes after each view by the same "
    "user.  Batch twin of streaming/joins.py::interval_join (identical "
    "plan; watermarks are batch no-ops): equi hash join on user_id with "
    "the time range as join residual, then partial/final count-sum.  In "
    "streaming mode the watermark+interval bound evicts join state, "
    "keeping it O(horizon) instead of O(stream lifetime)",
    defer=True,
)
def events_view_purchase_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.streaming.joins import interval_join

    events = readers.load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_val"),
    )
    joined = interval_join(
        views, purchases, key="user_id", left_ts="view_ts",
        right_ts="purchase_ts", upper="30 minutes",
    )
    return (
        joined.groupBy("view_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            round_stable(F.sum("purchase_val"), 4).alias("purchase_value"),
        )
        .orderBy("view_id")
    )


@register(
    "events_view_conversion_outer",
    """
SELECT v.event_id AS view_id, v.user_id,
       CAST(COUNT(p.ts) AS BIGINT) AS n_purchases,
       CAST(CASE WHEN COUNT(p.ts) = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS unconverted
FROM events v
LEFT JOIN events p
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view'
GROUP BY view_id, v.user_id
ORDER BY view_id
""",
    doc="LEFT-OUTER interval join (streaming/joins.py::interval_join_outer "
    "batch twin): every view emitted, unmatched ones flagged unconverted "
    "— the complement the inner attribution join cannot express.  In "
    "streaming mode the null-padded rows may only emit once the "
    "watermark proves no future match; batch mode is a plain left-outer "
    "hash join with the interval residual",
    defer=True,
)
def events_view_conversion_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.streaming.joins import interval_join_outer

    events = readers.load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join_outer(
        views, purchases, key="user_id", left_ts="view_ts",
        right_ts="purchase_ts", upper="30 minutes",
    )
    return (
        joined.groupBy("view_id", "user_id")
        .agg(
            F.count("purchase_ts").alias("n_purchases"),
            F.when(F.count("purchase_ts") == 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("unconverted"),
        )
        .orderBy("view_id")
    )


@register(
    "recsys_mmr_rerank",
    f"""
WITH RECURSIVE {RATINGS_CTE},
{_ITEMCF_CTES},
{_CYCLE_CTES},
cands AS (
    SELECT userId, candidateId AS pid, priority AS score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY priority DESC, candidateId
        ) AS rn FROM scores
    ) WHERE rn <= 20
),
simt AS (SELECT pid, other_pid, sim FROM sims WHERE sim > {_ITEMCF_THRESHOLD}),
cedges AS (
    SELECT a.userId, a.pid AS pid_a, b.pid AS pid_b, s.sim
    FROM cands a
    JOIN cands b ON a.userId = b.userId AND a.pid <> b.pid
    JOIN simt s ON s.pid = a.pid AND s.other_pid = b.pid
),
-- greedy MMR selection: each recursion step picks, per user, the
-- argmax of lam*rel - (1-lam)*max-sim-to-picked over the not-yet-picked
-- candidates (ties: smallest pid, matching the kernel's scan order);
-- the picked set rides along as a list
sel AS (
    SELECT userId, 1 AS step, [pid] AS picked, pid AS productId,
           0.7 * score AS val
    FROM (
        SELECT userId, pid, score, ROW_NUMBER() OVER (
            PARTITION BY userId ORDER BY 0.7 * score DESC, pid
        ) AS rn FROM cands
    ) WHERE rn = 1
    UNION ALL
    SELECT userId, step, picked, productId, val FROM (
        SELECT userId, step, list_append(picked, pid) AS picked,
               pid AS productId, val,
               ROW_NUMBER() OVER (
                   PARTITION BY userId ORDER BY val DESC, pid
               ) AS rn
        FROM (
            SELECT s.userId, s.step + 1 AS step, s.picked, c.pid, c.score,
                   0.7 * c.score - (1.0 - 0.7) * COALESCE((
                       SELECT MAX(e.sim) FROM cedges e
                       WHERE e.userId = s.userId AND e.pid_a = c.pid
                         AND list_contains(s.picked, e.pid_b)
                   ), 0.0) AS val
            FROM sel s
            JOIN cands c
              ON c.userId = s.userId AND NOT list_contains(s.picked, c.pid)
            WHERE s.step < 10
        )
    ) WHERE rn = 1
)
SELECT userId, productId, CAST(step AS INTEGER) AS mmr_rank,
       ROUND(val + 1e-11, 6) AS mmr_score
FROM sel
ORDER BY userId, mmr_rank
""",
    doc="serving-side MMR diversification (Carbonell 1998) of the "
    "streaming recommender's top-20 lists: greedy "
    "λ·relevance − (1−λ)·max-sim-to-picked with λ=0.7, k=10 "
    "(ml/rerank.py).  The candidate-pair similarity edges are "
    "materialized relationally first (per-user K² at most), so the "
    "cogrouped Arrow kernel never touches the full sim matrix; users "
    "parallelize across executors.  Upgraded rows-only → hash-gated: "
    "the greedy selection is a bounded left fold — one recursive-"
    "CTE step per rank position carrying the picked set as a list, the "
    "penalty as a correlated MAX over the pair edges (missing pair = 0 "
    "on both sides; sims are nonnegative by construction so the "
    "kernel's default-0 generator and SQL's COALESCE agree).  "
    "Relevance/diversity/λ-limit laws stay pinned in "
    "tests/test_rerank.py.  The anti-crowding re-rank every production "
    "recommender runs between scoring and display",
    defer=True,
)
def recsys_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml.rerank import mmr_rerank

    ratings = readers.events_as_ratings(spark, sf_dir)
    sims = corating_similarities(ratings, threshold=_ITEMCF_THRESHOLD).cache()
    batch = ratings.filter(F.col("userId") % 13 == 0)
    recent = compact_recent_ratings(ratings)
    recs = stream_recs_flat(
        batch, sims, ratings, recent, sim_threshold=_ITEMCF_THRESHOLD
    ).select(
        "userId",
        F.col("candidateId").alias("productId"),
        F.col("priority").alias("score"),
    )
    # the checkpoint materializes UNSORTED — the old shape sorted
    # inside eager_release and then re-sorted the checkpointed rows, a
    # full range-exchange paid twice for one presentation order.
    out = mmr_rerank(recs, sims, k=10, lam=0.7)
    from myrecommendsystem_spark.functions.caching import eager_release

    return eager_release(out, sims).orderBy("userId", "mmr_rank")
