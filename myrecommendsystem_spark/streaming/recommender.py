"""Streaming recommender — StreamingRecommender.scala, set-oriented.

Reference (``/root/reference/recommender/StreamingRecommender/src/main/
scala/com/ng/streaming/StreamingRecommender.scala``): a DStream job that,
PER EVENT, round-trips Redis (recent ratings, :151-159), a driver-broadcast
sim matrix (:78-90), and MongoDB (seen products :175-180, upsert :254-263).

Here every per-event network hop becomes a per-micro-batch JOIN
(SURVEY.md §3.3):

- Redis recent-K list  → compacted recent-ratings table (T4/S8)
- broadcast Map probe  → broadcast join against the sim DataFrame (J4)
- Mongo seen-filter    → stream-static left anti join (J5/P5)
- scoring loop         → groupBy().agg() priority formula (A8, shared with
                         operators.relational.streaming_priority_scores)
- findAndRemove+insert → replace-by-key parquet upsert (S10)

The whole cycle is a pure DataFrame function (``stream_recs_for_events``)
so it runs identically inside ``writeStream.foreachBatch`` and in batch
tests — and the correctness gate can execute it without a streaming
runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.caching import release_checkpoint
from myrecommendsystem_spark.operators.relational import (
    anti_join,
    collect_recs,
    streaming_priority_scores,
    top_k_per_group,
)

MAX_USER_RATING_NUM = 20  # StreamingRecommender.scala:48
MAX_SIM_PRODUCTS_NUM = 20  # StreamingRecommender.scala:49-50
SIM_THRESHOLD = 0.6  # StreamingRecommender.scala:213


def compact_recent_ratings(
    ratings: DataFrame, k: int = MAX_USER_RATING_NUM
) -> DataFrame:
    """≤k most recent ratings per user — the Redis list, as a table.

    Reference keeps ``userid:<id>`` Redis lists trimmed to 20 entries
    (StreamingRecommender.scala:151-159).  Columns in/out:
    (userId, productId, score, ts).  Deterministic tie-break on
    (productId, score) so replays are stable even with same-timestamp
    duplicates.
    """
    return top_k_per_group(
        ratings,
        ["userId"],
        [F.col("ts").desc(), F.col("productId").desc(), F.col("score").desc()],
        k,
    ).drop("rnk")


def stream_recs_flat(
    batch_events: DataFrame,
    sim_flat: DataFrame,
    seen_ratings: DataFrame,
    recent_ratings: DataFrame,
    k: int = MAX_SIM_PRODUCTS_NUM,
    sim_threshold: float = SIM_THRESHOLD,
) -> DataFrame:
    """One recommendation cycle for a batch of rating events, flat output.

    Inputs:
    - batch_events:   (userId, productId, score, ts) — this micro-batch
    - sim_flat:       (pid, other_pid, sim) — item similarity matrix
    - seen_ratings:   (userId, productId, ...) — everything already rated
    - recent_ratings: (userId, productId, score, ts) — the recent-K state

    Returns (userId, candidateId, priority, rnk) — one row per
    recommendation, priority desc per user.  ``stream_recs_for_events``
    nests this into the StreamRecs shape (replace-by-key per user).

    Divergence from the reference, documented: the reference processes
    events one at a time, each overwriting the user's recs — the batch
    equivalent takes each user's LATEST event in the batch as the trigger
    (last-write-wins, which is what the per-event loop converges to).
    """
    trigger = (
        top_k_per_group(
            batch_events,
            ["userId"],
            [F.col("ts").desc(), F.col("productId").desc()],
            1,
        )
        .select("userId", F.col("productId").alias("trigger_pid"))
    )

    # T5: top-k most-similar unseen products of the triggering product.
    # sim matrix is the small side → broadcast; seen-filter is an anti join.
    candidates = (
        trigger.join(
            F.broadcast(sim_flat), trigger.trigger_pid == sim_flat.pid, "inner"
        )
        .select(
            "userId",
            F.col("other_pid").alias("candidateId"),
            F.col("sim").alias("trigger_sim"),
        )
    )
    candidates = anti_join(
        candidates,
        seen_ratings.select(
            "userId", F.col("productId").alias("candidateId")
        ),
        ["userId", "candidateId"],
    )
    candidates = top_k_per_group(
        candidates,
        ["userId"],
        [F.col("trigger_sim").desc(), F.col("candidateId")],
        k,
    ).select("userId", "candidateId")

    # T6: pair candidates with the user's recent ratings through the sim
    # matrix (sim(candidate, recently-rated) > threshold), then the A8
    # priority formula per (user, candidate).
    pairs = (
        candidates.join(recent_ratings.select("userId", "productId", "score"), "userId")
        .join(
            F.broadcast(
                sim_flat.select(
                    F.col("pid").alias("candidateId"),
                    F.col("other_pid").alias("productId"),
                    F.col("sim"),
                )
            ),
            ["candidateId", "productId"],
            "inner",
        )
        .filter(F.col("sim") > sim_threshold)
    )
    scores = streaming_priority_scores(
        pairs.select("userId", "candidateId", "sim", "score"),
        candidate_col="candidateId",
        group_cols=["userId"],
    )
    flat = top_k_per_group(
        scores,
        ["userId"],
        [F.col("priority").desc(), F.col("candidateId")],
        k,
    )
    return flat.select(
        "userId",
        "candidateId",
        "priority",
        F.col("rnk").cast("int").alias("rnk"),
    )


def stream_recs_for_events(
    batch_events: DataFrame,
    sim_flat: DataFrame,
    seen_ratings: DataFrame,
    recent_ratings: DataFrame,
    k: int = MAX_SIM_PRODUCTS_NUM,
    sim_threshold: float = SIM_THRESHOLD,
) -> DataFrame:
    """StreamRecs shape: (userId, recs array<struct<productId, score>>).

    Nested form of :func:`stream_recs_flat` — the reference's output
    collection (StreamingRecommender.scala:254-263)."""
    flat = stream_recs_flat(
        batch_events, sim_flat, seen_ratings, recent_ratings, k, sim_threshold
    )
    return collect_recs(flat, "userId", "candidateId", "priority", k=k)


def recs_with_popularity_fallback(
    recs: DataFrame,
    batch_events: DataFrame,
    popularity: DataFrame,
    seen_ratings: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Cold-start completion: batch users the model cycle produced NO
    recommendations for (new users, trigger products with no similar
    neighbors) get the top-``k`` globally-popular products they have not
    seen — the reference serves exactly this popularity list from its
    statistics job when the personalized path is empty
    (StatisticsRecommender.scala:54 feeding the UI's fallback rail).

    Output: (userId, candidateId, priority, rnk, rec_source) with
    rec_source ∈ {{'model', 'popularity'}}; fallback rows carry
    priority 0.0 and rank by popularity count.  Scale shape: the
    popularity list is a bounded product-dimension relation → broadcast;
    the seen-filter is the same anti join as the model path.
    """
    model = recs.select(
        "userId",
        "candidateId",
        "priority",
        F.col("rnk").cast("int").alias("rnk"),
    ).withColumn("rec_source", F.lit("model"))
    missing = (
        batch_events.select("userId")
        .distinct()
        .join(recs.select("userId").distinct(), "userId", "left_anti")
    )
    cand = missing.crossJoin(
        F.broadcast(popularity.select("productId", "cnt"))
    )
    cand = anti_join(
        cand,
        seen_ratings.select("userId", "productId"),
        ["userId", "productId"],
    )
    fallback = top_k_per_group(
        cand, ["userId"], [F.col("cnt").desc(), F.col("productId")], k
    ).select(
        "userId",
        F.col("productId").alias("candidateId"),
        F.lit(0.0).alias("priority"),
        F.col("rnk").cast("int").alias("rnk"),
        F.lit("popularity").alias("rec_source"),
    )
    return model.unionByName(fallback)


BUCKET_COL = "__bucket"


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — resolves
    whatever filesystem the path's scheme names (local, hdfs://, s3a://),
    unlike ``os.path.exists``, which silently answers False for any
    non-local URI and would make :func:`upsert_by_key` take the create
    branch and clobber a remote table on its first micro-batch."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hadoop_path))


def upsert_by_key(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    key: str = "userId",
    num_buckets: int = 16,
) -> None:
    """Replace-by-key upsert into a key-bucketed parquet table (S10).

    Reference: per-user ``findAndRemove`` + ``insert``
    (StreamingRecommender.scala:254-263).  The table is partitioned by
    ``pmod(hash(key), num_buckets)`` so each micro-batch touches only the
    partitions its keys hash into:

    1. tag batch rows with their bucket id and ``localCheckpoint`` them:
       the batch's plan runs once, as one adaptive job whose final stage
       AQE coalesces (a cached plan keeps every shuffle partition), and
       every later step reads the checkpoint; collect the distinct
       bucket ids (≤ num_buckets ints — a metadata-sized driver hop);
    2. read ONLY those partitions back (the ``isin`` filter is partition
       pruning — untouched partitions' files are never opened), anti-join
       out replaced keys, union the batch rows, and checkpoint the merged
       rows: they are materialized before the source is overwritten, and
       with the lineage cut a lost block fails the batch instead of
       re-reading a half-overwritten source;
    3. hash-repartition by bucket, so each touched bucket is written as
       one file and the buckets are written in parallel;
    4. overwrite ONLY the touched partitions — the write passes
       ``partitionOverwriteMode=dynamic`` as its own option, so
       partitions absent from the merged frame are left on disk untouched
       and the session's conf is never changed.

    Both checkpoints are freed before returning.  Per-trigger IO is
    O(touched partitions), not O(table) — the plain-parquet middle ground
    between full rewrite and a Delta/Iceberg MERGE (which is what a
    production deployment would use).  The create-vs-merge branch probes
    the table through the Hadoop FileSystem API (:func:`_fs_exists`), so
    the sink works unchanged against HDFS/S3 paths, not just the local
    filesystem.

    NB: replace-by-key needs the partition column to be a FUNCTION OF
    THE KEY — that is what guarantees a re-arriving key's old rows live
    in a touched partition.  A sink whose natural read layout is keyed
    on something else (the semantic-dedup band table partitions by band
    value for probe-scan pruning) should NOT force this shape: re-read-
    and-rewrite of every touched partition makes each trigger O(table);
    use an idempotent per-batch append log instead
    (streaming/semantic_dedup._append_bands).
    """
    bucket = F.pmod(F.hash(F.col(key)), F.lit(num_buckets)).cast("int")
    batch_df = batch_df.withColumn(BUCKET_COL, bucket).localCheckpoint()
    merged = None
    try:
        touched = [
            r[BUCKET_COL]
            for r in batch_df.select(BUCKET_COL).distinct().collect()
        ]
        if not touched:
            return
        out = batch_df
        if _fs_exists(spark, path):
            existing = spark.read.parquet(path).filter(
                F.col(BUCKET_COL).isin(touched)
            )
            keep = anti_join(existing, batch_df.select(key), [key])
            out = merged = keep.unionByName(batch_df).localCheckpoint()
        (
            out.repartition(spark.sparkContext.defaultParallelism, BUCKET_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
    finally:
        release_checkpoint(batch_df, merged)


def read_upserted(spark: SparkSession, path: str) -> DataFrame:
    """Read an :func:`upsert_by_key` table without its layout column."""
    return spark.read.parquet(path).drop(BUCKET_COL)


def run_streaming_recommender(
    events_stream: DataFrame,
    sim_flat: DataFrame,
    seen_ratings: DataFrame,
    recent_ratings: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Wire the cycle into writeStream.foreachBatch (T1/T3).

    ``events_stream``: streaming DF with (userId, productId, score, ts).
    Trigger default matches the reference's 2 s micro-batch
    (StreamingRecommender.scala:70).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recs = stream_recs_for_events(
            batch_df, sim_flat, seen_ratings, recent_ratings
        )
        upsert_by_key(spark, recs, out_path)

    writer = events_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"processingTime": "2 seconds"}))
    return writer.start()
