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
- findAndRemove+insert → append to a batch-id log, read latest per key (S10)

The whole cycle is a pure DataFrame function (``stream_recs_for_events``)
so it runs identically inside ``writeStream.foreachBatch`` and in batch
tests — and the correctness gate can execute it without a streaming
runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

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


#: ``batch_id`` that :func:`compact_log` folds a log's rows under.
#: Structured Streaming batch ids are non-negative, so it never collides
#: with a trigger's subtree and sorts below every one of them.
COMPACTED_EPOCH = -1

_COMMITTED = "_COMMITTED"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: the log resolves whatever
    filesystem the path's scheme names (local, hdfs://, s3a://)."""
    hadoop_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hadoop_path.getFileSystem(conf), hadoop_path


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API, unlike
    ``os.path.exists``, which silently answers False for any non-local
    URI."""
    fs, hadoop_path = _fs(spark, path)
    return bool(fs.exists(hadoop_path))


def _snapshot(spark: SparkSession, path: str) -> str:
    """Directory that holds the log at ``path``: the newest ``_v<k>``
    snapshot whose commit marker :func:`compact_log` created, else
    ``path`` itself.  Every read and append resolves the log here."""
    path = path.rstrip("/")
    fs, marks = _fs(spark, f"{path}/_v*/{_COMMITTED}")
    versions = [
        int(m.getPath().getParent().getName()[2:])
        for m in fs.globStatus(marks) or []
    ]
    return f"{path}/_v{max(versions)}" if versions else path


def _holds_batches(spark: SparkSession, snap: str) -> bool:
    """Whether ``snap`` holds a ``batch_id`` subtree; a log directory
    without one has no schema Spark can read."""
    fs, subtrees = _fs(spark, f"{snap}/batch_id=*")
    return bool(fs.globStatus(subtrees))


def upsert_by_key(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    part_col: str | None = None,
) -> None:
    """Append one micro-batch to the batch-id log at ``path`` (S10).

    Reference: per-user ``findAndRemove`` + ``insert``
    (StreamingRecommender.scala:254-263).  Here the batch's rows are
    written, tagged with ``batch_id``, into their own ``batch_id=<n>``
    subtree (under ``part_col`` partitions if given), and
    :func:`read_upserted` takes each key's rows from its latest batch, so
    a re-arriving key replaces its old rows as a set.  The write reads
    nothing and passes ``partitionOverwriteMode=dynamic`` as its own
    option: it replaces only its own subtree and leaves the session's
    conf alone.  A replayed batch gets the same ``batch_id`` from
    ``foreachBatch`` and rewrites the same subtree, so a crash anywhere
    in the write loses nothing the replay does not rewrite.  An empty
    batch leaves the log as it was: a first write that produced no
    subtree removes the directory it created, which would otherwise be
    unreadable.
    """
    snap = _snapshot(spark, path)
    (
        batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", *([part_col] if part_col else []))
        .parquet(snap)
    )
    if not _holds_batches(spark, snap):  # an empty first batch
        fs, snap_path = _fs(spark, snap)
        fs.delete(snap_path, True)


def read_log(
    spark: SparkSession, path: str, before: int | None = None
) -> DataFrame:
    """Every row of the log at ``path`` with its ``batch_id``;
    ``before=n`` keeps the batches before ``n``."""
    log = spark.read.parquet(_snapshot(spark, path))
    return log if before is None else log.filter(F.col("batch_id") < before)


def read_upserted(
    spark: SparkSession,
    path: str,
    key: str = "userId",
    before: int | None = None,
) -> DataFrame:
    """The log at ``path`` as a table: each key's rows from its highest
    ``batch_id`` (before ``before``, if given), without ``batch_id``.
    Inside trigger ``n``, ``before=n`` reads the state the trigger's
    first attempt read, not that attempt's own append."""
    return latest_per_key(read_log(spark, path, before), key)


def latest_per_key(log: DataFrame, key: str) -> DataFrame:
    """Each key's rows from its highest ``batch_id`` in ``log`` (rows of
    a log as :func:`read_log` returns them), without ``batch_id``.  A
    filter on ``key`` applied to ``log`` keeps, for every key it
    passes, the same rows as applied to the result."""
    latest = F.max("batch_id").over(Window.partitionBy(key))
    return (
        log.withColumn("_latest", latest)
        .filter(F.col("batch_id") == F.col("_latest"))
        .drop("batch_id", "_latest")
    )


def compact_log(
    spark: SparkSession,
    path: str,
    key: str,
    part_col: str | None = None,
    before: int | None = None,
) -> None:
    """Fold the log at ``path`` into each key's latest rows, all under
    :data:`COMPACTED_EPOCH`, so later reads scan one subtree per
    ``part_col`` value instead of one per trigger.  ``before=n`` folds
    the batches before ``n`` and drops the rest: inside trigger ``n``
    those can only be an earlier attempt of ``n``, which the trigger
    rewrites.

    The folded rows go to a new snapshot directory ``<path>/_v<k+1>``;
    creating its commit marker is the one step that switches every
    reader and writer to it.  Only then is everything else under
    ``path`` deleted.  A crash before the marker leaves the old snapshot
    current (the next compaction overwrites the debris); a crash after it
    leaves only garbage the next compaction deletes.  Run it between
    triggers: while the stream is stopped, or from ``foreachBatch``
    (``run_semantic_dedup_stream(compact_every=N)``).
    """
    if not _fs_exists(spark, path):  # the stream never wrote
        return
    path = path.rstrip("/")
    snap = _snapshot(spark, path)
    version = int(snap.rsplit("/_v", 1)[1]) if snap != path else 0
    target = f"_v{version + 1}"
    kept = read_upserted(spark, path, key, before).withColumn(
        "batch_id", F.lit(COMPACTED_EPOCH).cast("long")
    )
    if part_col:  # one file per part_col directory
        kept = kept.repartition(part_col)
    kept.write.mode("overwrite").partitionBy(
        "batch_id", *([part_col] if part_col else [])
    ).parquet(f"{path}/{target}")
    fs, root = _fs(spark, path)
    if not _holds_batches(spark, f"{path}/{target}"):
        fs.delete(root, True)  # nothing to keep: no log, as before a write
        return
    fs.create(_fs(spark, f"{path}/{target}/{_COMMITTED}")[1], False).close()
    for child in fs.listStatus(root):
        if child.getPath().getName() != target:
            fs.delete(child.getPath(), True)


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
    (StreamingRecommender.scala:70).  ``out_path`` is a batch-id log
    (:func:`upsert_by_key`); read it with :func:`read_upserted`.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recs = stream_recs_for_events(
            batch_df, sim_flat, seen_ratings, recent_ratings
        )
        upsert_by_key(spark, recs, out_path, batch_id)

    writer = events_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"processingTime": "2 seconds"}))
    return writer.start()
