"""Item-based collaborative-filtering similarity — deterministic, SQL-parity.

The reference's only item-item similarity source is the ALS factor matrix
(OfflineRecommender.scala:92-109), which is iterative and seed-dependent —
fine for recommendations, useless as a DuckDB-oracle subject.  This module
computes the classic item-CF cosine over the raw rating vectors instead:

    sim(i, j) = Σ_u r_ui · r_uj  /  (‖r_i‖₂ · ‖r_j‖₂)

which is exactly expressible in ANSI SQL (self-join on userId + grouped
sums), making the full streaming-recommender cycle oracle-checkable end to
end.  It is also a real capability the reference lacks: item-CF without
training a model.

Scale notes: the userId self-join produces Σ_u n_u² pairs — a power-law
"whale" user with 10⁵ ratings alone yields 10¹⁰ pairs.  ``per_user_cap``
bounds this by pre-compacting each user to their most recent K ratings
(the same recent-K state the streaming job keeps), making pair volume
O(users · K²) and the shuffle key (pid, other_pid) well-distributed.
The cap defaults ON (K=20, matching the reference's Redis recent-K list,
StreamingRecommender.scala:48) — the uncapped exact cosine is an explicit
opt-in via ``per_user_cap=None``, not a scale trap a caller falls into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from myrecommendsystem_spark.functions.compat import round_stable
from myrecommendsystem_spark.operators.relational import top_k_per_group


DEFAULT_PER_USER_CAP = 20


def corating_similarities(
    ratings: DataFrame,
    threshold: float = 0.6,
    per_user_cap: int | None = DEFAULT_PER_USER_CAP,
) -> DataFrame:
    """Thresholded item-item cosine over co-ratings.

    ``ratings``: (userId, productId, score[, ts]).  Returns both directions
    (pid, other_pid, sim) with pid != other_pid and sim > threshold —
    the same shape OfflineRecommender.scala:99-109 produces from factors.

    ``per_user_cap``: bound each user's contribution to their most recent
    K ratings before pairing (requires a ``ts`` column) — the 100 TB knob.
    Defaults to 20 (the reference's recent-K); pass ``None`` for the exact
    uncapped cosine (Σ_u n_u² pairs — safe only for bounded user activity).
    """
    if per_user_cap is not None:
        ratings = top_k_per_group(
            ratings,
            ["userId"],
            [F.col("ts").desc(), F.col("productId").desc(), F.col("score").desc()],
            per_user_cap,
        ).drop("rnk")

    # Mean-collapse duplicate (user, product) ratings so each user is one
    # coordinate of the item vector and sim is a true cosine in [0, 1].
    r = (
        ratings.select("userId", "productId", "score")
        .groupBy("userId", "productId")
        .agg(F.avg("score").alias("score"))
    )

    # Single-lineage plan: the norm rides ``r`` as
    # a productId-window aggregate instead of a separate ``groupBy(productId)``
    # relation joined back onto the pair aggregate.  The old shape computed
    # the scan→cap→collapse subtree FOUR times (both pair sides + both norm
    # legs) and shuffled the O(users·K²) pair relation three times (its own
    # aggregation + one join per norm leg); this shape scans once and
    # shuffles the pair relation once.  Values differ from the old plan only
    # by float summation order, which ``round_stable``'s epsilon absorbs by
    # design (compat.py) — the DuckDB oracle hashes are unchanged.
    w = Window.partitionBy("productId")
    rn = r.withColumn(
        "norm", F.sqrt(F.sum(F.col("score") * F.col("score")).over(w))
    )

    a = rn.select(
        "userId",
        F.col("productId").alias("pid"),
        F.col("score").alias("score_a"),
        F.col("norm").alias("norm_a"),
    )
    b = rn.select(
        "userId",
        F.col("productId").alias("other_pid"),
        F.col("score").alias("score_b"),
        F.col("norm").alias("norm_b"),
    )
    # norm_a/norm_b are constant within a (pid, other_pid) group; max()
    # just carries them through the aggregate, so no join-back is needed.
    # (A pid < other_pid triangle + mirrored-emit variant was measured and
    # rejected: the mirror's explode/union emits fresh columns Catalyst
    # cannot trace to the child partitioning, so every downstream per-pid
    # consumer re-shuffles — product_graph_triangles' executed plan grew
    # 4 → 8 Exchanges.  Keeping both directions lets the pair aggregate
    # and the per-pid consumers ride the single hash(productId) exchange.)
    sims = (
        a.join(b, "userId")
        .filter(F.col("pid") != F.col("other_pid"))
        .groupBy("pid", "other_pid")
        .agg(
            F.sum(F.col("score_a") * F.col("score_b")).alias("dot"),
            F.max("norm_a").alias("norm_a"),
            F.max("norm_b").alias("norm_b"),
        )
        .select(
            "pid",
            "other_pid",
            round_stable(
                F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 4
            ).alias("sim"),
        )
    )
    return sims.filter(F.col("sim") > threshold)
