"""Property tests for the ALS recommender (SURVEY.md §5: strictly stronger
than the reference, which has no tests at all)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from myrecommendsystem_spark.io import fixtures
from myrecommendsystem_spark.ml import als as als_mod
from myrecommendsystem_spark.ml.tuner import grid_search_als


@pytest.fixture(scope="module")
def ratings(spark):
    df = fixtures.make_ratings(
        spark, n_rows=4000, n_users=200, n_products=40
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def model(ratings):
    return als_mod.train_als(ratings, rank=8, max_iter=5)


def test_fixture_properties(ratings):
    """FIXTURES.md §2.2 constraints on the generated corpus."""
    agg = ratings.agg(
        F.countDistinct("userId").alias("users"),
        F.countDistinct("productId").alias("products"),
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
    ).first()
    assert agg.products == 40
    assert 0.5 <= agg.lo and agg.hi <= 5.0
    # at least one user with >20 ratings (top-k truncation case)
    heavy = ratings.groupBy("userId").count().filter("count > 20").count()
    assert heavy >= 1
    # duplicate (user, product) pairs exist
    dups = (
        ratings.groupBy("userId", "productId").count().filter("count > 1").count()
    )
    assert dups >= 1
    # scores on both sides of the streaming pivot (score > 3 vs <= 3)
    assert ratings.filter("score > 3").count() > 0
    assert ratings.filter("score <= 3").count() > 0


def test_user_recs_flat_shape(model):
    flat = als_mod.user_recs_flat(model, k=10)
    per_user = flat.groupBy("userId").agg(
        F.count("*").alias("n"),
        F.min("rnk").alias("rmin"),
        F.max("rnk").alias("rmax"),
    )
    bad = per_user.filter(
        (F.col("n") > 10) | (F.col("rmin") != 1) | (F.col("rmax") != F.col("n"))
    )
    assert bad.count() == 0
    # scores non-increasing in rank within each user
    w_bad = (
        flat.alias("a")
        .join(
            flat.alias("b"),
            (F.col("a.userId") == F.col("b.userId"))
            & (F.col("a.rnk") + 1 == F.col("b.rnk")),
        )
        .filter(F.col("a.score") < F.col("b.score"))
    )
    assert w_bad.count() == 0


def test_user_recs_nested_shape(model):
    nested = als_mod.user_recs(model, k=10)
    assert nested.schema["recs"].dataType.simpleString() == (
        "array<struct<productId:int,score:double>>"
    )
    row = nested.first()
    scores = [r["score"] for r in row["recs"]]
    assert scores == sorted(scores, reverse=True)
    assert len(scores) <= 10


def test_item_similarities_exact(model):
    factors = als_mod.item_factors_df(model)
    sims = als_mod.item_similarities(factors, threshold=0.6, method="exact")
    rows = sims.collect()
    assert rows, "expected some similar pairs above 0.6"
    for r in rows:
        assert r.pid != r.other_pid
        assert 0.6 < r.sim <= 1.0001
    # symmetry: (a,b) present ⇒ (b,a) present with same sim
    pairs = {(r.pid, r.other_pid): r.sim for r in rows}
    for (a, b), s in pairs.items():
        assert math.isclose(pairs[(b, a)], s, abs_tol=1e-6)


def test_item_similarities_hand_built_factors(spark):
    """Cosines 1·2 = 0.6, 1·3 = 0.8, 2·3 = 0.96: the pair at exactly the
    threshold is dropped by the reference's strict ``>``, the rest come
    back in both directions."""
    factors = spark.createDataFrame(
        [(1, [5.0, 0.0]), (2, [3.0, 4.0]), (3, [4.0, 3.0])],
        "productId int, features array<double>",
    )
    sims = als_mod.item_similarities(factors, threshold=0.6, method="exact")
    assert sorted(tuple(r) for r in sims.collect()) == [
        (1, 3, 0.8),
        (2, 3, 0.96),
        (3, 1, 0.8),
        (3, 2, 0.96),
    ]
    empty = als_mod.item_similarities(
        factors.limit(0), threshold=0.6, method="exact"
    )
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("pid", "int"),
        ("other_pid", "int"),
        ("sim", "double"),
    ]


def test_product_recs_bounded(model):
    factors = als_mod.item_factors_df(model)
    sims = als_mod.item_similarities(factors, threshold=0.3, method="exact")
    recs = als_mod.product_recs(sims, k=5)
    row = recs.first()
    assert len(row["recs"]) <= 5
    scores = [r["score"] for r in row["recs"]]
    assert scores == sorted(scores, reverse=True)


def test_grid_search_returns_best(ratings):
    best, results = grid_search_als(
        ratings, ranks=(4, 8), regs=(0.5, 0.05), max_iter=3
    )
    rows = results.collect()
    assert len(rows) == 4
    assert best.rmse == min(r.rmse for r in rows)
    # sanity: RMSE should beat predicting nothing (score std is ~1.2)
    assert best.rmse < 2.5


def test_rmse_parity_with_reference_quality_bar(spark):
    """Production ALS config (rank=50, iter=5, reg=0.01 —
    OfflineRecommender.scala:66) on a reference-shaped corpus with real
    latent structure must beat the reference's recorded hold-out RMSE of
    1.2837 (ALSTrainer.scala:47, 80/20 split)."""
    ratings = fixtures.make_structured_ratings(spark).cache()
    train, test = ratings.randomSplit([0.8, 0.2], seed=7)
    model = als_mod.train_als(train, rank=50, max_iter=5, reg_param=0.01)
    pred = model.transform(test.select("userId", "productId", "score"))
    rmse = pred.agg(
        F.sqrt(F.avg((F.col("prediction") - F.col("score")) ** 2)).alias("rmse")
    ).first().rmse
    assert rmse is not None and rmse <= 1.2837, f"RMSE {rmse} above reference bar"


@pytest.mark.skipif(
    not os.environ.get("MRS_FULL_GRID"),
    reason="opt-in (MRS_FULL_GRID=1): the reference's full 3×4 grid "
    "(ALSTrainer.scala:55) — 12 ALS fits, minutes of wall time",
)
def test_reference_scale_grid_search(spark):
    """Run the tuner over the reference's ACTUAL search space
    (rank ∈ {100,200,250} × λ ∈ {1,0.1,0.01,0.001}) at reduced data
    scale: 12 grid points all evaluated, metrics finite, best is min."""
    from myrecommendsystem_spark.io.fixtures import make_structured_ratings

    ratings = make_structured_ratings(
        spark, n_rows=6000, n_users=400, n_products=60
    ).withColumnRenamed("timestamp", "ts")
    best, results = grid_search_als(ratings)  # defaults ARE the ref grid
    rows = results.collect()
    assert len(rows) == 12
    assert all(r.rmse == r.rmse for r in rows)  # no NaNs
    assert best.rmse == min(r.rmse for r in rows)


def test_next_item_examples_semantics(spark):
    from myrecommendsystem_spark.ml.examples import next_item_examples
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, 10, 4.0, t0),
        (1, 11, 3.0, t0 + dt.timedelta(hours=1)),
        (1, 12, 5.0, t0 + dt.timedelta(hours=2)),
        (1, 13, 2.0, t0 + dt.timedelta(hours=3)),
        (2, 99, 1.0, t0),  # single interaction → no example
    ]
    ratings = spark.createDataFrame(
        rows, "userId int, productId int, score double, ts timestamp"
    )
    out = {
        (r.userId, r.label): r.history
        for r in next_item_examples(ratings, history_k=2).collect()
    }
    # first interaction dropped; history is chronological and k-capped
    assert out == {
        (1, 11): "10",
        (1, 12): "10,11",
        (1, 13): "11,12",  # k=2 cap drops item 10
    }


def test_implicit_als_trains_and_recommends(spark, sf_dir):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.ml import als as als_mod

    ratings = readers.events_as_ratings(spark, sf_dir).select(
        "userId", "productId", "score"
    )
    model = als_mod.train_als(
        ratings, rank=4, max_iter=2, implicit_prefs=True, alpha=40.0
    )
    recs = als_mod.user_recs_flat(model, k=5)
    assert recs.count() > 0
    # implicit scores are preference estimates, not rating predictions
    top = recs.filter(recs.rnk == 1).limit(5).collect()
    assert all(r.rnk == 1 for r in top)


def test_session_examples_history_never_crosses_gap(spark):
    from myrecommendsystem_spark.ml.examples import session_next_item_examples
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, 10, 4.0, t0),
        (1, 11, 3.0, t0 + dt.timedelta(minutes=5)),
        # 2-hour gap: new session — history must reset
        (1, 12, 5.0, t0 + dt.timedelta(hours=2, minutes=5)),
        (1, 13, 2.0, t0 + dt.timedelta(hours=2, minutes=10)),
    ]
    ratings = spark.createDataFrame(
        rows, "userId int, productId int, score double, ts timestamp"
    )
    out = {
        (r.userId, r.label): (r.session_id, r.history)
        for r in session_next_item_examples(ratings, history_k=3).collect()
    }
    assert out == {
        (1, 11): (1, "10"),
        (1, 13): (2, "12"),  # session 2: item 12 only; 10,11 never leak in
    }
