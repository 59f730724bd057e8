"""Laws of the analytics queries: decayed popularity, Zipf fit,
user-user CF, the k-means cluster profile, CDC apply and edit-distance
pairs.

Oracle parity for the three gated queries runs in
tests/test_registry_oracle.py; these tests pin the semantic laws the
hash comparison can't express (monotonicity, symmetry, sign, totals).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myrecommendsystem_spark.plans.analytics_queries import (
    corpus_zipf_fit,
    embedding_kmeans_clusters,
    product_popularity_decayed,
    usercf_similarities,
)

SF = "/root/testdata/sf0.001"


def test_decayed_popularity_recency_dominates(spark):
    """Two products with identical score mass: the one rated entirely at
    the corpus max-timestamp must out-score the one rated a week earlier
    by ~2x (7-day half-life)."""
    rows = [
        (1, 100, 4.0, "2024-01-08 00:00:00"),
        (2, 200, 4.0, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "userId int, productId int, score double, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    # Re-run the decay aggregation inline (same formula as the query).
    from myrecommendsystem_spark.plans.analytics_queries import _DECAY_LAMBDA

    mx = df.agg(F.max(F.unix_timestamp("ts")).alias("max_sec"))
    age = (F.col("max_sec") - F.unix_timestamp("ts")) / 86400.0
    out = {
        r["productId"]: r["d"]
        for r in df.crossJoin(F.broadcast(mx))
        .groupBy("productId")
        .agg(F.sum(F.col("score") * F.exp(-_DECAY_LAMBDA * age)).alias("d"))
        .collect()
    }
    assert out[100] == pytest.approx(4.0)
    assert out[200] == pytest.approx(2.0, rel=1e-6)  # one half-life older


def test_decayed_popularity_runs_and_sorted(spark):
    rows = product_popularity_decayed(spark, SF).collect()
    assert rows, "non-empty at smoke scale"
    scores = [(r["decayed_score"], r["productId"]) for r in rows]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    # decayed mass never exceeds raw mass and is positive
    assert all(0 < r["decayed_score"] for r in rows)


def test_zipf_slope_negative_high_r2(spark):
    row = corpus_zipf_fit(spark, SF).collect()[0]
    assert row["n_terms"] > 10  # sf0.001 vocabulary is ~31 terms
    assert row["zipf_slope"] < 0, "frequency must fall with rank"
    assert 0.0 <= row["zipf_r2"] <= 1.0


def test_usercf_symmetric_and_bounded(spark):
    sims = usercf_similarities(spark, SF)
    rows = sims.collect()
    assert rows, "non-vacuous at smoke scale"
    by_pair = {(r["uid"], r["other_uid"]): r["sim"] for r in rows}
    for (u, v), s in by_pair.items():
        assert 0.0 < s <= 1.0 + 1e-9
        assert by_pair.get((v, u)) == pytest.approx(s), "cosine is symmetric"
        assert u != v


def test_kmeans_clusters_partition_the_corpus(spark):
    out = embedding_kmeans_clusters(spark, SF).collect()
    total = sum(r["n_vectors"] for r in out)
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert total == n, "nprobe=1 assignment partitions the corpus exactly"
    assert 1 <= len(out) <= 8


def test_cdc_apply_last_writer_wins_and_tombstones(spark):
    from myrecommendsystem_spark.operators.incremental import cdc_apply

    ops = spark.createDataFrame(
        [
            # key (1,1): upsert then delete → gone
            (1, 1, "upsert", 1.0, 10, 100),
            (1, 1, "delete", 0.0, 20, 101),
            # key (1,2): delete then upsert → survives with latest value
            (1, 2, "delete", 0.0, 10, 102),
            (1, 2, "upsert", 7.0, 20, 103),
            # key (2,1): equal ts — tiebreak on op_id picks the later row
            (2, 1, "upsert", 3.0, 30, 104),
            (2, 1, "upsert", 9.0, 30, 105),
        ],
        "u int, p int, op string, v double, ts int, op_id int",
    )
    out = {
        (r["u"], r["p"]): (r["op"], r["v"])
        for r in cdc_apply(
            ops, ["u", "p"], "ts", "op", "delete", tiebreak_col="op_id"
        ).collect()
    }
    assert (1, 1) not in out, "trailing delete tombstones the key"
    assert out[(1, 2)] == ("upsert", 7.0), "delete-then-upsert resurrects"
    assert out[(2, 1)] == ("upsert", 9.0), "equal-ts tiebreak deterministic"


def test_edit_distance_pairs_covers_all_edit_kinds(spark):
    from myrecommendsystem_spark.operators.dedup import edit_distance_pairs

    vals = ["cat", "cta", "cut", "cart", "at", "dog", "café", "cafe"]
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    pairs = {
        (r["val_a"], r["val_b"]): r["lev"]
        for r in edit_distance_pairs(df, "name").collect()
    }
    assert pairs[("cat", "cut")] == 1  # substitution
    assert pairs[("cart", "cat")] == 1  # deletion
    assert pairs[("at", "cat")] == 1  # insertion
    assert ("cat", "dog") not in pairs  # distance 3
    assert ("cat", "cta") not in pairs  # transposition is distance 2
    assert pairs[("cafe", "café")] == 1  # unicode substitution
