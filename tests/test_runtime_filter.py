"""Bloom runtime pre-filter: equivalence, no-false-negatives, selectivity."""

from __future__ import annotations

from pyspark.sql import functions as F

from myrecommendsystem_spark.operators import runtime_filter as RFil


def _fact(spark, n=5000, key_space=1000):
    return spark.range(n).select(
        (F.col("id") % key_space).alias("k"), F.col("id").alias("v")
    )


def test_bloom_join_equivalent_to_plain_join(spark):
    fact = _fact(spark)
    dim = spark.createDataFrame(
        [(i * 37 % 1000, f"d{i}") for i in range(50)], "dk int, dv string"
    ).withColumn("dk", F.col("dk").cast("long"))
    got = RFil.bloom_prefiltered_join(fact, dim, "k", "dk")
    want = fact.join(dim, fact.k == dim.dk)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_bloom_no_false_negatives_on_build_keys(spark):
    dim = spark.range(0, 700, 7).select(F.col("id").alias("dk"))
    words = RFil.build_bloom_words(dim, "dk")
    kept = dim.filter(RFil.bloom_might_contain(words, F.col("dk"))).count()
    assert kept == dim.count()  # every inserted key must pass


def test_bloom_prefilter_drops_most_nonmatching_rows(spark):
    fact = _fact(spark, n=20_000, key_space=10_000)
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))  # 0.1% of keys
    words = RFil.build_bloom_words(dim, "dk")
    survivors = fact.filter(RFil.bloom_might_contain(words, F.col("k")))
    # true match rate 0.1%; default sizing holds FP under ~1% → generous 5%
    assert survivors.count() < 0.05 * fact.count()


def test_bloom_predicate_is_catalyst_side(spark):
    fact = _fact(spark, n=100)
    words = RFil.build_bloom_words(
        spark.range(5).select(F.col("id").alias("dk")), "dk"
    )
    plan = fact.filter(
        RFil.bloom_might_contain(words, F.col("k"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "getbit" in plan and "pythonUDF" not in plan


def test_bloom_empty_dim_yields_empty_join(spark):
    fact = _fact(spark, n=100)
    dim = spark.createDataFrame([], "dk long, dv string")
    assert RFil.bloom_prefiltered_join(fact, dim, "k", "dk").count() == 0


def test_bloom_words_ride_one_broadcast_relation(spark):
    """The packed words reach the probe as a broadcast 1-row relation
    (one array attribute referenced by every hash probe), not as plan
    literals, and the dim side of the real join is broadcast too."""
    fact = _fact(spark, n=100)
    dim = spark.range(5).select(F.col("id").alias("dk"))
    plan = (
        RFil.bloom_prefiltered_join(fact, dim, "k", "dk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan and "__bloom_words" in plan
    assert "BroadcastHashJoin" in plan
