"""Cache-hygiene pins — no corpus-sized persist outlives its operator.

Operators that persist shared intermediates (dedup
signature tables, TF-IDF weights, PMI baskets) must release them once
the small result materializes (``functions.caching.eager_release``), or
a long-lived multi-query session accumulates cached blocks until LRU
eviction.  These tests assert the contract directly via the JVM's
persistent-RDD registry: each call may leave at most ONE resident entry
— the checkpointed result itself, freed when the DataFrame is GC'd.
"""

from __future__ import annotations

import pytest

from myrecommendsystem_spark.operators import dedup
from myrecommendsystem_spark.functions import text as TXT


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"the quick brown fox jumps over lazy dog number {i % 7} again")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.mark.parametrize(
    "build",
    [
        lambda d: dedup.minhash_near_duplicates(d, jaccard_threshold=0.5),
        lambda d: dedup.simhash_near_duplicates(d),
        lambda d: dedup.ngram_jaccard_dedup_pairs(d, threshold=0.3),
        lambda d: dedup.substring_overlap_pairs(d, window=8, min_shared=2),
        lambda d: dedup.minhash_cross_corpus_pairs(d.limit(20), d),
        lambda d: TXT.tfidf_cosine_pairs(d, threshold=0.5),
    ],
    ids=[
        "minhash_near_dups",
        "simhash",
        "ngram_jaccard",
        "substring_overlap",
        "cross_corpus",
        "tfidf_cosine",
    ],
)
def test_operator_releases_intermediate_caches(spark, docs, build):
    before = _n_persistent(spark)
    result = build(docs)
    after = _n_persistent(spark)
    # at most the checkpointed result survives; the corpus-sized
    # intermediates (signatures, weights, fingerprints) must be gone
    assert after - before <= 1, (
        f"operator leaked {after - before - 1} cached intermediate(s)"
    )
    assert result.count() >= 0  # checkpointed result stays consumable


def test_pmi_query_releases_basket_cache(spark):
    from myrecommendsystem_spark.plans import registry

    before = _n_persistent(spark)
    df = registry.all_queries()["product_cooccurrence_pmi"](
        spark, "/root/testdata/sf0.001"
    )
    after = _n_persistent(spark)
    assert after - before <= 1
    assert df.count() >= 0
