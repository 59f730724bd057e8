"""Bloom-filter runtime pre-filtering for selective joins.

The 100 TB problem: a fact⋈dim join where the dim side is selective
(a filtered customer segment, an allow-list, yesterday's active users)
still shuffles EVERY fact row before the join discards most of them.
Engines solve this with runtime filters — build a compact membership
sketch on the build side, broadcast it, and drop probe rows BEFORE the
exchange (Spark's own `spark.sql.optimizer.runtimeFilter.*`, Trino's
dynamic filtering).  This module implements the pattern explicitly as a
composable operator so the plan shape is inspectable and testable:

1. BUILD — hash every build-side key to ``n_hashes`` bit positions with
   Spark's own ``xxhash64`` (seeded by hashing (key, i) — build and
   probe use the identical JVM hash, so there are no false negatives by
   construction), OR the positions into ``n_bits/64`` packed BIGINT
   words.  The word array is tiny (m/8 bytes — 16 KiB for the default
   2^17 bits) and reaches the probe as a 1-row broadcast relation, like
   Spark's own runtime filters.
2. PROBE — a pure-Catalyst predicate: ``getbit(element_at(words,
   pos/64 + 1), pos%64) = 1`` for every seed.  Whole-stage codegen, no
   Python, evaluated at the scan before any exchange.
3. JOIN — the real join runs on survivors; Bloom false positives are
   removed here, so the composition is EXACTLY equivalent to the plain
   join (gated by `bloom_prefilter_join`'s DuckDB oracle).

Sizing: default 2^17 bits / 7 hashes holds ~10k keys at <1% FP — FP
rate only costs shuffled-then-dropped rows, never correctness.  The
build side collects only packed words (n_bits/64 longs), not keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_N_BITS = 1 << 17
DEFAULT_N_HASHES = 7


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    # k independent hashes via xxhash64(key, seed-column) — the seed is
    # part of the hashed tuple, the standard "salted hash family" trick;
    # identical expression on build and probe sides.
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    n_bits: int = DEFAULT_N_BITS,
    n_hashes: int = DEFAULT_N_HASHES,
) -> list[int]:
    """Distributed build → packed signed-64-bit words (length n_bits/64).

    The heavy part (hashing every build row) is distributed; only the
    DISTINCT bit positions (≤ n_hashes·|keys|, integers) reach the
    driver, where they are OR-packed into words.  For the selective-dim
    use case the build side is small by contract — the same smallness
    that makes the join broadcastable makes the positions collectable.
    """
    assert n_bits % 64 == 0
    # no .distinct(): that would add a full shuffle to dedupe a small
    # integer list the driver dedupes for free while OR-packing
    pos_rows = keys.select(
        F.explode(
            F.array(*_positions(F.col(key_col), n_bits, n_hashes))
        ).alias("pos")
    ).collect()
    words = [0] * (n_bits // 64)
    for r in pos_rows:
        p = r["pos"]
        words[p // 64] |= 1 << (p % 64)
    # Spark BIGINT is signed — wrap the top bit
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(
    words: list[int] | Column,
    key: Column,
    n_bits: int = DEFAULT_N_BITS,
    n_hashes: int = DEFAULT_N_HASHES,
) -> Column:
    """Pure-Catalyst membership predicate (codegen, no Python).

    ``getbit(element_at(words, pos/64 + 1), pos%64)`` for each of the
    ``n_hashes`` positions; all bits set → possible member.  False
    positives possible (bounded by sizing), false negatives impossible
    (same xxhash64 expression as the build side).

    ``words`` may be the packed list itself (inlined as a literal —
    fine for tests/small filters) or a Column referencing an
    array<bigint> attribute (the production path: the probe references
    ONE broadcast-joined attribute instead of embedding n_hashes copies
    of the word array in the plan).
    """
    if isinstance(words, Column):
        arr = words
    else:
        # explicit cast: small word values (e.g. the all-zero filter of
        # an empty build side) would infer array<int>, and getbit on int
        # only addresses bits [0, 32)
        arr = F.lit(words).cast("array<bigint>")
    pred = F.lit(True)
    for pos in _positions(key, n_bits, n_hashes):
        word = F.element_at(arr, (pos / F.lit(64)).cast("int") + F.lit(1))
        pred = pred & (F.getbit(word, pos % F.lit(64)) == F.lit(1))
    return pred


def bloom_prefiltered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = DEFAULT_N_BITS,
    n_hashes: int = DEFAULT_N_HASHES,
) -> DataFrame:
    """fact ⋈ dim (inner) with a Bloom pre-filter on the fact side.

    Row-for-row equivalent to the plain inner join: the filter admits a
    superset of matching fact rows (no false negatives) and the join
    itself removes false positives.  What changes is WHERE rows die —
    before the shuffle, in the scan stage — which at 100 TB is the
    difference between exchanging the full fact table and exchanging
    the ~selectivity fraction that can match.  ``dim`` is small by
    contract (its bit positions are collected), so the join broadcasts
    it; pass it without a broadcast hint, which would otherwise dangle
    on the build-side collect.
    """
    # no key-dedup pass: duplicate build keys just OR the same bits again
    words = build_bloom_words(dim.select(dim_key), dim_key, n_bits, n_hashes)
    # ship the packed words as a 1-row broadcast relation, not a plan
    # literal: the n_hashes probe expressions then all reference a single
    # array attribute (a 16 KiB broadcast) instead of inlining n_hashes
    # copies of the word array into every task's serialized plan
    words_df = fact.sparkSession.createDataFrame(
        [(words,)], "__bloom_words array<bigint>"
    )
    survivors = (
        fact.crossJoin(F.broadcast(words_df))
        .filter(
            bloom_might_contain(
                F.col("__bloom_words"), F.col(fact_key), n_bits, n_hashes
            )
        )
        .drop("__bloom_words")
    )
    return survivors.join(
        F.broadcast(dim), survivors[fact_key] == dim[dim_key]
    )
