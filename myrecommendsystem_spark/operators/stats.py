"""Batch statistics operators — the StatisticsRecommender module, Spark-first.

Reference: ``/root/reference/recommender/StatisticsRecommender/src/main/scala/
com/ng/statistics/StatisticsRecommender.scala`` (SQL strings at :54, :79-86,
:101).  Three derived tables over the ratings relation:

- RateMoreProducts          — per-product rating count (A1)
- RateMoreRecentlyProducts  — per-(period, product) count, recent first (A2+F1+O1)
- AverageProducts           — per-product mean score (A3)

Differences from the reference, on purpose:
- The ``changeDate`` SimpleDateFormat UDF (:73-76) is replaced by the
  built-in ``date_format`` so Catalyst can fold/push it (SURVEY.md §4).
- The reference's first query *comments* "sorted desc" but has no ORDER BY
  (:52-55) — we add the explicit sort and a deterministic productId
  tie-break (SURVEY.md §2.6 O-NB).

All functions take a ratings-shaped DataFrame
``(userId int, productId int, score double, ts timestamp)`` so they run
against reference-shaped fixtures and against the driver's events-derived
ratings alike.  Every aggregate is a ``groupBy().agg()`` — Catalyst plans
partial (map-side) + final aggregation automatically, so each query is one
shuffle on its group key regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from myrecommendsystem_spark.functions.compat import round_stable


def rate_more_products(ratings: DataFrame) -> DataFrame:
    """Per-product rating count, most-rated first (A1).

    Reference: ``select productId, count(productId) as count from ratings
    group by productId`` (StatisticsRecommender.scala:54).
    """
    return (
        ratings.groupBy("productId")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("productId"))
    )


def rate_more_recently_products(
    ratings: DataFrame, period_format: str = "yyyyMM"
) -> DataFrame:
    """Per-(period, product) rating count, recent + popular first (A2).

    Reference: ``changeDate`` UDF to yyyyMM (:73-79) then ``select
    productId, count(productId) as count, yearmonth … group by yearmonth,
    productId order by yearmonth desc, count desc`` (:84-86).

    ``period_format`` defaults to the reference's month granularity; the
    driver's events table spans one month, so callers there use ``yyyyMMdd``.
    The date math is a built-in (no UDF) — it folds into the scan projection.
    """
    period = F.date_format(F.col("ts"), period_format).cast("int").alias("period")
    return (
        ratings.select(period, "productId")
        .groupBy("period", "productId")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("period").desc(), F.col("cnt").desc(), F.col("productId")
        )
    )


def average_products(ratings: DataFrame, ndigits: int = 4) -> DataFrame:
    """Per-product mean score (A3).

    Reference: ``select productId, avg(score) as avg from ratings group by
    productId`` (StatisticsRecommender.scala:101).  Rounded via
    ``round_stable`` so results are stable across summation orders and
    engine rounding modes (see functions.compat).
    """
    return (
        ratings.groupBy("productId")
        .agg(round_stable(F.avg("score"), ndigits).alias("avg_score"))
        .orderBy("productId")
    )


def cusum_alarms(
    daily: DataFrame,
    group_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "avg_value",
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM mean-shift detection per group (Page 1954).

    Input is an already-aggregated series (one row per group × day —
    bounded by calendar × group cardinality, NOT event volume).  Each
    group's series is standardized by its own mean/std (broadcast join
    of per-group moments), then the recursions

        s+_t = max(0, s+_{t-1} + z_t - k)
        s-_t = max(0, s-_{t-1} - z_t - k)

    flag days where either side exceeds ``h``.  The recursion is a
    sequential scan with no relational *window* equivalent (a nonlinear
    prefix op), so it runs as an Arrow kernel via ``applyInPandas``
    keyed on the group — each group's series fits trivially in one
    batch, and groups parallelize across executors.  Output: (group,
    day, value, z, s_hi, s_lo, alarm).  Float outputs follow the
    round_stable convention (+1e-9 then round to 4) so the registry's
    bounded-recursive-CTE DuckDB twin hash-matches; the recursion
    itself accumulates unrounded.
    """
    import pandas as pd

    eps = 1e-9  # compat.round_stable epsilon for digits=4

    moments = daily.groupBy(group_col).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_samp(value_col).alias("_sd"),
    )
    std = daily.join(F.broadcast(moments), group_col).withColumn(
        "_z",
        F.when(
            F.col("_sd").isNull() | (F.col("_sd") == 0.0), F.lit(0.0)
        ).otherwise((F.col(value_col) - F.col("_mu")) / F.col("_sd")),
    )

    out_schema = (
        f"{group_col} string, {day_col} string, {value_col} double, "
        "z double, s_hi double, s_lo double, alarm int"
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(day_col)
        s_hi = s_lo = 0.0
        hi, lo, alarms = [], [], []
        for z in pdf["_z"]:
            s_hi = max(0.0, s_hi + z - k)
            s_lo = max(0.0, s_lo - z - k)
            hi.append(round(s_hi + eps, 4))
            lo.append(round(s_lo + eps, 4))
            alarms.append(int(s_hi > h or s_lo > h))
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                day_col: pdf[day_col].astype(str),
                value_col: [round(v + eps, 4) for v in pdf[value_col]],
                "z": [round(z + eps, 4) for z in pdf["_z"]],
                "s_hi": hi,
                "s_lo": lo,
                "alarm": alarms,
            }
        )

    return (
        std.groupBy(group_col)
        .applyInPandas(scan, schema=out_schema)
        .orderBy(group_col, day_col)
    )


def _cms_idx_cols(key, depth: int, width: int):
    """One index column per sketch row: ``pmod(xxhash64(key, row), width)``
    — the SAME JVM expression feeds the build kernel and the estimate
    lookup, so the two paths are bit-identical by construction (no
    cross-language hash reimplementation to drift)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(d_i)), F.lit(width)).cast("int")
        for d_i in range(depth)
    ]


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 5,
    width: int = 256,
    weight_col: str | None = None,
):
    """Mergeable count-min sketch of a key column (Cormode 2005) —
    returns the depth x width numpy grid (merge = cell-wise addition).

    Executors emit one grid per Arrow batch over JVM-prehashed row
    indexes (seeded ``xxhash64`` + ``pmod`` — no per-row Python, no
    cross-language hashing); grids reduce through a grouped sum keyed
    on the flattened cell position — the same partial ->
    relational-merge shape as the PCA covariance and the HLL merge.
    The 100 TB property: per-slice sketches (per day, per source)
    merge by addition, so a year of daily sketches answers
    point-frequency queries over any date range without re-reading
    events.  Driver traffic is depth x width ints, O(1) in data
    volume; estimates stay distributed via :func:`cms_estimate_col`.

    ``weight_col``: each row adds that column's integer
    weight to its cells instead of 1 — so a caller that already holds
    per-key counts can sketch the AGGREGATED relation.  Cell-identical
    to sketching the raw rows (a cell is the sum of the counts of the
    keys hashing into it), but the Python stage sees one row per key
    instead of one per event — at 100 TB the difference between a
    sketch pass over the corpus and one over its key dictionary.
    """
    import numpy as np
    import pandas as pd

    idx_cols = [
        c.alias(f"i{d_i}")
        for d_i, c in enumerate(_cms_idx_cols(F.col(key_col), depth, width))
    ]
    cols = list(idx_cols)
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("__w"))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            grid = np.zeros((depth, width), dtype=np.int64)
            w = (
                pdf["__w"].to_numpy(dtype=np.int64)
                if weight_col is not None
                else 1
            )
            for d_i in range(depth):
                np.add.at(
                    grid[d_i], pdf[f"i{d_i}"].to_numpy(dtype=np.int64), w
                )
            yield pd.DataFrame({"cells": [grid.reshape(-1).tolist()]})

    part = df.select(*cols).mapInPandas(partials, "cells array<long>")
    rows = (
        part.select(F.posexplode("cells").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    grid = np.zeros(depth * width, dtype=np.int64)
    for r in rows:
        grid[r["pos"]] = r["v"]
    return grid.reshape(depth, width)


KMV_A = 2654435761  # Knuth multiplicative-hash constant (2^32 * phi)
KMV_M = 4294967296  # 2^32 hash range

# Fixed universal-hash rows for the REPLAYABLE count-min sketch (mod-p
# affine family, p = 2^31-1): unlike count_min_sketch's xxhash64 grid,
# these are pure integer arithmetic both Spark and DuckDB evaluate
# identically, so the whole sketch is oracle-replayable.
CMS_REPLAY_P = 2147483647
CMS_REPLAY_WIDTH = 512
CMS_REPLAY_PARAMS = (
    (0, 1103515245, 12345),
    (1, 1588635695, 987654321),
    (2, 1203248318, 55555),
    (3, 567890123, 1357924680),
)


KMV_KEY_M = 2147483648  # 2^31 key pre-mod: keeps key*KMV_A inside BIGINT


def kmv_hash(key: Column) -> Column:
    """Knuth multiplicative hash of one key → [0, 2^32) — the shared
    hash of the KMV sketch family.

    Key contract: keys are pre-folded to [0, 2^31)
    with pmod, so (a) the product key*KMV_A stays < 2^63 — a raw
    BIGINT multiply would raise ARITHMETIC_OVERFLOW under ANSI mode
    (Spark 4 default) for keys ≥ ~3.47e9 — and (b) negative keys hash
    like everything else instead of producing negative remainders
    (Spark % follows the dividend sign) that would sort before every
    real hash and corrupt the k-minimum estimate.  Keys beyond 32 bits
    alias mod 2^31 — the same bounded-key contract cms_replay_bucket
    documents.  Identity-preserving on the common case (0 ≤ key < 2^31
    hashes exactly as the unguarded form did)."""
    folded = F.pmod(key.cast("bigint"), F.lit(KMV_KEY_M))
    return F.pmod(folded * F.lit(KMV_A), F.lit(KMV_M))


def sql_kmv_hash(expr: str) -> str:
    """ANSI-SQL twin of :func:`kmv_hash` (DuckDB % also follows the
    dividend sign, hence the double-mod pmod emulation)."""
    return (
        f"((CAST({expr} AS BIGINT) % {KMV_KEY_M} + {KMV_KEY_M})"
        f" % {KMV_KEY_M} * {KMV_A}) % {KMV_M}"
    )


def kmv_smallest_hashes(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """The k smallest DISTINCT Knuth-hash values of ``key_col`` — the
    KMV (k-minimum-values) distinct-count sketch state (Bar-Yossef et
    al. 2002).  ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject: each partition keeps its own k smallest and
    only k rows per partition reach the driver-side merge — no global
    sort, no full shuffle, which is the whole point at 100 TB.  The
    k-th smallest hash h_(k) estimates distinct ≈ (k-1) * M / h_(k).
    Key range contract: see :func:`kmv_hash`."""
    return (
        df.select(kmv_hash(F.col(key_col)).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def cms_replay_bucket(key, a: int, b: int, width: int = CMS_REPLAY_WIDTH):
    """Bucket index of one replayable-CMS row: ((key*a + b) mod p) mod w,
    exact BIGINT arithmetic (key*a < 2^63 for any 32-bit key)."""
    return (
        (key.cast("bigint") * F.lit(a) + F.lit(b)) % F.lit(CMS_REPLAY_P)
    ) % F.lit(width)


def cms_replay_cells(
    df: DataFrame, key_col: str, width: int = CMS_REPLAY_WIDTH
) -> DataFrame:
    """Replayable count-min sketch as a RELATION (j, bucket, cnt): each
    event explodes to its depth=4 (row, bucket) pairs, then one grouped
    count.  Partial aggregation caps every map task's output at
    depth*width cells regardless of input size, so the shuffle carries
    O(tasks * 2048) rows — the sketch never sees a per-key shuffle.
    Kept as a DataFrame (not a driver grid) so estimation is a plain
    broadcast join and the whole pipeline stays oracle-replayable."""
    key = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                cms_replay_bucket(key, a, b, width).alias("bucket"),
            )
            for j, a, b in CMS_REPLAY_PARAMS
        ]
    )
    return (
        df.select(F.explode(pairs).alias("x"))
        .select("x.j", "x.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate_col(grid, key, depth: int = 5, width: int = 256):
    """JVM column expression estimating the frequency of ``key`` (a
    Column) from a count-min grid: min over rows of the seeded-hash
    cell lookup.  The grid travels as an array literal (depth*width
    longs, ~1-2 KB) — estimation is fully distributed, no driver
    round-trip per key."""
    lookups = []
    for d_i, idx in enumerate(_cms_idx_cols(key, depth, width)):
        row_lit = F.array(*[F.lit(int(v)) for v in grid[d_i]])
        lookups.append(F.element_at(row_lit, idx + 1))
    return F.least(*lookups)
