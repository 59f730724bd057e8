"""Skew handling: salted joins (the manual fallback when AQE can't help).

AQE's skew-join splitting (on by default in our session factory) handles
most hot keys at runtime, but it only works for sort-merge joins and only
when statistics expose the skew.  The classic manual remedy — salt the hot
side, replicate the small side — stays useful for the 100 TB cases AQE
misses (skewed broadcast-probe misses, stateful streaming joins).  The
salt here is DETERMINISTIC (hash of the whole row + the partition-local
row ordinal, modulo the factor — see :func:`_salt_col` for why the
ordinal matters on duplicate-heavy inputs), so results are reproducible
and no ``rand()`` breaks retries/speculation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

_SALT = "__salt"

# Join types where replicating the small side per salt value is
# answer-preserving.  right/full outer are NOT: an unmatched small-side
# row exists once per replica, so the explode would emit salt_n
# null-extended copies instead of one.  Semi/anti on
# the skewed side are safe — every salt value of every small-side key
# exists in the replicated relation, so membership per (key, salt) is
# membership per key.
_SALTABLE_HOW = {
    "inner",
    "cross",
    "left",
    "leftouter",
    "left_outer",
    "semi",
    "leftsemi",
    "left_semi",
    "anti",
    "leftanti",
    "left_anti",
}


def _check_saltable_how(how: str) -> None:
    if how.lower().replace(" ", "") not in _SALTABLE_HOW:
        raise ValueError(
            f"salted joins do not support how={how!r}: the small side is "
            "replicated once per salt value, so right/full outer joins "
            "would emit salt_factor null-extended rows for every "
            "unmatched small-side row.  Supported: inner, cross, "
            "left[_outer], [left_]semi, [left_]anti."
        )


def _salt_col(cols: Sequence[Column], salt_n: Column) -> Column:
    """Deterministic salt in ``[0, salt_n)`` that levels even FULL-ROW
    DUPLICATES (a whale key whose rows are literal
    copies — common in event logs — hashes every copy to one salt if
    the salt is a pure row hash, landing the whale back on a single
    reducer).  ``monotonically_increasing_id()`` (partition ordinal in
    the high bits, row ordinal in the low bits) is mixed into the row
    hash, so identical rows in one partition fan out across salts and
    the levelling guarantee survives duplicate-heavy inputs.  Retry
    determinism is scoped: when the salted side's partition contents
    and order are deterministic (file scans — this operator's intended
    input), a recomputed partition replays the same ordinals, unlike
    ``rand()``; a SHUFFLE-FED salted side can assign different salts on
    retried/speculative tasks.  Results are correct either way — the
    salt only ROUTES rows, and every salt value joins the same
    replicated small side — but don't rely on salt values being stable
    across runs.  Note also that ``monotonically_increasing_id`` is a
    nondeterministic expression to Catalyst, which blocks predicate
    pushdown through the salted projection: apply filters on the
    skewed side BEFORE salting.
    """
    return F.pmod(F.xxhash64(*cols, F.monotonically_increasing_id()), salt_n)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the skewed side salted ``salt_factor`` ways.

    ``skewed`` rows get a deterministic salt in ``[0, salt_factor)``; the
    ``small`` side is replicated once per salt value.  The shuffle key
    becomes (join keys…, salt) so one hot key spreads over
    ``salt_factor`` reducers instead of melting one.  Replication
    multiplies the small side — keep it for dimension-sized relations.
    ``how`` must keep the replicated side on the non-preserved flank:
    right/full outer joins raise (see :data:`_SALTABLE_HOW`).
    """
    if salt_factor < 1:
        raise ValueError(f"salt_factor must be >= 1, got {salt_factor}")
    _check_saltable_how(how)
    salted = skewed.withColumn(
        _SALT,
        _salt_col([F.col(c) for c in skewed.columns], F.lit(salt_factor)),
    )
    replicated = small.withColumn(
        _SALT,
        F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)).cast("array<bigint>")),
    )
    return salted.join(replicated, [*on, _SALT], how).drop(_SALT)


def _profile_salt_n(profile: DataFrame) -> DataFrame:
    """One-row relation ``(salt_n)`` from a :func:`skew_profile`: the
    heaviest key's ``rec_salt``, floored at 1 so a uniform corpus
    degenerates to the unsalted plan shape."""
    return profile.agg(F.greatest(F.max("rec_salt"), F.lit(1)).alias("salt_n"))


def adaptive_salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    num_partitions: int = 200,
    how: str = "inner",
    profile: DataFrame | None = None,
    small_hint: str | None = None,
) -> DataFrame:
    """:func:`salted_join` whose salt factor is DERIVED from the data —
    the consumer half of :func:`skew_profile`, which computes
    ``rec_salt`` for exactly this join.

    The heaviest key's ``rec_salt`` — the factor that levels it to a
    balanced task's row budget — rides a ONE-ROW broadcast into both
    join sides, so the salt width adapts to the data with no driver
    hop, no collect, and no hand-tuned constant: the skewed side salts
    ``pmod(row hash, salt_n)``, the small side replicates
    ``explode(sequence(0, salt_n-1))``, and the join keys on
    (keys…, salt).  A uniform corpus degenerates to salt_n=1 — the
    plain join with one extra trivially-small broadcast.

    ``profile`` defaults to ``skew_profile(skewed[on], on, top_n=1,
    num_partitions)`` — one map-side-combinable count shuffle over the
    join keys, cheap relative to the join it protects.  Pass a
    precomputed/persisted profile to reuse a diagnostic you already ran.
    Answer-identical to the plain join by construction FOR the
    supported ``how`` values (the ``revenue_by_priority_salted``
    equivalence gate covers the fixed-factor core;
    ``events_salted_join_adaptive`` gates this wrapper).  right/full
    outer joins raise — replication would multiply unmatched
    small-side rows (see :data:`_SALTABLE_HOW`).

    ``small_hint`` (e.g. ``"merge"``) attaches a join-strategy hint to
    the REPLICATED side immediately before the final join — a hint on
    the caller's ``small`` relation would be swallowed by the
    salt-broadcast cross join below it ("no equi-join keys").  Use it
    to pin the shuffle plan when demonstrating/testing the salted
    exchange; at real scale the small-but-not-broadcastable side that
    motivates salting forces the shuffle join on its own.
    """
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    _check_saltable_how(how)
    if profile is None:
        profile = skew_profile(
            skewed.select(*on), on, top_n=1, num_partitions=num_partitions
        )
    salt_n = _profile_salt_n(profile)
    salted = (
        skewed.crossJoin(F.broadcast(salt_n))
        .withColumn(
            _SALT,
            _salt_col(
                [F.col(c) for c in skewed.columns],
                F.col("salt_n").cast("bigint"),
            ),
        )
        .drop("salt_n")
    )
    replicated = (
        small.crossJoin(F.broadcast(salt_n))
        .withColumn(
            _SALT,
            F.explode(
                F.sequence(F.lit(0), F.col("salt_n") - 1).cast("array<bigint>")
            ),
        )
        .drop("salt_n")
    )
    if small_hint:
        replicated = replicated.hint(small_hint)
    return salted.join(replicated, [*on, _SALT], how).drop(_SALT)


def adaptive_salted_group_count(
    df: DataFrame,
    keys: Sequence[str],
    num_partitions: int = 200,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Two-stage grouped count — (keys, salt) partial → keys final —
    whose salt factor is DERIVED from the data: the groupBy half of the
    skew loop, as :func:`adaptive_salted_join` is its join half, with no
    hand-tuned constant.

    Same one-row-broadcast trick: the heaviest key's ``rec_salt`` from
    :func:`skew_profile` rides ``F.broadcast`` into the salt
    expression, the partial aggregate shuffles on (keys…, salt) —
    spreading a whale key over ``salt_n`` reducers — and the final
    aggregate re-shuffles the ``salt_n``-bounded partials on the bare
    keys.  A uniform corpus degenerates to salt_n=1: the plain
    two-stage count with one trivially-small extra broadcast.  Answer-
    identical to ``groupBy(keys).count()`` by construction (gated by
    ``events_salted_agg_adaptive``).

    ``profile`` defaults to one map-side-combinable count shuffle over
    the keys; pass a precomputed/persisted profile to reuse one you
    already ran — e.g. the same profile that sized a neighbouring
    :func:`adaptive_salted_join`.
    """
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if profile is None:
        profile = skew_profile(
            df.select(*keys), keys, top_n=1, num_partitions=num_partitions
        )
    salt_n = _profile_salt_n(profile)
    partial = (
        df.crossJoin(F.broadcast(salt_n))
        .withColumn(
            _SALT,
            _salt_col(
                [F.col(c) for c in df.columns],
                F.col("salt_n").cast("bigint"),
            ),
        )
        .drop("salt_n")
        .groupBy(*keys, _SALT)
        .agg(F.count(F.lit(1)).alias("partial_cnt"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("partial_cnt").cast("bigint").alias("cnt")
    )


def salted_distinct_set(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    num_partitions: int = 200,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Per-key exact distinct SET (and its size) with the whale key's
    aggregation buffer bounded by the profile-driven salt — the
    no-partial-aggregation venue the salt actually exists for
    (a salted COUNT is pedagogical because
    counts map-side combine; a set-valued aggregate is the shape where
    the (key, salt) pre-shuffle is the only bound on a whale key's
    buffer).

    Returns ``(keys…, n_distinct, distinct_values)`` where
    ``distinct_values`` is the ascending-sorted exact distinct array of
    ``value_col`` and ``n_distinct`` its size.  NULL values are ignored
    (``collect_set`` semantics — matches ``COUNT(DISTINCT)``).

    Shape — unlike :func:`count_distinct_two_phase` (whose (key, value)
    dedupe shuffle is the right rewrite when only the COUNT is
    needed), here the caller wants the set itself, so some buffer must
    eventually hold it; the salt bounds every buffer BEFORE the
    output-sized one:

    1. the salt is ``pmod(xxhash64(value), salt_n)`` — keyed on the
       VALUE, not the row, so each distinct value lands in exactly one
       (key, salt) bucket: the partial sets PARTITION the whale's
       distinct set (no cross-salt duplicates, sizes sum exactly);
    2. partial ``collect_set`` shuffles on (keys…, salt): a whale key's
       distinct set spreads over ``salt_n`` reducers, each buffer
       ~D/salt_n, and the raw-row volume behind it spreads the same
       way;
    3. the final aggregate merges ``salt_n`` pre-deduped, disjoint
       partial arrays per key — its buffer equals the OUTPUT row
       (``flatten`` + ``array_sort``), which is the floor for
       materializing the set, and ``n_distinct`` is the exact sum of
       partial sizes (disjointness makes the sum exact).

    ``salt_n`` is the heaviest key's ``rec_salt`` from
    :func:`skew_profile`, riding the same one-row broadcast as
    :func:`adaptive_salted_join` — no collect, no hand-tuned constant;
    a uniform corpus degenerates to salt_n=1 (the plain two-stage
    plan).  Answer-identical to
    ``groupBy(keys).agg(countDistinct, sort_array(collect_set))`` by
    construction (equivalence-gated in tests/test_operators.py; the
    ``events_salted_distinct_users`` oracle gates it cross-engine).
    """
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if profile is None:
        profile = skew_profile(
            df.select(*keys), keys, top_n=1, num_partitions=num_partitions
        )
    salt_n = _profile_salt_n(profile)
    partial = (
        df.select(*keys, value_col)
        .crossJoin(F.broadcast(salt_n))
        .withColumn(
            _SALT,
            F.pmod(F.xxhash64(F.col(value_col)), F.col("salt_n").cast("bigint")),
        )
        .drop("salt_n")
        .groupBy(*keys, _SALT)
        .agg(F.collect_set(value_col).alias("part_set"))
    )
    return partial.groupBy(*keys).agg(
        F.sum(F.size("part_set")).cast("bigint").alias("n_distinct"),
        F.array_sort(F.flatten(F.collect_list("part_set"))).alias(
            "distinct_values"
        ),
    )


def count_distinct_two_phase(
    df: DataFrame,
    key_cols: Sequence[str],
    distinct_col: str,
) -> DataFrame:
    """COUNT(DISTINCT x) per key as dedupe-then-count — the hot-key-safe
    rewrite.

    The direct form keeps every key's full distinct set in one
    aggregation buffer: a whale key (one user id behind half the events)
    concentrates its whole set in a single task.  Phase 1 groups by
    (key, x) — the dedupe shuffle spreads a hot key across as many
    partitions as it has distinct values, each buffer O(1).  Phase 2
    counts rows per key — a plain partial/final count.  Same answer,
    bounded memory per task at any skew.
    """
    deduped = df.select(*key_cols, distinct_col).groupBy(
        *key_cols, distinct_col
    ).agg(F.lit(1))
    return deduped.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias(f"n_distinct_{distinct_col}")
    )


def skew_profile(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 20,
    num_partitions: int = 200,
) -> DataFrame:
    """Key-skew diagnostic: the profile an operator runs over a join or
    groupBy key BEFORE choosing a remedy (broadcast / ``salted_join`` /
    AQE-and-hope).

    Returns the ``top_n`` heaviest keys as
    (rnk, key, cnt, share, cum_share, rec_salt): ``share``/``cum_share``
    locate the key on the Lorenz curve, and ``rec_salt`` is the salt
    factor that levels the key to a balanced task's row budget —
    ``ceil(cnt / ceil(total / num_partitions))`` in pure integer
    arithmetic, so 1 means "this key fits a partition, leave it alone"
    and the max over the report is the ``salt_factor`` to hand
    :func:`salted_join`.

    Scale shape: one count shuffle on the key; the heavy-hitter pick is
    ``orderBy().limit(top_n)`` — Spark plans TakeOrderedAndProject
    (per-partition heaps + a driver merge of ``top_n`` rows), NEVER a
    global sort of the distinct-key relation (billions of rows at
    100 TB); the total rides a one-row broadcast and the ranking window
    runs over ≤ ``top_n`` rows.
    """
    if num_partitions < 1:  # rec_salt divides by ceil(total/num_partitions)
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    # group on the RAW columns — counting on a rendered string would
    # merge distinct keys (concat_ws drops NULLs, so ('US', NULL),
    # (NULL, 'US') and 'US' all collapse; '|' inside a value collides
    # composites) and hand salted_join a salt for a key that doesn't
    # exist.  The string form is rendered AFTER counting, null-safely,
    # for display only: a (astronomically rare) render collision shows
    # two correctly-counted rows with the same label, never a merged
    # count.
    per_key = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rendered = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
            for c in key_cols
        ],
    )
    per_key = per_key.select(rendered.alias("key"), "cnt")
    tot = per_key.agg(F.sum("cnt").cast("bigint").alias("total"))
    top = per_key.orderBy(F.col("cnt").desc(), "key").limit(top_n)
    from pyspark.sql.window import Window

    from myrecommendsystem_spark.functions.compat import round_stable

    w_ord = Window.orderBy(F.col("cnt").desc(), "key")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    target = f"((total + {num_partitions - 1}) DIV {num_partitions})"
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w_ord).cast("int").alias("rnk"),
            "key",
            "cnt",
            round_stable(F.col("cnt") / F.col("total")).alias("share"),
            round_stable(
                F.sum("cnt").over(w_cum) / F.col("total")
            ).alias("cum_share"),
            F.expr(
                f"CAST((cnt + {target} - 1) DIV {target} AS INT)"
            ).alias("rec_salt"),
        )
    )
