"""Incremental aggregate maintenance — merge partial aggregates instead of
re-scanning history.

A 100 TB fact table grows by a sliver a day; recomputing per-key stats
over the full history per refresh is O(history).  The mergeable-state
formulation keeps a compact per-key state (count, sum, min, max — each a
commutative monoid) and folds ONLY the new slice in:

    state(old ∪ delta) = merge(state(old), state(delta))

Derived measures (avg = sum/count) are computed at read time from the
merged state, never stored — storing them would break mergeability.

This is exactly Spark's own partial/final aggregation contract, lifted
from intra-query (map-side combine) to inter-run (stored state), so the
correctness argument is the same algebra Catalyst already relies on.
Cost per refresh: scan of the delta + one shuffle of per-key STATES
(|keys| rows, not |history| rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

STATE_COLS = ("cnt", "s", "mn", "mx")


def aggregate_state(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Per-key mergeable state (cnt, s, mn, mx) for ``value_col``."""
    return df.groupBy(*keys).agg(
        F.count(F.col(value_col)).alias("cnt"),
        F.sum(F.col(value_col)).alias("s"),
        F.min(F.col(value_col)).alias("mn"),
        F.max(F.col(value_col)).alias("mx"),
    )


def merge_states(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """merge(state, state) — union + one re-aggregation over STATE rows.

    Inputs are per-key states (|keys| rows each); the shuffle moves state
    rows only.  count merges by sum, sum by sum, min/max by min/max —
    each column with its own monoid.
    """
    return (
        a.select(*keys, *STATE_COLS)
        .unionByName(b.select(*keys, *STATE_COLS))
        .groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


def finalize_stats(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time derivation of the user-facing measures from the state."""
    return state.select(
        *keys,
        F.col("cnt").alias("n"),
        F.col("s").alias("total"),
        F.col("mn").alias("vmin"),
        F.col("mx").alias("vmax"),
        (F.col("s") / F.col("cnt")).alias("vavg"),
    )


def diff_tables(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC-style table diff a→b: (keys…, status ∈ added|removed|changed).

    One full-outer hash join on the key; row status from null-side checks
    and column comparison (null-safe ``eqNullSafe``).  Unchanged rows are
    filtered OUT — at 100 TB the diff of consecutive snapshots is tiny
    relative to the tables, and emitting only the delta is what makes
    snapshot-diff pipelines (audit, incremental downstream refresh)
    affordable.  The join shuffles both sides once on the key — bucketed
    layouts (io/writers.py) remove even that for repeated diffs.
    """
    bb = b
    for c in [*keys, *compare_cols]:
        bb = bb.withColumnRenamed(c, f"_b_{c}")
    cond = None
    for k in keys:
        e = F.col(k) == F.col(f"_b_{k}")
        cond = e if cond is None else (cond & e)
    j = a.join(bb, cond, "full_outer")
    a_missing = F.col(keys[0]).isNull()
    b_missing = F.col(f"_b_{keys[0]}").isNull()
    same = None
    for c in compare_cols:
        e = F.col(c).eqNullSafe(F.col(f"_b_{c}"))
        same = e if same is None else (same & e)
    status = (
        F.when(a_missing, F.lit("added"))
        .when(b_missing, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(k), F.col(f"_b_{k}")).alias(k) for k in keys
    ]
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*out_keys, "status")
    )


def join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Delta of an inner equi-join under insert-only deltas.

    The algebra (DBSP / classic incremental view maintenance):

        (A ∪ ΔA) ⋈ (B ∪ ΔB)  =  A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB
        ⇒ Δ(A⋈B)             =  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB

    so a materialized join view is refreshed WITHOUT touching the
    A⋈B term — the stored view absorbs it.  The three delta terms each
    join a sliver against a base table; at 100 TB with daily deltas the
    per-refresh cost is O(|ΔA| + |ΔB|) probe work instead of a full
    re-join of history, and when the base tables are bucketed on the
    join key (io/writers.write_bucketed_table) the probes shuffle only
    the delta side.  Insert-only is the append-log case; deletes ride
    the same algebra with signed multiplicities (not needed here).

    Terms are disjoint by construction for insert-only deltas (every
    output row pairs at least one delta row, and old/delta inputs are
    disjoint), so plain UNION ALL is exact — no dedup shuffle.
    """
    on = list(on)
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def maintain_join_view(
    view_old: DataFrame,
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Refresh a stored join view: view ∪ Δ(A⋈B).  ``view_old`` is the
    previously materialized A⋈B — read back, never recomputed."""
    return view_old.unionByName(
        join_delta(a_old, a_delta, b_old, b_delta, on)
    )


def cdc_apply(
    ops: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    op_col: str,
    delete_op: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Apply a change-data-capture op log → final table state (the MERGE
    INTO / upsert-with-deletes shape, set-oriented).

    ``ops`` is an append-only log of keyed operations; the final state is
    "last writer wins, a trailing delete removes the key":

    1. ``latest_by_key`` keeps each key's most recent op — one keyed
       shuffle, spillable window, never a per-key replay loop (the naive
       CDC apply folds ops in order per key; last-writer-wins needs only
       the max, so the whole log collapses in a single window pass);
    2. keys whose surviving op is ``delete_op`` drop out.

    At 100 TB the log is partitioned by ingest date and the window
    shuffle is the only data movement; writing the applied state back
    to storage is `streaming.recommender.upsert_by_key` (one batch_id
    subtree per apply, read latest per key).  Deterministic given a unique ``tiebreak_col``
    for equal timestamps.
    """
    from myrecommendsystem_spark.operators.relational import latest_by_key

    last = latest_by_key(ops, keys, ts_col, tiebreak_col=tiebreak_col)
    return last.filter(F.col(op_col) != delete_op)
