"""Intra-query cache scope — persist big intermediates, release them the
moment the (small) result is materialized.

Several operators persist a corpus-sized intermediate because multiple
downstream branches consume it (self-join sides, size aggregates, verify
joins).  Returning a *lazy* result would force a choice between two bad
options: unpersist before returning (defeats the cache — consumers run
later) or leak the cache into the session (at a 100 TB shared session
that is unbounded memory pressure).  ``eager_release``
resolves it: materialize the final result once via
``localCheckpoint(eager=True)`` — the checkpoint job reads the warm
caches — then free the intermediates on the spot.

The only memory that outlives the call is the result's own checkpoint
blocks, which are small by operator contract (thresholded pair lists,
top-k tables) and are released by Spark's ContextCleaner when the
DataFrame is garbage collected.  Policy documented in SCALE.md §caching.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_KEEP_LAZY = False


@contextmanager
def lazy_plans():
    """Plan-inspection hook (tests only): inside this context
    :func:`eager_release` returns the LAZY result — no checkpoint, feeder
    caches left warm — so plan-pin tests can read the true dataflow
    through operators that normally materialize (a ``localCheckpoint``
    collapses the executed plan to ``ExistingRDD``, hiding every stage
    the pin is about).  Results built under this context leak their
    feeder caches by design; callers clear them
    (``spark.catalog.clearCache()``) after inspection."""
    global _KEEP_LAZY
    _KEEP_LAZY = True
    try:
        yield
    finally:
        _KEEP_LAZY = False


def eager_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` eagerly and unpersist the ``cached``
    intermediates that fed it; returns the materialized result.

    The returned DataFrame scans the checkpointed partitions — callers
    compose with it exactly as with the lazy plan (same schema, same
    rows; row order is partition order, callers needing order sort).
    """
    if _KEEP_LAZY:
        return result
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def release_checkpoint(*checkpointed: DataFrame | None) -> None:
    """Free the pinned storage blocks behind ``localCheckpoint``-ed
    DataFrames: iterative accumulators that re-checkpoint per step must
    release the superseded checkpoints, or pinned block storage grows
    with the step count.

    ``DataFrame.unpersist()`` only drops CacheManager entries, not the
    RDD blocks a local checkpoint pins — those need the RDD-level
    unpersist on the analyzed plan.  Only call this on DataFrames whose
    blocks no downstream plan will read again: a released checkpoint
    has no lineage to recompute from.  ``None`` entries and release failures
    are ignored (best-effort memory hygiene, never correctness).
    """
    for df in checkpointed:
        if df is None:
            continue
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass
