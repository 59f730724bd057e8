"""Incremental semantic dedup — the streaming twin of the batch
keep-list.

``embedding_cross_corpus_near`` is the one-shot INGEST GATE: a batch of
new vectors probed against a reference corpus through shared sign-bit
LSH buckets.  This module closes the loop: a survivor table is
MAINTAINED as batches arrive —

1. gate: batch vectors with an exact-cosine-verified LSH match in the
   accumulated survivor set are duplicates and dropped
   (:func:`similarity.hyperplane_lsh_cross_pairs` — ref-side bucket cap,
   the ingest batch is never silently filtered);
2. within-batch self-dedup: the fresh remainder can contain its own
   near-dup clusters (two copies arriving together match nothing in the
   table), so it runs the same pairs → connected-components → min-id
   survivor closure as the batch keep-list
   (``embedding_semantic_survivors``);
3. the surviving rows append into the survivor table.

:func:`run_semantic_dedup_stream` wires the cycle into
``writeStream.foreachBatch`` with :func:`recommender.upsert_by_key`
(S10's batch-id log, read latest per key), so re-arriving vec_ids
REPLACE their old rows and each trigger writes only its own batch_id
subtree.  At 100 TB the survivor table is the corpus-sized side: the
LSH probe reads only the band partitions the batch's own bands hash
into and shuffles bands only (never vectors twice).

Deterministic by construction (hash-derived hyperplanes, md5 bucketing,
min-id survivors), so the batch fold :func:`incremental_semantic_survivors`
is DuckDB-replayable — registered as ``embedding_incremental_survivors``
(plans/text_queries.py) with a sequential-fold oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.caching import release_checkpoint
from myrecommendsystem_spark.operators import similarity
from myrecommendsystem_spark.operators.dedup import connected_components

#: The band log's probe partition: ``pmod(hash(band_idx, band_val),
#: num_band_parts)``, so a trigger's probe scan prunes to the partitions
#: its own band values hash into.
BUCKET_COL = "__bucket"


def _eligible(batch: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Zero-norm vectors are ineligible on every path of the LSH family
    (NaN cosine — see similarity._hp_prepare); they never match and
    never become survivors."""
    v = F.col(vec_col).cast("array<double>")
    return batch.filter(similarity._dot(v, v) > 0).select(
        F.col(id_col).cast("long").alias("vec_id"),
        v.alias("embedding"),
    )


def _self_survivors(
    fresh: DataFrame,
    threshold: float,
    n_bits: int,
    band_bits: int,
    max_bucket: int,
) -> DataFrame:
    """Min-id-per-component survivors of one (already eligible)
    population — the within-batch closure, identical semantics to the
    batch ``embedding_semantic_survivors`` keep rule."""
    pairs = similarity.hyperplane_lsh_pairs(
        fresh,
        threshold=threshold,
        n_bits=n_bits,
        band_bits=band_bits,
        max_bucket=max_bucket,
        ordered=False,  # feeds the component closure — a set consumer
    )
    comps = connected_components(pairs)
    dropped = comps.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    return fresh.join(dropped, "vec_id", "left_anti")


def semantic_ingest_step(
    survivors: DataFrame | None,
    batch: DataFrame,
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One maintenance cycle → the batch rows that become NEW survivors
    (vec_id, embedding).  ``survivors`` is the accumulated set (or None
    on the first batch)."""
    elig = _eligible(batch, id_col, vec_col)
    if survivors is not None:
        matched = similarity.hyperplane_lsh_cross_pairs(
            elig,
            survivors,
            threshold=threshold,
            n_bits=n_bits,
            band_bits=band_bits,
            max_bucket=max_bucket,
            ordered=False,  # distinct-id gate — order-insensitive
        ).select(F.col("new_id").alias("vec_id")).distinct()
        elig = elig.join(matched, "vec_id", "left_anti")
    return _self_survivors(elig, threshold, n_bits, band_bits, max_bucket)


def incremental_semantic_survivors(
    batches: list[DataFrame],
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Fold the ingest cycle over an ordered batch sequence → the final
    survivor table (vec_id, arrived_batch).

    Each vector is SIGNED EXACTLY ONCE: the per-batch (base, bands)
    relations from ``similarity._hp_prepare`` feed both the gate
    (``hp_cross_pairs_from_prepared`` against the accumulated survivor
    bands) and the self-dedup (``hp_pairs_from_prepared`` on the fresh
    remainder), and surviving rows' bands accumulate alongside their
    vectors — the structure the fold oracle's CTEs replay (bands{b}
    computed once, filtered per stage).  The naive per-step composition
    (semantic_ingest_step, which re-prepares per call) measured 32 s at
    sf0.1 against ~17 s for this form: seven prepare calls collapse to
    three, and the signature pass never re-runs over the growing
    survivor set.  Each step's surviving base+bands are
    localCheckpointed as a delta (without it the plan doubles per
    batch).  The fold's
    fixed job count is kept small (each job is an eager barrier at ANY
    scale; a per-batch structure ran ~94 scheduler jobs at bench
    scale): ONE tagged-union dim probe replaces K per-batch probe jobs,
    the survivor roster rides the base accumulator as an
    ``arrived_batch`` column instead of its own per-step checkpoint,
    and the pair stages skip their presentation sort
    (``ordered=False`` — the gate's distinct and the component closure
    are set consumers).  DETERMINISTIC and DuckDB-replayed
    (``embedding_incremental_survivors``); the streaming path persists
    the same accumulation to parquet instead
    (:func:`run_semantic_dedup_stream`).
    """
    from functools import reduce

    if not batches:
        raise ValueError("incremental_semantic_survivors: no batches")
    spark = batches[0].sparkSession
    # ONE dim-probe job for the whole fold: a per-batch `_hp_prepare`
    # probe is a full Spark job each, K of them per fold.  A single
    # tagged union reproduces the exact per-batch max-dims the
    # individual probes would return (including 0/absent for an empty
    # batch → that step contributes nothing, as a prep-is-None skip
    # would).
    probe_union = reduce(
        DataFrame.unionByName,
        (
            bt.filter(F.col("embedding").isNotNull()).select(
                F.lit(i).alias("b"),
                F.size(F.col("embedding").cast("array<double>")).alias("s"),
            )
            for i, bt in enumerate(batches)
        ),
    )
    batch_dims = {
        r["b"]: r["s"]
        for r in probe_union.groupBy("b").agg(F.max("s").alias("s")).collect()
    }
    n_bands = n_bits // band_bits
    # ONE accumulator: (id, v, band0.., arrived_batch) — the fused sig
    # relation (similarity._hp_prepare_sig) carries vector, band values
    # and arrival tag in one row, so each step checkpoints ONE relation
    # where the old fold checkpointed three (base + exploded bands +
    # roster); the exploded band view and the (vec_id, arrived_batch)
    # roster are map-only projections derived per consumer.
    surv_sig = None
    deltas: list[DataFrame] = []
    for b, batch in enumerate(batches):
        dim = batch_dims.get(b) or 0
        if dim <= 0:  # empty or 0-dim batch: nothing can survive
            continue
        # sign once per step: the checkpoint materializes the 16x64
        # sign fold exactly once; every consumer (gate, self-pair join,
        # survivor accumulation) derives from the checkpointed rows
        sig = similarity._hp_prepare_sig(
            batch, n_bits, band_bits, "vec_id", "embedding", "hp", dim=dim
        ).localCheckpoint(eager=True)
        gated = sig
        matched = None
        if surv_sig is not None:
            matched = (
                similarity.hp_cross_pairs_from_prepared(
                    sig.select("id", "v"),
                    similarity._explode_bands(sig, n_bands),
                    surv_sig.select("id", "v"),
                    similarity._explode_bands(surv_sig, n_bands),
                    threshold,
                    max_bucket,
                    ordered=False,  # distinct-id gate — set consumer
                )
                .select(F.col("new_id").alias("id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            gated = sig.join(matched, "id", "left_anti")
        pairs = similarity.hp_pairs_from_prepared(
            gated.select("id", "v"),
            similarity._explode_bands(gated, n_bands),
            threshold,
            max_bucket,
            ordered=False,
        )
        dropped = (
            connected_components(pairs)
            .filter(F.col("comp") != F.col("id"))
            .select("id")
        )
        keep_sig = gated.join(dropped, "id", "left_anti").withColumn(
            "arrived_batch", F.lit(b).cast("int")
        )
        # checkpoint only this step's survivors (the delta) and
        # accumulate a lazy union of the materialized deltas: each
        # survivor row is written exactly once, and consumers of the
        # union scan pinned blocks, no recompute
        deltas.append(keep_sig.localCheckpoint(eager=True))
        surv_sig = reduce(DataFrame.unionByName, deltas)
        release_checkpoint(sig, matched)
    if surv_sig is None:
        return spark.createDataFrame([], "vec_id bigint, arrived_batch int")
    # materialize the result, then release the final accumulator — the
    # only blocks that outlive the call are the (small) result's own
    out = (
        surv_sig.select(F.col("id").alias("vec_id"), "arrived_batch")
        .orderBy("vec_id")
        .localCheckpoint(eager=True)
    )
    release_checkpoint(surv_sig, *deltas)
    return out


def run_semantic_dedup_stream(
    vectors_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
    trigger: dict | None = None,
    bands_path: str | None = None,
    num_band_parts: int = 64,
    compact_every: int | None = None,
):
    """Maintain the survivor table from a vector stream (vec_id,
    embedding): per micro-batch, gate against the survivors of the
    EARLIER batches, self-dedup the remainder, and append the new
    survivors to the vector log at ``out_path``
    (:func:`recommender.upsert_by_key`, read latest per vec_id).

    Each survivor's BAND SIGNATURE goes to a second log (``bands_path``,
    default ``out_path + "_bands"``), so the per-trigger signature work
    is the BATCH's alone: the survivor side contributes only a
    band-column scan and the bucket join, and exact-cosine verification
    touches only matched candidates' vectors.  The band log is
    partitioned by (batch_id, :data:`BUCKET_COL` =
    ``pmod(hash(band_idx, band_val), num_band_parts)``): the probe scan
    filters to the band partitions the batch's own band values hash
    into (a ≤ num_band_parts-int driver hop) — exact pruning across
    every batch's subtree, since a survivor band can only match a batch
    band inside its own hash partition.  It is read raw, not latest per
    vec_id: a vec_id that re-arrives with a CHANGED embedding leaves its
    old band rows behind, and stale bands only ever ADD candidate pairs,
    each exact-cosine verified against the current vector before it
    gates anything.  ``num_band_parts`` only changes file layout, never
    results.

    Trigger ``n`` reads both logs with ``before=n`` and writes vectors
    first, bands second, each into its own ``batch_id=n`` subtree; a
    replay after a crash anywhere in the trigger reads the same state
    and rewrites the same subtrees.

    ``compact_every=N`` folds both logs with
    :func:`recommender.compact_log` at the start of every N-th trigger
    (batches before it; a replay folds the same set), so a long-running
    stream holds at most N uncompacted batch_id subtrees per log instead
    of one per trigger forever.  ``None`` (default) leaves compaction to
    an offline job."""
    from myrecommendsystem_spark.streaming.recommender import (
        _fs_exists,
        compact_log,
        read_log,
        read_upserted,
        upsert_by_key,
    )

    bands_path = bands_path or out_path + "_bands"
    band_part = F.pmod(F.hash(F.col("band_idx"), F.col("band_val")),
                       F.lit(num_band_parts))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if compact_every and batch_id and batch_id % compact_every == 0:
            compact_log(spark, out_path, "vec_id", before=batch_id)
            compact_log(
                spark, bands_path, "vec_id", BUCKET_COL, before=batch_id
            )
        elig = _eligible(batch_df, "vec_id", "embedding")
        prep = similarity._hp_prepare(
            elig, n_bits, band_bits, "vec_id", "embedding", "hp"
        )
        if prep is None:  # empty or 0-dim batch
            return
        base_b, bands_b = prep
        matched = None
        # sign the batch ONCE; the checkpoint feeds the gate, the
        # self-pair join, and the fresh-band append
        step_bands = bands_b = bands_b.localCheckpoint(eager=True)
        if _fs_exists(spark, bands_path):  # written after the vectors
            surv_base = read_upserted(
                spark, out_path, "vec_id", before=batch_id
            ).select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            # probe scan pruned to the partitions the BATCH's band
            # values hash into — a survivor band can only match inside
            # its own hash partition, so the filter loses nothing
            probe_parts = [
                r.p
                for r in step_bands.select(band_part.alias("p"))
                .distinct()
                .collect()
            ]
            surv_bands = (
                read_log(spark, bands_path, before=batch_id)
                .filter(F.col(BUCKET_COL).isin(probe_parts))
                .select(F.col("vec_id").alias("id"), "band_idx", "band_val")
            )
            # materialized: both anti joins below and the fresh-band
            # append consume it, and the probe must run once
            matched = (
                similarity.hp_cross_pairs_from_prepared(
                    base_b, bands_b, surv_base, surv_bands,
                    threshold, max_bucket, ordered=False,
                )
                .select(F.col("new_id").alias("id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            base_b = base_b.join(matched, "id", "left_anti")
            bands_b = bands_b.join(matched, "id", "left_anti")
        pairs = similarity.hp_pairs_from_prepared(
            base_b, bands_b, threshold, max_bucket, ordered=False
        )
        dropped = (
            connected_components(pairs)
            .filter(F.col("comp") != F.col("id"))
            .select("id")
        )
        fresh = (
            base_b.join(dropped, "id", "left_anti")
            .select(
                F.col("id").alias("vec_id"),
                F.col("v").alias("embedding"),
                F.lit(batch_id).cast("int").alias("arrived_batch"),
            )
            .localCheckpoint(eager=True)
        )
        try:
            if fresh.isEmpty():
                return
            upsert_by_key(spark, fresh, out_path, batch_id)
            fresh_bands = bands_b.join(dropped, "id", "left_anti").select(
                band_part.cast("int").alias(BUCKET_COL),
                F.col("id").alias("vec_id"),
                "band_idx",
                "band_val",
            )
            upsert_by_key(spark, fresh_bands, bands_path, batch_id, BUCKET_COL)
        finally:
            release_checkpoint(step_bands, fresh, matched)

    writer = vectors_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
