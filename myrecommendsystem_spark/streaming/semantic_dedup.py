"""Incremental semantic dedup — the streaming twin of the batch
keep-list: a survivor table MAINTAINED as vector batches arrive.

One ingest cycle, :func:`_ingest_step`, runs on a batch signed once
(``similarity._hp_prepare_sig``): batch vectors with an exact-cosine
verified LSH match among the survivors are dropped (the ingest gate of
``embedding_cross_corpus_near``, capped on the survivor side only); the
remainder, which can hold its own near-dup clusters, keeps each
cluster's min id (:func:`dedup.min_id_survivors`, the batch keep-lists'
rule); what is left, tagged with its arrival batch, joins the survivors.

:func:`incremental_semantic_survivors` folds the step over a batch list;
:func:`run_semantic_dedup_stream` runs it per ``foreachBatch`` trigger
against two batch-id logs (:func:`recommender.upsert_by_key`, read
latest per vec_id), reading only the survivors that share a bucket with
the batch.  Deterministic by construction (hash-derived hyperplanes, md5
bucketing, min-id survivors): the fold is DuckDB-replayed as
``embedding_incremental_survivors`` (plans/text_queries.py), and the
stream is pinned to the fold in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.caching import release_checkpoint
from myrecommendsystem_spark.operators import similarity
from myrecommendsystem_spark.operators.dedup import (
    cap_buckets,
    min_id_survivors,
)

#: The band log's probe partition: ``pmod(hash(band_idx, band_val),
#: num_band_parts)``, so a trigger's probe scan prunes to the partitions
#: its own band values hash into.
BUCKET_COL = "__bucket"


def _ingest_step(
    sig: DataFrame,
    n_bands: int,
    survivors: tuple[DataFrame, DataFrame] | None,
    threshold: float,
    max_bucket: int,
    arrived_batch: int,
) -> DataFrame:
    """One ingest cycle → the batch's new survivors, checkpointed:
    ``sig``'s rows (a :func:`similarity._hp_prepare_sig` relation) that
    match no survivor and are their within-batch cluster's min id, with
    an ``arrived_batch`` column.  ``survivors`` is the accumulated set as
    prepared ``(base, bands)`` relations, or None before the first
    survivor.  The pair stages skip their presentation sort
    (``ordered=False``): the gate's distinct and the component closure
    are set consumers."""
    gated = sig
    matched = None
    try:
        if survivors is not None:
            surv_base, surv_bands = survivors
            # materialized: the anti join and the self-pair bands both read
            # it, and the probe must run once
            matched = (
                similarity.hp_cross_pairs_from_prepared(
                    sig.select("id", "v"),
                    similarity._explode_bands(sig, n_bands),
                    surv_base,
                    surv_bands,
                    threshold,
                    max_bucket,
                    ordered=False,
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
        keep = (
            min_id_survivors(pairs, gated, "id")
            .withColumn("arrived_batch", F.lit(arrived_batch).cast("int"))
            .localCheckpoint(eager=True)
        )
    finally:
        release_checkpoint(matched)
    return keep


def incremental_semantic_survivors(
    batches: list[DataFrame],
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Fold the ingest cycle over an ordered batch sequence → the final
    survivor table (vec_id, arrived_batch).

    Each vector is SIGNED EXACTLY ONCE: the batch's fused
    ``similarity._hp_prepare_sig`` relation feeds the gate and the
    self-dedup, and survivors' bands accumulate alongside their vectors
    (the fold oracle's CTEs replay that structure).  Re-signing the
    survivors on every step measured 32 s at sf0.1 against ~17 s for
    this form.  Each step's survivors are localCheckpointed as a delta
    (without it the plan doubles per batch), and the fixed job count is
    kept small — each job is an eager barrier at ANY scale: ONE
    tagged-union dim probe replaces K per-batch probe jobs, and the
    roster rides the accumulator as an ``arrived_batch`` column.
    """
    from functools import reduce

    if not batches:
        raise ValueError("incremental_semantic_survivors: no batches")
    spark = batches[0].sparkSession
    # ONE dim-probe job for the whole fold instead of K per-batch ones:
    # the tagged union yields each batch's max dim (absent for an empty
    # batch, whose step then contributes nothing)
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
    # ONE accumulator: (id, v, band0.., arrived_batch) rows, so each
    # step checkpoints ONE relation; the exploded band view and the
    # (vec_id, arrived_batch) roster are map-only projections of it.
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
        survivors = None if surv_sig is None else (
            surv_sig.select("id", "v"),
            similarity._explode_bands(surv_sig, n_bands),
        )
        # each step's survivors are checkpointed once (the delta) and
        # the accumulator is a lazy union of the materialized deltas:
        # each survivor row is written exactly once, and consumers of
        # the union scan pinned blocks, no recompute
        deltas.append(
            _ingest_step(sig, n_bands, survivors, threshold, max_bucket, b)
        )
        surv_sig = reduce(DataFrame.unionByName, deltas)
        release_checkpoint(sig)
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


def _read_survivors(
    spark: SparkSession,
    out_path: str,
    bands_path: str,
    batch_bands: DataFrame,
    before: int,
    max_bucket: int,
    band_part: Column,
) -> tuple[DataFrame, DataFrame]:
    """The survivor side of trigger ``before``'s gate as prepared
    ``(base, bands)``: the survivors (logs at ``out_path`` and
    ``bands_path``, batches before ``before``) that share an uncapped
    bucket with ``batch_bands``, the only ones the gate can reach.

    The band scan prunes to the ``band_part`` partitions of the batch's
    band values, caps buckets as the gate does (so each kept bucket
    stays whole and the gate's cap drops nothing more) and semi-joins
    on the batch's band keys.  The vector log is semi-joined on those
    ids BELOW the latest-per-vec_id window: the window partitions by
    vec_id, so each kept id gets the rows it gets over the whole log,
    and the window's exchange moves candidates, not every survivor."""
    from myrecommendsystem_spark.streaming.recommender import (
        latest_per_key,
        read_log,
    )

    probe_parts = [
        r.p
        for r in batch_bands.select(band_part.alias("p")).distinct().collect()
    ]
    keys = similarity._HP_BAND
    bands = cap_buckets(
        read_log(spark, bands_path, before=before)
        .filter(F.col(BUCKET_COL).isin(probe_parts))
        .select(F.col("vec_id").alias("id"), *keys),
        keys,
        max_bucket,
    ).join(batch_bands.select(*keys), keys, "left_semi")
    vectors = read_log(spark, out_path, before=before).join(
        bands.select(F.col("id").alias("vec_id")), "vec_id", "left_semi"
    )
    base = latest_per_key(vectors, "vec_id").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return base, bands


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
    band-column scan and the bucket join, and only the candidates'
    vectors are read and verified (:func:`_read_survivors`).  The band
    log is
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
        upsert_by_key,
    )

    bands_path = bands_path or out_path + "_bands"
    n_bands = n_bits // band_bits
    band_part = F.pmod(F.hash(F.col("band_idx"), F.col("band_val")),
                       F.lit(num_band_parts))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if compact_every and batch_id and batch_id % compact_every == 0:
            compact_log(spark, out_path, "vec_id", before=batch_id)
            compact_log(
                spark, bands_path, "vec_id", BUCKET_COL, before=batch_id
            )
        sig = similarity._hp_prepare_sig(
            batch_df, n_bits, band_bits, "vec_id", "embedding", "hp"
        )
        if sig is None:  # empty or 0-dim batch
            return
        # sign the batch ONCE; the checkpoint feeds the probe partitions,
        # the gate and the self-pair join
        sig = sig.localCheckpoint(eager=True)
        keep = None
        try:
            survivors = None
            if _fs_exists(spark, bands_path):  # written after the vectors
                survivors = _read_survivors(
                    spark,
                    out_path,
                    bands_path,
                    similarity._explode_bands(sig, n_bands),
                    batch_id,
                    max_bucket,
                    band_part,
                )
            keep = _ingest_step(
                sig, n_bands, survivors, threshold, max_bucket, batch_id
            )
            if keep.isEmpty():
                return
            fresh = keep.select(
                F.col("id").alias("vec_id"),
                F.col("v").alias("embedding"),
                "arrived_batch",
            )
            upsert_by_key(spark, fresh, out_path, batch_id)
            fresh_bands = similarity._explode_bands(keep, n_bands).select(
                band_part.cast("int").alias(BUCKET_COL),
                F.col("id").alias("vec_id"),
                "band_idx",
                "band_val",
            )
            upsert_by_key(spark, fresh_bands, bands_path, batch_id, BUCKET_COL)
        finally:
            release_checkpoint(sig, keep)

    writer = vectors_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
