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
(S10's hash-bucketed replace-by-key sink), so re-arriving vec_ids
REPLACE their old rows and each trigger touches only the partitions its
keys hash into.  At 100 TB the survivor table is the corpus-sized side:
it is read bucket-pruned per trigger, the LSH probe shuffles bands only
(never vectors twice), and all quantities per trigger are O(batch +
matched buckets), not O(table).

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

_SURVIVOR_SCHEMA = "vec_id bigint, embedding array<double>, arrived_batch int"

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
    localCheckpointed as a delta (the recsys-eval materialized-view
    discipline; without it the plan doubles per batch).  Round 13 cut the fold's fixed job count
    (the old structure ran ~94 scheduler jobs at bench scale — each an
    eager barrier at ANY scale): ONE tagged-union dim probe replaces K
    per-batch probe jobs, the survivor roster rides the base
    accumulator as an ``arrived_batch`` column instead of its own
    per-step checkpoint, and the pair stages skip their presentation
    sort (``ordered=False`` — the gate's distinct and the component
    closure are set consumers).  DETERMINISTIC and DuckDB-replayed
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
    embedding): per micro-batch, gate against the CURRENT table, self-
    dedup the remainder, and upsert the new survivors by vec_id
    (hash-bucketed replace-by-key — re-arriving ids replace their rows,
    untouched partitions are never rewritten).

    Round 9: each survivor's BAND SIGNATURE persists alongside the
    vectors (``bands_path``, default ``out_path + "_bands"`` — same
    upsert-by-key layout), so the per-trigger signature work is the
    BATCH's alone.  The v1 path re-signed the whole accumulated table
    every trigger — O(S·n_bits·d) float work growing without bound (the
    measured marginal cost is small at 80k survivors, ~0.05 ms/vector,
    but it is the one per-trigger term that scales with table size
    rather than batch size; at 10^9 survivors it IS the trigger).  With
    stored bands the survivor side contributes only a band-column scan
    + the bucket join, and exact-cosine verification touches only
    matched candidates' vectors — the O(batch + matched buckets)
    contract, now structural.  The two tables are upserted vectors
    first, bands second; foreachBatch replay after a crash between the
    writes re-upserts both idempotently (same keys, same rows).

    The band table is an APPEND-ONLY LOG partitioned by (batch_id,
    ``pmod(hash(band_idx, band_val), num_band_parts)``) — NOT an
    upsert-by-vec_id table.  Write side: each trigger dynamic-
    overwrites only its OWN batch_id partition subtree — O(batch)
    bytes, no read-modify-write of existing data (the v2 upsert layout
    re-read and rewrote every touched bucket, an O(S) write per
    trigger; measured 44 s vs 12 s per 1× trigger), and foreachBatch
    crash-replay is idempotent because the same batch_id deterministic
    data overwrites the same partitions.  Read side: the probe scan
    filters to the band partitions the batch's own band values hash
    into (a ≤ num_band_parts-int driver hop) — exact pruning across
    every batch's subtree, since a survivor band can only match a
    batch band inside its own hash partition; a small steady-state
    trigger reads O(matched partitions' files), not O(S) bytes.  A
    vec_id that re-arrives with a CHANGED embedding and survives the
    gate appends NEW band rows; its old rows persist as stale entries
    — harmless by construction, since stale bands only ever ADD
    candidate pairs and every candidate is exact-cosine verified
    against the CURRENT vector table before it gates anything.
    ``num_band_parts`` is a layout dial: raise it with corpus size so
    matched-partition bytes stay bounded (it only changes file layout,
    never results); long-running streams compact the log with
    :func:`compact_band_log` (one batch_id subtree per trigger is the
    classic many-small-files trade, not a correctness term).

    ``compact_every=N`` schedules that compaction INSIDE foreachBatch
    every N triggers — after the batch's own append, where no
    concurrent trigger can interleave — so a long-running stream holds
    at most N uncompacted batch_id subtrees instead of one per trigger
    forever.  Crash window: a
    replay of the compacting trigger re-appends its own batch_id
    subtree next to the already-folded COMPACTED_EPOCH copy —
    duplicate band rows are correctness-neutral (candidates are
    distinct-collapsed and exact-cosine verified) and the NEXT
    compaction folds them away (latest batch_id per vec_id wins).
    ``None`` (default) keeps compaction fully offline/cron-owned."""
    from myrecommendsystem_spark.streaming.recommender import (
        BUCKET_COL,
        _fs_exists,
        read_upserted,
        upsert_by_key,
    )

    bands_path = bands_path or out_path + "_bands"
    band_part = F.pmod(F.hash(F.col("band_idx"), F.col("band_val")),
                       F.lit(num_band_parts))

    def _append_bands(bands_df: DataFrame, batch_id: int) -> None:
        """Idempotent O(batch) append: dynamic-overwrite ONLY this
        batch_id's partition subtree — a crash-replay rewrites the same
        deterministic files; no existing partition is read or touched."""
        data = bands_df.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            band_part.cast("int").alias(BUCKET_COL),
            F.col("id").alias("vec_id"),
            "band_idx",
            "band_val",
        )
        data.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id", BUCKET_COL).parquet(bands_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        elig = _eligible(batch_df, "vec_id", "embedding")
        prep = similarity._hp_prepare(
            elig, n_bits, band_bits, "vec_id", "embedding", "hp"
        )
        if prep is None:  # empty or 0-dim batch
            return
        base_b, bands_b = prep
        matched = None
        # sign the batch ONCE; the checkpoint feeds the gate, the
        # self-pair join, and the fresh-band upsert
        step_bands = bands_b = bands_b.localCheckpoint(eager=True)
        if _fs_exists(spark, out_path):
            surv_base = read_upserted(spark, out_path).select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            if not _fs_exists(spark, bands_path):
                # migration: a v1 table without stored bands — sign the
                # accumulated set ONCE, log it under batch_id=-1, never
                # again
                sprep = similarity._hp_prepare(
                    read_upserted(spark, out_path),
                    n_bits,
                    band_bits,
                    "vec_id",
                    "embedding",
                    "hp",
                )
                _append_bands(sprep[1], -1)
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
                spark.read.parquet(bands_path)
                .filter(F.col(BUCKET_COL).isin(probe_parts))
                .select(F.col("vec_id").alias("id"), "band_idx", "band_val")
            )
            # materialized: everything downstream (incl. the fresh-band
            # upsert) must NOT lazily re-read the survivor tables after
            # the vector upsert below overwrites their partitions
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
            upsert_by_key(spark, fresh, out_path, key="vec_id")
            _append_bands(
                bands_b.join(dropped, "id", "left_anti"), batch_id
            )
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact_band_log(spark, bands_path)
        finally:
            release_checkpoint(step_bands, fresh, matched)

    writer = vectors_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


#: Epoch the compacted band rows are folded under.  Structured
#: Streaming batch_ids are non-negative and the v1 migration epoch is
#: -1, so -2 can never collide with a live trigger's subtree; repeated
#: compactions fold the previous epoch like any other batch_id.
COMPACTED_EPOCH = -2


def compact_band_log(
    spark: SparkSession, bands_path: str, max_files_per_part: int = 1
) -> dict:
    """Offline compaction of the append-only band log: fold every
    batch_id subtree into the single :data:`COMPACTED_EPOCH` subtree,
    dropping STALE rows (a vec_id that re-arrived with a changed
    embedding left its old batches' band rows behind — harmless for
    correctness, pure probe-side waste) — keep only each vec_id's
    rows from its LATEST batch_id.

    This is the deferred O(S) job the trigger path refuses to pay: the
    stream writes O(batch) bytes per trigger into its own batch_id
    partition and NEVER rewrites history, so file count grows one
    subtree per trigger and stale bands accumulate per re-arrival.
    Amortizing the rewrite here (run it every N triggers, or from a
    cron) keeps the trigger O(batch + matched partitions) while the
    probe-side scan stays bounded: after compaction each band-hash
    partition holds ≤ ``max_files_per_part`` files and zero stale rows.

    Plan: one shuffle (window max-batch_id per vec_id), then a
    repartition by the band-hash column so each partition directory is
    written by exactly its own tasks.  Crash-safe swap: write the
    compacted table to ``<bands_path>__compacting``, then delete the
    old directory and rename — a crash between the steps leaves either
    the intact original or the intact compacted copy beside it, never a
    half-rewritten log.  OFFLINE means between triggers: run while the
    stream is stopped, or from ``foreachBatch`` itself every N batches,
    where no concurrent trigger can interleave —
    ``run_semantic_dedup_stream(compact_every=N)`` wires exactly that.

    Returns ``{"rows_kept", "rows_dropped", "files_before",
    "files_after"}``.
    """
    from pyspark.sql import Window

    from myrecommendsystem_spark.streaming.recommender import BUCKET_COL

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(bands_path)
    fs = src.getFileSystem(conf)
    if not fs.exists(src):  # nothing to compact (stream never wrote)
        return {
            "rows_kept": 0,
            "rows_dropped": 0,
            "files_before": 0,
            "files_after": 0,
        }

    def _data_files(path) -> int:
        it, n = fs.listFiles(path, True), 0
        while it.hasNext():
            f = it.next().getPath().getName()
            n += not (f.startswith("_") or f.startswith("."))
        return n

    files_before = _data_files(src)
    log = spark.read.parquet(bands_path)
    rows_before = log.count()
    latest = F.max("batch_id").over(Window.partitionBy("vec_id"))
    kept = (
        log.withColumn("_latest", latest)
        .filter(F.col("batch_id") == F.col("_latest"))
        .select(
            F.lit(COMPACTED_EPOCH).cast("long").alias("batch_id"),
            F.col(BUCKET_COL),
            "vec_id",
            "band_idx",
            "band_val",
        )
    )
    tmp = bands_path.rstrip("/") + "__compacting"
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(tmp_path):  # debris from a crashed prior attempt
        fs.delete(tmp_path, True)
    # hash-repartition on (bucket, vec_id mod k): every bucket's rows
    # land in ≤ k tasks, so each partition directory is written as
    # ≤ max_files_per_part files (k=1 → one file per bucket)
    splitter = F.pmod(F.hash("vec_id"), F.lit(max_files_per_part))
    (
        kept.repartition(F.col(BUCKET_COL), splitter)
        .sortWithinPartitions("band_idx", "band_val", "vec_id")
        .write.mode("overwrite")
        .partitionBy("batch_id", BUCKET_COL)
        .parquet(tmp)
    )
    rows_after = spark.read.parquet(tmp).count()
    fs.delete(src, True)
    if not fs.rename(tmp_path, src):
        raise IOError(f"compact_band_log: rename {tmp} -> {bands_path} failed")
    return {
        "rows_kept": rows_after,
        "rows_dropped": rows_before - rows_after,
        "files_before": files_before,
        "files_after": _data_files(src),
    }
