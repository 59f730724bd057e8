"""Incremental semantic-dedup maintenance — the streaming twin of the
batch keep-list.

Covers the three maintenance behaviors the batch queries cannot: a new
vector matching an EXISTING survivor is gated out, within-batch
near-dups collapse to the min-id, and the survivor table accumulates
across triggers through the batch-id log.  The batch fold
(``incremental_semantic_survivors``) is additionally DuckDB-hash-gated
via the registry (``embedding_incremental_survivors``), and the stream
is pinned to the fold on the test data.
"""

from __future__ import annotations

import json
import pytest

from pyspark.sql import functions as F

from myrecommendsystem_spark.streaming.recommender import (
    COMPACTED_EPOCH,
    compact_log,
    read_log,
    read_upserted,
)
from myrecommendsystem_spark.streaming.semantic_dedup import (
    BUCKET_COL,
    incremental_semantic_survivors,
    run_semantic_dedup_stream,
)

DIM = 64


def _vec(axis: int, eps_axis: int | None = None, eps: float = 0.01):
    v = [0.0] * DIM
    v[axis] = 1.0
    if eps_axis is not None:
        v[eps_axis] = eps
    return v


# batch 1: 1 and 2 are near-dups (cos≈1), 3 is orthogonal, 4 is zero-norm
_BATCH1 = [
    {"vec_id": 1, "embedding": _vec(0)},
    {"vec_id": 2, "embedding": _vec(0, eps_axis=1)},
    {"vec_id": 3, "embedding": _vec(1)},
    {"vec_id": 4, "embedding": [0.0] * DIM},
]
# batch 2: 10 duplicates survivor 1; 11/12 are fresh near-dups of each other
_BATCH2 = [
    {"vec_id": 10, "embedding": _vec(0, eps_axis=2)},
    {"vec_id": 11, "embedding": _vec(2)},
    {"vec_id": 12, "embedding": _vec(2, eps_axis=3)},
]

_SCHEMA = "vec_id long, embedding array<double>"


def _df(spark, rows):
    return spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows], _SCHEMA
    )


def test_stream_matches_batch_fold_on_testdata(spark, sf_dir, tmp_path):
    """The foreachBatch trigger and the batch fold share one ingest
    step: the test embeddings split as ``embedding_incremental_survivors``
    splits them (vec_id % 3), one parquet file per trigger, leave the
    stream's survivor log holding the fold's (vec_id, arrived_batch)
    rows, so the fold's DuckDB gate covers the trigger too."""
    import os

    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    parts = [emb.filter(F.col("vec_id") % 3 == b) for b in range(3)]
    src = tmp_path / "vectors_in"
    src.mkdir()
    for b, part in enumerate(parts):
        stage = str(tmp_path / f"stage{b}")
        part.coalesce(1).write.parquet(stage)
        (name,) = [n for n in os.listdir(stage) if n.endswith(".parquet")]
        dst = src / f"b{b}.parquet"
        os.rename(os.path.join(stage, name), dst)
        os.utime(dst, (1_000_000 + b, 1_000_000 + b))  # trigger order
    out_path = str(tmp_path / "survivors")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_semantic_dedup_stream(
        stream, out_path, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    q.awaitTermination(300)
    assert q.exception() is None
    got = sorted(
        (r.vec_id, r.arrived_batch)
        for r in read_upserted(spark, out_path, "vec_id").collect()
    )
    want = [
        (r.vec_id, r.arrived_batch)
        for r in incremental_semantic_survivors(parts).collect()
    ]
    assert got == want
    assert {b for _, b in got} == {0, 1, 2}
    assert len(got) < emb.count()  # the gate and the closure dropped rows


def test_trigger_reads_survivor_vectors_of_candidates_only(spark, tmp_path):
    """A trigger reads the vector log only for the survivors that share
    an uncapped bucket with its batch, and restricts the raw log rows
    BEFORE the latest-per-vec_id window: a semi join on the candidate
    ids sits below the window's exchange, so the window shuffles the
    candidates' rows, not the whole log."""
    from myrecommendsystem_spark.operators import similarity
    from myrecommendsystem_spark.streaming.semantic_dedup import (
        _read_survivors,
    )

    src = tmp_path / "vectors_in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for r in _BATCH1:
            f.write(json.dumps(r) + "\n")
    out_path = str(tmp_path / "survivors")
    q = run_semantic_dedup_stream(
        spark.readStream.schema(_SCHEMA).json(str(src)),
        out_path,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    sig = similarity._hp_prepare_sig(
        _df(spark, _BATCH2), 16, 8, "vec_id", "embedding", "hp"
    )
    batch_bands = similarity._explode_bands(sig, 2)
    band_part = F.pmod(F.hash("band_idx", "band_val"), F.lit(64))
    base, bands = _read_survivors(
        spark, out_path, out_path + "_bands", batch_bands, 1, 1000, band_part
    )
    # the candidates: survivors {1, 3} with a band equal to a batch band
    shared = {
        r.vec_id
        for r in read_log(spark, out_path + "_bands")
        .join(batch_bands.select("band_idx", "band_val"), ["band_idx", "band_val"])
        .collect()
    }
    assert 1 in shared  # 10 is a near-dup of survivor 1
    assert {r.id for r in base.collect()} == shared
    assert {r.id for r in bands.collect()} == shared
    plan = base._jdf.queryExecution().executedPlan().toString().splitlines()
    window = next(i for i, line in enumerate(plan) if "Window [" in line)
    below = _subtree(plan, window)
    exchange = next(
        i for i in below if "Exchange hashpartitioning(vec_id" in plan[i]
    )
    assert any("LeftSemi" in plan[i] for i in _subtree(plan, exchange)), (
        "\n".join(plan)
    )


def _subtree(plan: list[str], i: int) -> list[int]:
    """Line indices of the plan-tree node at line ``i``'s descendants
    (a tree string indents each child past its parent)."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for j in range(i + 1, len(plan)):
        if depth(plan[j]) <= depth(plan[i]):
            break
        out.append(j)
    return out


def test_batch_fold_accumulates_with_arrival_tags(spark):
    out = incremental_semantic_survivors(
        [_df(spark, _BATCH1), _df(spark, _BATCH2)]
    ).collect()
    assert [(r.vec_id, r.arrived_batch) for r in out] == [
        (1, 0),
        (3, 0),
        (11, 1),
    ]


def test_batch_fold_releases_superseded_checkpoints(spark):
    """The fold re-checkpoints its survivor accumulators every batch —
    the SUPERSEDED checkpoints must be unpersisted, or
    pinned block storage grows linearly with the batch count.  Pin the
    post-fold persisted-RDD count to the pre-fold baseline plus the
    materialized result itself, across enough batches that a leak (≳4
    pinned RDDs per extra batch pre-fix) is unmistakable."""

    def _pinned() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    spark.sparkContext._jvm.System.gc()
    before = _pinned()
    batches = [_df(spark, _BATCH1), _df(spark, _BATCH2)] * 3
    out = incremental_semantic_survivors(batches)
    assert [r.vec_id for r in out.collect()] == [1, 3, 11]
    # the result's own checkpoint (and nothing per-batch) may remain;
    # connected_components' internal driver-path fetch pins nothing
    assert _pinned() <= before + 2, (
        f"pinned RDDs grew {before} -> {_pinned()} across "
        f"{len(batches)} batches: superseded fold checkpoints leaked"
    )


def test_streaming_maintenance_end_to_end(spark, tmp_path):
    """File source → gate → self-dedup → survivor log (upsert_by_key),
    two sequential availableNow runs sharing one checkpoint (the second
    run processes only the new file — real incremental semantics)."""
    src = tmp_path / "vectors_in"
    src.mkdir()
    out_path = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")

    def _run(rows, fname):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(_SCHEMA).json(str(src))
        q = run_semantic_dedup_stream(
            stream, out_path, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination(120)

    _run(_BATCH1, "b1.json")
    t1 = read_upserted(spark, out_path, "vec_id")
    assert sorted(r.vec_id for r in t1.collect()) == [1, 3]

    _run(_BATCH2, "b2.json")
    t2 = read_upserted(spark, out_path, "vec_id").select(
        "vec_id", "arrived_batch"
    ).orderBy("vec_id")
    rows = [(r.vec_id, r.arrived_batch) for r in t2.collect()]
    # 10 gated out against survivor 1; 12 collapsed into 11 within-batch
    assert [v for v, _ in rows] == [1, 3, 11]
    # batch-0 survivors keep their original arrival tag (the second
    # trigger did not rewrite them), the fresh survivor carries its own id
    assert rows[0][1] == rows[1][1] == 0
    assert rows[2][1] == 1
    # survivor table keeps embeddings: future gates read it directly
    emb = read_upserted(spark, out_path, "vec_id").filter(
        F.col("vec_id") == 11
    ).first()
    assert emb.embedding[2] == 1.0


def test_band_table_is_partitioned_by_band_and_probe_scan_prunes(
    spark, tmp_path
):
    """The survivor band table is an append-only log partitioned by
    (batch_id,
    pmod(hash(band_idx, band_val), num_band_parts)) — each trigger
    writes only its OWN batch_id subtree (O(batch), no read-modify-
    write of existing partitions), and the per-trigger probe scan
    carries a partition filter on the batch's own band hash values, so
    a trigger reads only matched buckets' files instead of O(S) band
    bytes."""
    import os

    src = tmp_path / "vectors_in"
    src.mkdir()
    out_path = str(tmp_path / "survivors")
    bands_path = out_path + "_bands"
    ckpt = str(tmp_path / "ckpt")

    def _run(rows, fname):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(_SCHEMA).json(str(src))
        q = run_semantic_dedup_stream(
            stream, out_path, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination(120)
        return {
            (batch_dir.name, d.name): os.stat(d.path).st_mtime_ns
            for batch_dir in os.scandir(bands_path)
            if batch_dir.name.startswith("batch_id")
            for d in os.scandir(batch_dir.path)
        }

    snap1 = _run(_BATCH1, "b1.json")
    # (a) on-disk layout: every partition value is the row's band hash
    rows = read_log(spark, bands_path).collect()
    assert rows
    # NB: recompute with the table's own types — F.hash of an int and
    # a bigint differ, and band_val is int in the stream
    check = spark.createDataFrame(
        [(r.band_idx, r.band_val, r[BUCKET_COL]) for r in rows],
        f"band_idx int, band_val int, {BUCKET_COL} int",
    ).withColumn(
        "expect", F.pmod(F.hash("band_idx", "band_val"), F.lit(64))
    )
    assert check.filter(F.col(BUCKET_COL) != F.col("expect")).count() == 0
    # batch subtree exists with multiple band partitions inside
    batch_dirs = [
        d for d in os.listdir(bands_path) if d.startswith("batch_id")
    ]
    assert batch_dirs == ["batch_id=0"]
    assert len(snap1) >= 2
    # (b) the pruned probe read plans a PartitionFilter, not a full scan
    some_part = int(next(iter(snap1))[1].split("=")[1])
    probe = read_log(spark, bands_path).filter(
        F.col(BUCKET_COL).isin([some_part])
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan.split(
        "PartitionFilters"
    )[1][:200]
    # (c) append-only write: the second trigger creates ONLY its own
    # batch_id=1 subtree — batch 0's files are untouched (same mtimes)
    snap2 = _run(_BATCH2, "b2.json")
    assert all(snap2[k] == v for k, v in snap1.items())
    assert sorted(
        d for d in os.listdir(bands_path) if d.startswith("batch_id")
    ) == ["batch_id=0", "batch_id=1"]


def _subtrees(spark, path):
    """batch ids of the live snapshot of the log at ``path``."""
    import os

    from myrecommendsystem_spark.streaming.recommender import _snapshot

    snap = _snapshot(spark, path)
    return sorted(
        int(d.split("=")[1]) for d in os.listdir(snap) if d.startswith("batch_id=")
    )


def _parquet_files(path):
    import os

    return sum(
        n.endswith(".parquet") for _, _, names in os.walk(path) for n in names
    )


@pytest.mark.slow
def test_compact_log_folds_epochs_and_drops_stale(spark, tmp_path):
    """The band log's offline compaction — compact_log folds every
    batch_id subtree into one COMPACTED_EPOCH subtree of a new snapshot,
    drops STALE band rows (a vec_id re-arriving with a changed embedding
    leaves its old batches' rows behind), keeps each row's band
    partition, and is idempotent.  Gating semantics before/after
    compaction are pinned identical."""
    from pyspark.sql import Window

    src = tmp_path / "vectors_in"
    src.mkdir()
    out_path = str(tmp_path / "survivors")
    bands_path = out_path + "_bands"
    ckpt = str(tmp_path / "ckpt")

    def _run(rows, fname):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(_SCHEMA).json(str(src))
        q = run_semantic_dedup_stream(
            stream, out_path, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination(120)

    # three triggers: batch 0 -> survivors {1, 3}; batch 1 -> {11};
    # batch 2 re-arrives vec_id 3 with a DIFFERENT embedding (axis 4,
    # orthogonal to everything -> survives the gate, its vector row is
    # replaced, and its batch-0 band rows become stale)
    _run(_BATCH1, "b1.json")
    _run(_BATCH2, "b2.json")
    _run([{"vec_id": 3, "embedding": _vec(4)}], "b3.json")
    log = read_log(spark, bands_path)
    pre_rows = log.count()
    # expected keep-set: each vec_id's rows from its LATEST batch only
    expect = {
        (r.vec_id, r.band_idx, r.band_val)
        for r in log.withColumn(
            "_m", F.max("batch_id").over(Window.partitionBy("vec_id"))
        ).filter(F.col("batch_id") == F.col("_m")).collect()
    }
    assert pre_rows > len(expect), "fixture must produce stale rows (vec 3 batch-0)"
    assert _subtrees(spark, bands_path) == [0, 1, 2]
    files_before = _parquet_files(bands_path)

    compact_log(spark, bands_path, "vec_id", BUCKET_COL)
    assert _subtrees(spark, bands_path) == [COMPACTED_EPOCH]
    assert _parquet_files(bands_path) < files_before
    after = read_log(spark, bands_path)
    got = [(r.vec_id, r.band_idx, r.band_val) for r in after.collect()]
    assert sorted(got) == sorted(expect)
    # bucket partition values survived the rewrite unchanged
    check = after.withColumn(
        "_e",
        F.pmod(
            F.hash(
                F.col("band_idx").cast("int"), F.col("band_val").cast("int")
            ),
            F.lit(64),
        ),
    )
    assert check.filter(F.col(BUCKET_COL) != F.col("_e")).count() == 0
    # idempotent: a second compaction keeps everything
    compact_log(spark, bands_path, "vec_id", BUCKET_COL)
    assert read_log(spark, bands_path).count() == len(expect)

    # gating semantics after compaction: dup of untouched survivor 1 is
    # gated; dup of vec 3's NEW embedding is gated; a vector near vec
    # 3's OLD (superseded) embedding matches nothing current -> survives
    _run(
        [
            {"vec_id": 20, "embedding": _vec(0, eps_axis=5)},
            {"vec_id": 21, "embedding": _vec(4, eps_axis=6)},
            {"vec_id": 22, "embedding": _vec(1, eps_axis=7)},
        ],
        "b4.json",
    )
    final = sorted(
        r.vec_id for r in read_upserted(spark, out_path, "vec_id").collect()
    )
    assert final == [1, 3, 11, 22]


@pytest.mark.slow
def test_scheduled_compaction_bounds_uncompacted_subtrees(spark, tmp_path):
    """``compact_every=N`` folds both logs (vectors and bands) at the
    start of every N-th trigger — a long stream holds at most N
    uncompacted batch_id subtrees per log (plus the folded
    COMPACTED_EPOCH) instead of one per trigger forever, and gating
    results across a compaction boundary are identical to the
    never-compacted stream (same survivors, same arrival tags)."""
    batches = [
        _BATCH1,  # batch 0 -> survivors {1, 3}
        _BATCH2,  # batch 1 -> {11}
        # batch 2 folds batches 0-1 first: 20 dups COMPACTED survivor 1
        # (gated out), 30 is fresh
        [
            {"vec_id": 20, "embedding": _vec(0, eps_axis=5)},
            {"vec_id": 30, "embedding": _vec(5)},
        ],
        [{"vec_id": 40, "embedding": _vec(6)}],
        # batch 4 folds again: 41 dups 40, which batch 3 appended
        [
            {"vec_id": 41, "embedding": _vec(6, eps_axis=8)},
            {"vec_id": 50, "embedding": _vec(7)},
        ],
    ]

    def _run_all(root, compact_every):
        src = root / "vectors_in"
        src.mkdir()
        out_path = str(root / "survivors")
        ckpt = str(root / "ckpt")
        trees = []
        for i, rows in enumerate(batches):
            with open(src / f"b{i}.json", "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            stream = spark.readStream.schema(_SCHEMA).json(str(src))
            q = run_semantic_dedup_stream(
                stream,
                out_path,
                ckpt,
                trigger={"availableNow": True},
                compact_every=compact_every,
            )
            q.awaitTermination(120)
            trees.append(
                (_subtrees(spark, out_path), _subtrees(spark, out_path + "_bands"))
            )
        surv = sorted(
            (r.vec_id, r.arrived_batch)
            for r in read_upserted(spark, out_path, "vec_id").collect()
        )
        return trees, surv

    plain_dir, sched_dir = tmp_path / "plain", tmp_path / "sched"
    plain_dir.mkdir(), sched_dir.mkdir()
    _, surv_plain = _run_all(plain_dir, compact_every=None)
    trees, surv_sched = _run_all(sched_dir, compact_every=2)
    assert surv_sched == surv_plain  # gating unchanged by compaction
    assert [v for v, _ in surv_sched] == [1, 3, 11, 30, 40, 50]
    e = COMPACTED_EPOCH
    expected = [[0], [0, 1], [e, 2], [e, 2, 3], [e, 4]]
    assert [vectors for vectors, _ in trees] == expected
    assert [bands for _, bands in trees] == expected
    # the bound: never more than compact_every uncompacted subtrees
    assert all(
        sum(1 for b in t if b >= 0) <= 2 for pair in trees for t in pair
    )
