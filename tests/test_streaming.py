"""Streaming module tests — pure-function cycle + real Structured Streaming.

The recommendation cycle is asserted against a hand-computed scenario
(priority formula semantics from StreamingRecommender.scala:197-231 —
including the default-1 log10 counts), then the same functions are run
under a real streaming runtime (file source → foreachBatch / memory sink,
availableNow trigger).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import Row, functions as F

from myrecommendsystem_spark.streaming.log_filter import filter_rating_log
from myrecommendsystem_spark.streaming.recommender import (
    COMPACTED_EPOCH,
    compact_log,
    compact_recent_ratings,
    read_log,
    read_upserted,
    run_streaming_recommender,
    stream_recs_flat,
    upsert_by_key,
)
from myrecommendsystem_spark.streaming.windows import (
    dedup_within_watermark,
    tumbling_event_counts,
)

EVENT_SCHEMA = "userId int, productId int, score double, ts long"


def _sims(spark):
    pairs = [(1, 2, 0.9), (1, 3, 0.8), (1, 4, 0.7), (2, 5, 0.65)]
    rows = [Row(pid=a, other_pid=b, sim=s) for a, b, s in pairs]
    rows += [Row(pid=b, other_pid=a, sim=s) for a, b, s in pairs]
    return spark.createDataFrame(rows)


def _scenario(spark):
    """User 100: triggers on product 1, has seen {1, 3}, recent = {1:5.0, 5:2.0}."""
    events = spark.createDataFrame(
        [(100, 5, 2.0, 10), (100, 1, 5.0, 20)], EVENT_SCHEMA
    )
    seen = spark.createDataFrame(
        [(100, 1), (100, 3)], "userId int, productId int"
    )
    recent = spark.createDataFrame(
        [(100, 1, 5.0, 20), (100, 5, 2.0, 10)], EVENT_SCHEMA
    )
    return events, _sims(spark), seen, recent


def test_filter_rating_log(spark):
    df = spark.createDataFrame(
        [
            ("app PRODUCT_RATING_PREFIX:7|42|4.5|1000",),
            ("heartbeat ok",),
            ("PRODUCT_RATING_PREFIX:  8|43|2.0|2000  ",),
        ],
        "value string",
    )
    out = filter_rating_log(df).collect()
    assert [r.value for r in out] == ["7|42|4.5|1000", "8|43|2.0|2000"]


def test_compact_recent_ratings_keeps_k_most_recent(spark):
    rows = [(1, p, float(p % 5), p) for p in range(1, 26)]  # ts == productId
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = compact_recent_ratings(df, k=20)
    got = sorted(r.productId for r in out.collect())
    assert got == list(range(6, 26))  # the 20 most recent, exactly k


def test_stream_recs_flat_scenario(spark):
    events, sims, seen, recent = _scenario(spark)
    got = stream_recs_flat(events, sims, seen, recent).collect()
    # candidate 3 excluded (seen); candidate 4: avg(0.7*5)=3.5 + log10(1)
    # - log10(default 1) = 3.5; candidate 2: avg(0.9*5, 0.65*2) = 2.9.
    as_tuples = [(r.userId, r.candidateId, r.priority, r.rnk) for r in got]
    assert as_tuples == [(100, 4, 3.5, 1), (100, 2, 2.9, 2)]


def test_stream_recs_nested_shape(spark):
    from myrecommendsystem_spark.streaming.recommender import stream_recs_for_events

    events, sims, seen, recent = _scenario(spark)
    out = stream_recs_for_events(events, sims, seen, recent).collect()
    assert len(out) == 1
    recs = out[0].recs
    assert [(r.productId, r.score) for r in recs] == [(4, 3.5), (2, 2.9)]


def test_upsert_by_key_replaces(spark, tmp_path):
    path = str(tmp_path / "recs")
    b1 = spark.createDataFrame([(1, "a"), (2, "a")], "userId int, payload string")
    b2 = spark.createDataFrame([(2, "b"), (3, "b")], "userId int, payload string")
    upsert_by_key(spark, b1, path, 0)
    upsert_by_key(spark, b2, path, 1)
    got = {(r.userId, r.payload) for r in read_upserted(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "b")}


def test_upsert_by_key_replaces_a_keys_rows_as_a_set(spark, tmp_path):
    """A key's rows come from its latest batch only: a key that had three
    rows and re-arrives with one keeps one, never a mix of batches."""
    schema = "userId int, payload string"
    path = str(tmp_path / "recs")
    upsert_by_key(spark, spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")], schema
    ), path, 0)
    upsert_by_key(spark, spark.createDataFrame(
        [(1, "d"), (3, "a"), (3, "b")], schema
    ), path, 1)
    got = sorted((r.userId, r.payload) for r in read_upserted(spark, path).collect())
    assert got == [(1, "d"), (2, "a"), (2, "b"), (3, "a"), (3, "b")]
    before_1 = read_upserted(spark, path, before=1).collect()
    assert sorted((r.userId, r.payload) for r in before_1) == [
        (1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")
    ]


def test_upsert_by_key_empty_batch_leaves_the_sink_alone(spark, tmp_path):
    """An empty batch creates no directory (an empty one has no schema to
    read), and after the first batch it leaves the log's files as they
    were."""
    schema = "userId int, payload string"
    path = str(tmp_path / "recs")
    upsert_by_key(spark, spark.createDataFrame([], schema), path, 0)
    assert not os.path.exists(path)
    upsert_by_key(spark, spark.createDataFrame([(1, "a")], schema), path, 1)
    layout = _parquet_dirs(path)
    upsert_by_key(spark, spark.createDataFrame([], schema), path, 2)
    assert _parquet_dirs(path) == layout
    got = [(r.userId, r.payload) for r in read_upserted(spark, path).collect()]
    assert got == [(1, "a")]


def test_fs_exists_probe_is_scheme_aware(spark, tmp_path):
    """The log's existence probe (the semantic-dedup trigger's first
    batch, ``compact_log`` on a log never written) goes through the
    Hadoop FileSystem API, so it resolves non-local URIs instead of
    os.path's silent False: a nonexistent path (bare and file:-schemed)
    probes False and probes True after the first append."""
    from myrecommendsystem_spark.streaming.recommender import _fs_exists

    path = str(tmp_path / "never_written")
    assert _fs_exists(spark, path) is False
    assert _fs_exists(spark, "file://" + path) is False
    b1 = spark.createDataFrame([(7, "a")], "userId int, payload string")
    upsert_by_key(spark, b1, path, 0)
    assert _fs_exists(spark, path) is True
    assert _fs_exists(spark, "file://" + path) is True
    got = {(r.userId, r.payload) for r in read_upserted(spark, path).collect()}
    assert got == {(7, "a")}


def _parquet_dirs(path):
    """{directory → {(file, size, mtime_ns)}} for every directory under
    ``path`` that holds parquet files."""
    out = {}
    for dirpath, _, names in os.walk(path):
        files = {
            (n, os.path.getsize(os.path.join(dirpath, n)),
             os.stat(os.path.join(dirpath, n)).st_mtime_ns)
            for n in names
            if n.endswith(".parquet")
        }
        if files:
            out[dirpath] = files
    return out


def test_upsert_by_key_rewrites_only_touched_partitions(spark, tmp_path):
    """Incremental-IO contract: a micro-batch writes only its own
    ``batch_id`` subtree and reads nothing; every earlier subtree keeps
    its files byte for byte (same names, sizes, mtimes) — per-trigger
    cost is O(batch), not O(table)."""
    path = str(tmp_path / "recs")
    b1 = spark.createDataFrame(
        [(u, "a") for u in range(40)], "userId int, payload string"
    )
    upsert_by_key(spark, b1, path, 0)
    before = _parquet_dirs(path)
    assert [os.path.basename(d) for d in before] == ["batch_id=0"]

    upsert_by_key(
        spark,
        spark.createDataFrame([(0, "b")], "userId int, payload string"),
        path,
        1,
    )
    after = _parquet_dirs(path)
    assert {d: after[d] for d in before} == before
    assert sorted(os.path.basename(d) for d in after) == [
        "batch_id=0", "batch_id=1"
    ]
    got = {(r.userId, r.payload) for r in read_upserted(spark, path).collect()}
    assert got == {(u, "a") for u in range(1, 40)} | {(0, "b")}
    assert read_upserted(spark, path).columns == ["userId", "payload"]


def test_upsert_by_key_replay_reads_as_once_in_one_subtree(spark, tmp_path):
    """A micro-batch replayed after a crash between the sink write and
    the stream's commit writes the same ``batch_id`` twice; the log must
    read as one write of that batch and hold it in one subtree."""
    schema = "userId int, payload string"
    base = spark.createDataFrame([(u, "a") for u in range(40)], schema)
    batch = spark.createDataFrame([(u, "b") for u in range(0, 60, 3)], schema)
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    for path in (once, twice):
        upsert_by_key(spark, base, path, 0)
    upsert_by_key(spark, batch, once, 1)
    upsert_by_key(spark, batch, twice, 1)
    upsert_by_key(spark, batch, twice, 1)

    def _rows(path):
        return sorted(
            (r.userId, r.payload) for r in read_upserted(spark, path).collect()
        )

    expected = sorted(
        [(u, "a") for u in range(40) if u % 3]
        + [(u, "b") for u in range(0, 60, 3)]
    )
    assert _rows(once) == expected
    assert _rows(twice) == expected
    assert read_log(spark, twice).count() == 40 + 20
    assert sorted(os.path.basename(d) for d in _parquet_dirs(twice)) == [
        "batch_id=0", "batch_id=1"
    ]


class _CrashingFs:
    """A Hadoop FileSystem whose ``method`` raises: the process dies at
    that step."""

    def __init__(self, fs, method):
        self._fs, self._method = fs, method

    def __getattr__(self, name):
        if name == self._method:
            raise RuntimeError(f"killed at FileSystem.{name}")
        return getattr(self._fs, name)


@pytest.mark.parametrize("step", ["create", "delete"])
def test_compact_log_crash_between_steps_keeps_the_rows(
    spark, tmp_path, monkeypatch, step
):
    """Kill ``compact_log`` after it wrote the new snapshot but before its
    commit marker (``create``), or after the marker but before the old
    snapshot is deleted (``delete``): the log reads the same rows, takes
    appends, and the next compaction leaves one snapshot with one epoch."""
    from myrecommendsystem_spark.streaming import recommender

    schema = "userId int, payload string"
    path = str(tmp_path / "recs")
    for batch_id, rows in enumerate([[(1, "a"), (2, "a")], [(2, "b"), (3, "b")]]):
        upsert_by_key(spark, spark.createDataFrame(rows, schema), path, batch_id)

    def rows():
        return sorted(
            (r.userId, r.payload) for r in read_upserted(spark, path).collect()
        )

    expected = rows()
    real_fs = recommender._fs

    def crashing_fs(spark, p):
        fs, hadoop_path = real_fs(spark, p)
        return _CrashingFs(fs, step), hadoop_path

    monkeypatch.setattr(recommender, "_fs", crashing_fs)
    with pytest.raises(RuntimeError, match="killed"):
        compact_log(spark, path, "userId")
    monkeypatch.setattr(recommender, "_fs", real_fs)
    assert rows() == expected

    upsert_by_key(spark, spark.createDataFrame([(4, "c")], schema), path, 2)
    compact_log(spark, path, "userId")
    assert rows() == expected + [(4, "c")]
    live = [d for d in os.listdir(path) if not d.startswith(".")]
    assert len(live) == 1 and live[0].startswith("_v")
    assert sorted(
        d for d in os.listdir(os.path.join(path, live[0])) if not d.startswith(".")
    ) == ["_COMMITTED", "_SUCCESS", f"batch_id={COMPACTED_EPOCH}"]


def test_sink_recovers_from_a_crash_inside_its_commit(
    spark, tmp_path, monkeypatch
):
    """Kill the recommender inside the second micro-batch's sink call, at
    the point a dynamic-overwrite commit has deleted the partition
    directories it replaces but not yet moved the new files in, then
    restart from the checkpoint: the replayed batch must leave the sink
    equal to an uninterrupted run and to the batch twin (replace-by-key
    over both batches)."""
    import shutil

    from myrecommendsystem_spark.streaming import recommender

    src = tmp_path / "events_in"
    src.mkdir()
    batches = [
        [(u, 1, 5.0, 10) for u in range(40)],
        [(0, 2, 4.0, 20), (40, 1, 5.0, 20)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for u, p, s, ts in rows:
                f.write(json.dumps(
                    {"userId": u, "productId": p, "score": s, "ts": ts}
                ) + "\n")
        # the file source orders files by modification time
        stamp = time.time() - 60 + i
        os.utime(src / f"b{i}.json", (stamp, stamp))
    sims = _sims(spark)
    seen = spark.createDataFrame([], "userId int, productId int")
    recent = spark.createDataFrame(
        [(u, p, s, 1) for u in range(41) for p, s in ((1, 5.0), (2, 3.0))],
        EVENT_SCHEMA,
    )

    def run(out_path, ckpt):
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = run_streaming_recommender(
            stream, sims, seen, recent, out_path=out_path, checkpoint=ckpt,
            trigger={"availableNow": True},
        )
        try:
            q.awaitTermination(120)
        except Exception:  # the query's own error, returned below
            pass
        return q.exception()

    real_sink = recommender.upsert_by_key
    calls = []

    def crashing_sink(*args, **kwargs):
        calls.append(1)
        if len(calls) < 2:
            return real_sink(*args, **kwargs)
        path = args[2]
        before = _parquet_dirs(path)
        real_sink(*args, **kwargs)
        after = _parquet_dirs(path)
        for d in after:
            if after[d] != before.get(d):
                shutil.rmtree(d)
        raise RuntimeError("killed inside the sink commit")

    faulty, ckpt = str(tmp_path / "faulty"), str(tmp_path / "ck_faulty")
    monkeypatch.setattr(recommender, "upsert_by_key", crashing_sink)
    assert run(faulty, ckpt) is not None
    monkeypatch.setattr(recommender, "upsert_by_key", real_sink)
    assert run(faulty, ckpt) is None
    clean = str(tmp_path / "clean")
    assert run(clean, str(tmp_path / "ck_clean")) is None

    def rows(df):
        return sorted(
            (r.userId, tuple((x.productId, x.score) for x in r.recs))
            for r in df.collect()
        )

    twin = {}
    for rs in batches:
        events = spark.createDataFrame(rs, EVENT_SCHEMA)
        twin.update(dict(rows(recommender.stream_recs_for_events(
            events, sims, seen, recent
        ))))
    assert len(twin) == 41
    got = rows(recommender.read_upserted(spark, faulty))
    assert got == rows(recommender.read_upserted(spark, clean))
    assert got == sorted(twin.items())


def test_sinks_leave_session_conf_and_block_storage_alone(
    spark, tmp_path, monkeypatch
):
    """Operators never change session-global conf, and a micro-batch's
    sink work frees every cache and checkpoint block it pinned: two log
    appends and one semantic-dedup trigger (vector append, band-log
    append, near-dup closure) make no ``RuntimeConfig.set`` call and
    leave the persisted-RDD count where it started."""
    from myrecommendsystem_spark.streaming.semantic_dedup import (
        run_semantic_dedup_stream,
    )
    from tests.test_streaming_semantic_dedup import _BATCH1, _SCHEMA

    conf_cls = type(spark.conf)
    set_keys = []
    real_set = conf_cls.set

    def _recording_set(self, key, *args, **kwargs):
        set_keys.append(key)
        return real_set(self, key, *args, **kwargs)

    jsc = spark.sparkContext._jsc
    pinned_before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(conf_cls, "set", _recording_set)

    schema = "userId int, payload string"
    path = str(tmp_path / "recs")
    b1 = spark.createDataFrame([(1, "a"), (2, "a")], schema)
    b2 = spark.createDataFrame([(2, "b"), (3, "b")], schema)
    upsert_by_key(spark, b1, path, 0)
    upsert_by_key(spark, b2, path, 1)
    got = {(r.userId, r.payload) for r in read_upserted(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "b")}

    src = tmp_path / "vectors_in"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
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
    assert q.exception() is None
    survivors = read_upserted(spark, out_path, "vec_id").collect()
    assert sorted(r.vec_id for r in survivors) == [1, 3]
    assert os.path.isdir(out_path + "_bands")

    assert set_keys == []
    assert jsc.getPersistentRDDs().size() == pinned_before


def test_streaming_recommender_end_to_end(spark, tmp_path):
    """File source → foreachBatch cycle → parquet sink, availableNow."""
    src = tmp_path / "events_in"
    src.mkdir()
    with open(src / "batch.json", "w") as f:
        for row in [
            {"userId": 100, "productId": 5, "score": 2.0, "ts": 10},
            {"userId": 100, "productId": 1, "score": 5.0, "ts": 20},
        ]:
            f.write(json.dumps(row) + "\n")

    _, sims, seen, recent = _scenario(spark)
    stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    out_path = str(tmp_path / "recs_out")
    q = run_streaming_recommender(
        stream,
        sims,
        seen,
        recent,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    rows = read_upserted(spark, out_path).collect()
    assert len(rows) == 1
    assert [(r.productId, r.score) for r in rows[0].recs] == [(4, 3.5), (2, 2.9)]


def test_log_filter_streaming_memory_sink(spark, tmp_path):
    src = tmp_path / "log_in"
    src.mkdir()
    (src / "lines.txt").write_text(
        "x PRODUCT_RATING_PREFIX:7|42|4.5|1000\nnoise\n"
    )
    stream = spark.readStream.text(str(src))
    q = (
        filter_rating_log(stream)
        .writeStream.format("memory")
        .queryName("log_filter_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM log_filter_t").collect()
    assert [r.value for r in got] == ["7|42|4.5|1000"]


def test_tumbling_counts_streaming_complete_mode(spark, tmp_path):
    src = tmp_path / "ev_in"
    src.mkdir()
    with open(src / "e.json", "w") as f:
        for uid, ts in [(1, "2024-01-01 00:10:00"), (2, "2024-01-01 00:50:00"),
                        (3, "2024-01-01 01:10:00")]:
            f.write(json.dumps({"userId": uid, "value": 1.0, "ts": ts}) + "\n")
    stream = (
        spark.readStream.schema("userId int, value double, ts string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        tumbling_event_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.cnt)
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    assert got == {("2024-01-01 00:00:00", 2), ("2024-01-01 01:00:00", 1)}


def test_full_topology_log_lines_to_recs(spark, tmp_path):
    """Kafka-stand-in capstone: raw log lines stream in (S11), the rating
    filter + parse (P6/T2), the recommendation cycle (T5/T6), and the
    replace-by-key sink (S10) all run inside one real streaming query."""
    from myrecommendsystem_spark.io import readers
    from pyspark.sql import functions as F

    src = tmp_path / "log_in"
    src.mkdir()
    (src / "log.txt").write_text(
        "web PRODUCT_RATING_PREFIX:100|5|2.0|10\n"
        "heartbeat noise line\n"
        "web PRODUCT_RATING_PREFIX:100|1|5.0|20\n"
    )
    _, sims, seen, recent = _scenario(spark)

    stream = spark.readStream.text(str(src))
    events = readers.read_rating_lines(filter_rating_log(stream)).select(
        "userId", "productId", "score", F.col("timestamp").cast("long").alias("ts")
    )
    out_path = str(tmp_path / "recs_out")
    q = run_streaming_recommender(
        events,
        sims,
        seen,
        recent,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    rows = read_upserted(spark, out_path).collect()
    assert len(rows) == 1 and rows[0].userId == 100
    assert [(r.productId, r.score) for r in rows[0].recs] == [(4, 3.5), (2, 2.9)]


def test_dedup_within_watermark_memory_sink(spark, tmp_path):
    """duplicate keys inside the watermark horizon are emitted once; state
    is bounded by the watermark, so a key re-appearing is NOT a duplicate
    once the horizon has passed it."""
    src = tmp_path / "dd_in"
    src.mkdir()
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:05:00", 2.0),   # dup key within horizon → dropped
        (2, "2024-01-01 00:10:00", 3.0),
        (2, "2024-01-01 00:10:00", 3.0),   # exact dup → dropped
        (3, "2024-01-01 09:00:00", 4.0),
    ]
    with open(src / "e.json", "w") as f:
        for uid, ts, v in rows:
            f.write(json.dumps({"userId": uid, "value": v, "ts": ts}) + "\n")
    stream = (
        spark.readStream.schema("userId int, value double, ts string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        dedup_within_watermark(stream, ["userId"], watermark="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT userId FROM dedup_t").collect()
    assert sorted(r.userId for r in got) == [1, 2, 3]


def test_streaming_ingest_dedup_by_fingerprint(spark, tmp_path):
    """Corpus-ingestion dedup as a STREAM: layout-noisy recrawls of the
    same page dedup on the normalized md5 fingerprint (the batch
    cross_corpus_dedup key) within the watermark horizon."""
    from myrecommendsystem_spark.functions.text import exact_fingerprint

    src = tmp_path / "ingest_in"
    src.mkdir()
    docs = [
        (1, "A page   about Spark", "2024-01-01 00:00:00"),
        (2, "a PAGE about spark", "2024-01-01 00:10:00"),  # recrawl → dropped
        (3, "a different page", "2024-01-01 00:20:00"),
    ]
    with open(src / "d.json", "w") as f:
        for i, text, ts in docs:
            f.write(json.dumps({"doc_id": i, "text": text, "ts": ts}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string, ts string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withColumn("fp", exact_fingerprint(F.col("text")))
    )
    q = (
        dedup_within_watermark(stream, ["fp"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("ingest_dd")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM ingest_dd").collect())
    assert got == [1, 3]


def test_kafka_source_schema_contract(spark, tmp_path):
    """S7 contract: read_kafka_lines and the file source feed the SAME
    downstream parse path, so their output schema must be identical —
    one `value: string` column.  The container has no broker/connector;
    if the kafka DataSource is unavailable the wiring claim is untestable
    here and the test skips (the schema pin still guards any environment
    that does ship the connector)."""
    from myrecommendsystem_spark.io.readers import read_kafka_lines

    src = tmp_path / "contract_in"
    src.mkdir()
    (src / "x.txt").write_text("a\n")
    file_df = spark.readStream.text(str(src))
    try:
        kafka_df = read_kafka_lines(spark, "localhost:9092", "ratings")
    except Exception as e:  # missing spark-sql-kafka package
        pytest.skip(f"kafka connector unavailable: {type(e).__name__}")
    assert kafka_df.schema == file_df.schema


def test_interval_join_streaming(spark, tmp_path):
    """Stream-stream interval join: purchases within 30 min after a view by
    the same user, both sides watermarked.  The streamed result must equal
    the batch execution of the identical plan (the oracle-gated twin)."""
    from myrecommendsystem_spark.streaming.joins import interval_join

    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    vdir.mkdir(); pdir.mkdir()
    views = [
        (100, 1, "2024-01-01 10:00:00"),
        (101, 1, "2024-01-01 12:00:00"),
        (102, 2, "2024-01-01 10:05:00"),
    ]
    purchases = [
        (1, "2024-01-01 10:10:00", 5.0),   # within 30m of view 100
        (1, "2024-01-01 10:29:59", 7.0),   # boundary: still within view 100
        (1, "2024-01-01 12:31:00", 9.0),   # beyond 30m of view 101 → no match
        (2, "2024-01-01 10:04:00", 3.0),   # before view 102 → no match
    ]
    with open(vdir / "v.json", "w") as f:
        for vid, uid, ts in views:
            f.write(json.dumps({"view_id": vid, "user_id": uid, "view_ts": ts}) + "\n")
    with open(pdir / "p.json", "w") as f:
        for uid, ts, val in purchases:
            f.write(json.dumps({"user_id": uid, "purchase_ts": ts, "purchase_val": val}) + "\n")

    vstream = (
        spark.readStream.schema("view_id int, user_id int, view_ts string")
        .json(str(vdir))
        .withColumn("view_ts", F.to_timestamp("view_ts"))
    )
    pstream = (
        spark.readStream.schema("user_id int, purchase_ts string, purchase_val double")
        .json(str(pdir))
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    q = (
        interval_join(vstream, pstream, key="user_id",
                      left_ts="view_ts", right_ts="purchase_ts")
        .select("view_id", "purchase_val")
        .writeStream.format("memory")
        .queryName("ij_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.view_id, r.purchase_val)
        for r in spark.sql("SELECT view_id, purchase_val FROM ij_t").collect()
    )
    assert got == [(100, 5.0), (100, 7.0)]


def test_interval_join_outer_streaming(spark, tmp_path):
    """Left-outer stream-stream interval join: views with no purchase in
    the window must STILL emit (null-padded) — but only after the
    watermark passes, which availableNow + a far-future sentinel row on
    both sides guarantees here."""
    from myrecommendsystem_spark.streaming.joins import interval_join_outer

    vdir, pdir = tmp_path / "views_o", tmp_path / "purch_o"
    vdir.mkdir(); pdir.mkdir()
    views = [
        (100, 1, "2024-01-01 10:00:00"),   # converts
        (101, 1, "2024-01-01 12:00:00"),   # no purchase in window
        (102, 2, "2024-01-01 10:05:00"),   # purchase BEFORE view → unmatched
        (999, 9, "2024-01-03 00:00:00"),   # watermark pusher
    ]
    purchases = [
        (1, "2024-01-01 10:10:00", 5.0),
        (2, "2024-01-01 10:04:00", 3.0),
        (9, "2024-01-03 00:00:00", 0.0),   # watermark pusher
    ]
    with open(vdir / "v.json", "w") as f:
        for vid, uid, ts in views:
            f.write(json.dumps({"view_id": vid, "user_id": uid, "view_ts": ts}) + "\n")
    with open(pdir / "p.json", "w") as f:
        for uid, ts, val in purchases:
            f.write(json.dumps({"user_id": uid, "purchase_ts": ts, "purchase_val": val}) + "\n")

    vstream = (
        spark.readStream.schema("view_id int, user_id int, view_ts string")
        .json(str(vdir))
        .withColumn("view_ts", F.to_timestamp("view_ts"))
    )
    pstream = (
        spark.readStream.schema("user_id int, purchase_ts string, purchase_val double")
        .json(str(pdir))
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    q = (
        interval_join_outer(vstream, pstream, key="user_id",
                            left_ts="view_ts", right_ts="purchase_ts",
                            watermark="1 hour")
        .select("view_id", "purchase_val")
        .writeStream.format("memory")
        .queryName("ijo_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.view_id, r.purchase_val)
        for r in spark.sql("SELECT view_id, purchase_val FROM ijo_t").collect()
    )
    # 100 matched; 101 and 102 emitted null-padded; sentinel 999 matched
    # its own-key purchase at equal ts
    assert (100, 5.0) in got
    assert (101, None) in got
    assert (102, None) in got


@pytest.mark.slow
def test_streaming_soak_state_stays_bounded(spark, tmp_path):
    """20+ micro-batch soak of the recent-K state (T4): with one file
    per trigger, every batch's emitted buffer stays ≤ K rows per user
    and ≤ n_users keys — the O(users × K) state bound
    (StreamingRecommender.scala:48-50) holds under sustained input, not
    just the 2-3 batches the e2e test drives."""
    from myrecommendsystem_spark.streaming.state import recent_ratings_state

    n_users, k, n_files = 8, 5, 22
    src = tmp_path / "soak_in"
    src.mkdir()
    for i in range(n_files):
        with open(src / f"b{i:03d}.json", "w") as f:
            for u in range(n_users):
                f.write(
                    json.dumps(
                        {
                            "userId": u,
                            "productId": i + 1,
                            "score": float((i + u) % 5 + 1),
                            "ts": 1000 + i,
                        }
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    batches = []
    q = (
        recent_ratings_state(stream, k=k)
        .writeStream.foreachBatch(
            lambda df, bid: batches.append((bid, df.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "soak_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(batches) >= 20
    for _, rows in batches:
        per_user = {}
        for r in rows:
            per_user.setdefault(r.userId, []).append(r)
        assert len(per_user) <= n_users
        assert all(len(v) <= k for v in per_user.values())
    # final buffers hold exactly the k most recent ts per user
    last = batches[-1][1]
    for u in range(n_users):
        tss = sorted(r.ts for r in last if r.userId == u)
        assert tss == list(range(1000 + n_files - k, 1000 + n_files))


@pytest.mark.slow
def test_streaming_soak_redelivery_keeps_recs_stable(spark, tmp_path):
    """S10/T6 under re-delivery: 20 micro-batches of rating events flow
    through the full recommender cycle; a complete REPLAY of the stream
    from a fresh checkpoint must leave the keyed recs table identical —
    replace-by-key, never append — so at-least-once delivery cannot
    grow the table."""
    n_users, n_files = 6, 20
    src = tmp_path / "redeliver_in"
    src.mkdir()
    for i in range(n_files):
        with open(src / f"b{i:03d}.json", "w") as f:
            for u in range(n_users):
                f.write(
                    json.dumps(
                        {"userId": u, "productId": 1, "score": 5.0, "ts": 100 + i}
                    )
                    + "\n"
                )
    sims = _sims(spark)
    seen = spark.createDataFrame([], "userId int, productId int")
    recent = spark.createDataFrame(
        [(u, 1, 5.0, 99) for u in range(n_users)], EVENT_SCHEMA
    )
    out_path = str(tmp_path / "recs_soak")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = run_streaming_recommender(
            stream,
            sims,
            seen,
            recent,
            out_path=out_path,
            checkpoint=str(tmp_path / ckpt),
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)

    def snap():
        return sorted(
            (r.userId, tuple((x.productId, x.score) for x in r.recs))
            for r in read_upserted(spark, out_path).collect()
        )

    run("ck_first")
    first = snap()
    assert first  # the cycle produced recommendations
    assert len(first) == len({u for u, _ in first})  # one row per key
    run("ck_replay")  # full re-delivery, fresh checkpoint
    assert snap() == first


def test_popularity_fallback_fills_cold_users(spark):
    """Users with no model recs get top-k popular UNSEEN products tagged
    'popularity'; users with recs are untouched."""
    from myrecommendsystem_spark.streaming.recommender import (
        recs_with_popularity_fallback,
    )

    recs = spark.createDataFrame(
        [(1, 4, 3.5, 1)], "userId int, candidateId int, priority double, rnk int"
    )
    batch = spark.createDataFrame(
        [(1, 9, 1.0, 5), (2, 9, 1.0, 5)], EVENT_SCHEMA
    )
    pop = spark.createDataFrame(
        [(7, 10), (8, 6), (9, 3)], "productId int, cnt long"
    )
    seen = spark.createDataFrame([(2, 7, 1.0, 1)], EVENT_SCHEMA)
    out = recs_with_popularity_fallback(recs, batch, pop, seen, k=2).collect()
    rows = {(r.userId, r.candidateId): (r.rec_source, r.rnk) for r in out}
    assert rows[(1, 4)] == ("model", 1)  # modeled user untouched
    # user 2: product 7 is seen → next two popular products, pop order
    assert rows[(2, 8)] == ("popularity", 1)
    assert rows[(2, 9)] == ("popularity", 2)
    assert len(rows) == 3


def test_dedup_within_watermark_streaming(spark, tmp_path):
    """Exactly-once-per-key streaming dedup: a duplicate event_id arriving
    in a later micro-batch (inside the watermark horizon) must be dropped
    by the state store, not re-emitted."""
    import json as _json

    from myrecommendsystem_spark.streaming.windows import dedup_within_watermark

    src = tmp_path / "dd_in"
    src.mkdir()
    rows1 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:00:20", "v": 2.0},
        {"event_id": 1, "ts": "2024-01-01 00:00:10", "v": 1.0},  # in-batch dup
    ]
    rows2 = [
        {"event_id": 2, "ts": "2024-01-01 00:00:20", "v": 2.0},  # cross-batch dup
        {"event_id": 3, "ts": "2024-01-01 00:00:30", "v": 3.0},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows1:
            f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("event_id long, ts string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dd_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    with open(src / "b.json", "w") as f:
        for r in rows2:
            f.write(_json.dumps(r) + "\n")
    q2 = (
        dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dd_t2")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = sorted(
        r.event_id for r in spark.sql("SELECT * FROM dd_t2").collect()
    )
    assert got == [1, 2, 3]  # each key exactly once across both batches
