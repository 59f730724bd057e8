"""The streaming half of ``chain_stream``: the recommender, open loop.

Spark's ``rate`` source is the generator: it stamps every row with its
creation time on a fixed schedule, whether or not the query keeps up.  A
seeded hash maps each row to a rating event (userId, productId, score, ts)
over the catalog, and ``streaming.recommender.run_streaming_recommender``
consumes the events on its production 2 s trigger.  The static state is
the offline chain's output: ``product_recs`` is the similarity table, the
loader's ratings are the seen set, and the recent-K table is compacted
from them.

One second of the source at ``RATE`` events/s reaches the program.  The
source's creation time is written into the checkpoint half a second after
a trigger boundary and a few seconds ahead, so the query's first (empty)
micro-batch has planned everything and the wait for the trigger is the
same in every run.  The rate source releases the second whole at its end,
and the next trigger processes it.  Later rows are filtered out before
they reach the program, so the micro-batch running when the query is
stopped is empty and cheap.
"""

from __future__ import annotations

import json
import math
import os
import time
from datetime import datetime

import numpy as np

import common

TRIGGER_MS = 2000
PHASE_MS = 500
LEAD_MS = 7000  # the first, empty micro-batch plans the query in about 4-5 s
# Rows per second are 1000 * 2**k, so 1000/rate is exact in binary and the
# twin can rebuild every event timestamp bit for bit.
RATE = 16_000


def events_from(df, seed: int, size):
    """(value, timestamp) rows of the first second → rating events; the
    same map for the live stream and for the batch twin."""
    from pyspark.sql import functions as F

    def h(salt):
        return F.xxhash64(F.col("value"), F.lit(seed), F.lit(salt))

    return df.filter(F.col("value") < RATE).select(
        F.pmod(h(1), F.lit(size.users)).cast("int").alias("userId"),
        F.pmod(h(2), F.lit(size.products)).cast("int").alias("productId"),
        ((F.pmod(h(3), F.lit(10)) + 1) / 2.0).alias("score"),
        F.col("timestamp").alias("ts"),
    )


def prepare_state(spark, chain_paths: dict, out_dir: str) -> dict:
    """Static tables of the stream from the chain's outputs."""
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.io import writers
    from myrecommendsystem_spark.streaming import recommender

    ratings = spark.read.parquet(chain_paths["ratings"])
    recent = recommender.compact_recent_ratings(
        ratings.select(
            "userId", "productId", "score", F.timestamp_seconds("timestamp").alias("ts")
        )
    )
    paths = {
        "sims": chain_paths["product_recs"],
        "seen": chain_paths["ratings"],
        "recent": os.path.join(out_dir, "recent"),
    }
    writers.write_overwrite(recent, paths["recent"])
    return paths


def _static(spark, paths: dict, fault: str | None):
    sims = spark.read.parquet(paths["sims"])
    if fault == "empty_sims":
        sims = sims.limit(0)
    return sims, spark.read.parquet(paths["seen"]), spark.read.parquet(paths["recent"])


def _set_creation_time(checkpoint: str, ms: int) -> None:
    """The rate source keeps its creation time in the checkpoint's source
    log; writing it before the query starts fixes its event schedule."""
    path = os.path.join(checkpoint, "sources", "0")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "0"), "w") as f:
        f.write(f"v1\n{ms}")


def epoch_ms(iso: str) -> float:
    start = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return (start - datetime(1970, 1, 1)).total_seconds() * 1000.0


def _offsets(p: dict) -> tuple[int, int]:
    """(start, end) of the rate source in a progress report, in seconds."""
    src = p["sources"][0]
    return tuple(
        0 if v in (None, "None", "null") else int(v)
        for v in (src["startOffset"], src["endOffset"])
    )


def run(spark, seed: int, size, paths: dict, fault: str | None = None, name: str = "run") -> dict:
    """Run the query until the measured second is committed, then stop it."""
    from myrecommendsystem_spark.streaming import recommender

    run_dir = common.fresh_dir("stream", name)
    ck, sink = os.path.join(run_dir, "checkpoint"), os.path.join(run_dir, "sink")
    now_ms = time.time() * 1000.0
    c = int(math.ceil((now_ms + LEAD_MS) / TRIGGER_MS) * TRIGGER_MS + PHASE_MS)
    _set_creation_time(ck, c)
    src = (spark.readStream.format("rate").option("rowsPerSecond", RATE)
           .option("numPartitions", common.CORES).load())
    sims, seen, recent = _static(spark, paths, fault)
    with common.StealMarks() as steal:
        query = recommender.run_streaming_recommender(
            events_from(src, seed, size), sims, seen, recent, sink, ck
        )
        deadline = time.time() + LEAD_MS / 1000 + 120
        try:
            while time.time() < deadline and query.exception() is None:
                p = query.lastProgress
                if p is not None and _offsets(p)[1] >= 1:
                    break
                time.sleep(0.02)
        finally:
            query.stop()
    progress = [json.loads(p.json) for p in query.recentProgress]
    for p in progress:
        start = epoch_ms(p["timestamp"]) / 1000.0
        p["steal"] = steal.share(start, start + p["durationMs"]["triggerExecution"] / 1000.0)
    return {"progress": progress, "c": c, "lead_ms": c - now_ms,
            "steal": steal.share(0.0, float("inf")),
            "sink": sink, "error": str(query.exception() or "") or None}


def slice_events(run: dict, p: dict) -> np.ndarray:
    """Creation times (ms) of the measured events in micro-batch ``p``."""
    s0, s1 = _offsets(p)
    values = np.arange(s0 * RATE, min(s1, 1) * RATE)
    return run["c"] + np.floor(values * 1000.0 / RATE + 0.5)


def batches(run: dict) -> list[dict]:
    """Progress of the micro-batches that carried measured events."""
    return [p for p in run["progress"] if slice_events(run, p).size]


def _steal_free_ms(p: dict) -> float:
    """Duration of micro-batch ``p`` less the share of CPU time stolen
    while it ran (see ``common.steal_free``); the wait for the trigger
    before it is idle time and stays as it is."""
    return p["durationMs"]["triggerExecution"] * (1.0 - p["steal"])


def latencies(run: dict) -> np.ndarray:
    """Seconds from each event's creation to the end of the micro-batch
    that processed it, with the micro-batch's steal-free duration."""
    out = [np.array([])]
    for p in batches(run):
        end = epoch_ms(p["timestamp"]) + _steal_free_ms(p)
        out.append((end - slice_events(run, p)) / 1000.0)
    return np.concatenate(out)


def throughput(run: dict) -> float:
    """Events committed per steal-free second of the micro-batches that
    held them."""
    ps = batches(run)
    busy_ms = sum(_steal_free_ms(p) for p in ps)
    return 1000.0 * sum(slice_events(run, p).size for p in ps) / busy_ms


def committed_events(spark, run: dict, seed: int, size):
    """Every event the query committed, rebuilt as a batch DataFrame."""
    from pyspark.sql import functions as F

    n = min(max([_offsets(p)[1] for p in run["progress"]] + [0]), 1) * RATE
    raw = spark.range(0, n).select(
        F.col("id").alias("value"),
        F.timestamp_millis(
            (F.lit(run["c"]) + F.floor(F.col("id") * (1000.0 / RATE) + 0.5)).cast("long")
        ).alias("timestamp"),
    )
    return events_from(raw, seed, size), n


def check_sink(spark, run: dict, seed: int, size, paths: dict) -> tuple[int, int, int]:
    """Sink against the batch twin over all committed events.  Returns
    (committed events, events whose user's row is wrong or missing, sink
    rows); an empty or missing sink fails every event."""
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.streaming import recommender

    events, n_events = committed_events(spark, run, seed, size)
    if not os.path.isdir(run["sink"]):
        return n_events, n_events, 0
    sims, seen, recent = _static(spark, paths, None)
    twin = recommender.stream_recs_for_events(events, sims, seen, recent)
    sink = recommender.read_upserted(spark, run["sink"])
    n_sink = sink.count()
    bad_users = (
        twin.alias("t").join(sink.alias("s"), "userId", "left")
        .filter(F.col("s.recs").isNull() | (F.col("t.recs") != F.col("s.recs")))
        .select("userId")
    )
    wrong = n_events if n_sink == 0 else events.join(bad_users, "userId").count()
    return n_events, wrong, n_sink


def dir_size(path: str) -> tuple[int, float]:
    files, mb = 0, 0.0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                mb += os.path.getsize(os.path.join(dirpath, n)) / 1e6
    return files, mb


def tail_pct(n: int) -> float:
    """Highest of p99.9 / p99 / p90 that has at least ten samples beyond it."""
    for p in (99.9, 99.0, 90.0):
        if n * (1 - p / 100.0) >= 10:
            return p
    return 50.0
