"""The batch half of ``chain_stream``: the reference's offline job chain.

One chain at a time (closed loop): ``apps.run_data_loader`` over the raw
CSV inputs, then ``apps.run_statistics`` and
``apps.run_offline_recommender`` over the loader's parquet ratings.  Every
chain fully overwrites its seven outputs, including the thresholded
item-similarity table.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import common
from inputs import ChainSize, write_chain_inputs

SIZES = {
    "full": ChainSize(ratings=20_000, users=2_000, products=200),
    "tiny": ChainSize(ratings=3_000, users=300, products=40),
}
JOBS = ("run_data_loader", "run_statistics", "run_offline_recommender")
MIN_CHAINS = 2


def setup(seed: int, size: ChainSize):
    """Session start and input generation; returns (spark, input paths,
    seconds of the session start)."""
    spark, start_s = common.start_session()
    inputs = write_chain_inputs(spark, seed, size, common.fresh_dir("batch_chain", "inputs"))
    common.log(f"session {start_s:.2f}s, inputs written")
    return spark, inputs, start_s


def run_chain(spark, inputs: dict, out_dir: str) -> tuple[dict, dict]:
    """One chain; returns ({job: steal-free seconds, "chain": their sum,
    "chain_wall": wall seconds}, output paths)."""
    from pyspark.sql import functions as F

    from myrecommendsystem_spark import apps

    marks = [common.mark()]
    loaded = apps.run_data_loader(spark, inputs["products"], inputs["ratings"], out_dir)
    marks.append(common.mark())
    ratings = spark.read.parquet(loaded["ratings"])
    # The loader writes the reference's int `timestamp`; the statistics
    # job reads a `ts` timestamp column.
    stats = apps.run_statistics(
        spark, ratings.withColumn("ts", F.timestamp_seconds("timestamp")), out_dir
    )
    marks.append(common.mark())
    offline = apps.run_offline_recommender(spark, ratings, out_dir)
    marks.append(common.mark())
    times = {job: common.steal_free(a, b) for job, a, b in zip(JOBS, marks, marks[1:])}
    times["chain"] = sum(times.values())
    times["chain_wall"] = marks[-1][0] - marks[0][0]
    return times, {**loaded, **stats, **offline}


def check_outputs(inputs: dict, paths: dict) -> list[str]:
    """Outputs against DuckDB over the generated CSV; returns the names of
    the jobs whose output is wrong."""
    import duckdb

    from myrecommendsystem_spark.functions.compat import sql_round_stable

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW src AS SELECT * FROM read_csv("
        f"'{inputs['ratings']}', header=false, "
        "columns={'userId':'INTEGER','productId':'INTEGER','score':'DOUBLE','timestamp':'INTEGER'})"
    )
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")

    def differs(ours: str, oracle: str) -> bool:
        a = con.execute(f"SELECT count(*) FROM (({ours}) EXCEPT ALL ({oracle}))").fetchone()[0]
        b = con.execute(f"SELECT count(*) FROM (({oracle}) EXCEPT ALL ({ours}))").fetchone()[0]
        return a + b > 0

    bad = []
    if differs("SELECT * FROM ratings", "SELECT * FROM src"):
        bad.append("run_data_loader")
    period = "CAST(strftime(to_timestamp(timestamp), '%Y%m') AS INTEGER)"
    if (
        differs("SELECT productId, cnt FROM rate_more",
                "SELECT productId, count(*) FROM src GROUP BY 1")
        or differs("SELECT period, productId, cnt FROM rate_more_recently",
                   f"SELECT {period}, productId, count(*) FROM src GROUP BY 1, 2")
        or differs("SELECT productId, avg_score FROM average",
                   f"SELECT productId, {sql_round_stable('avg(score)')} FROM src GROUP BY 1")
    ):
        bad.append("run_statistics")
    ranks_ok = con.execute(
        "SELECT count(*) = ? AND bool_and(n = 20 AND lo = 1 AND hi = 20 AND d = 20) FROM ("
        " SELECT userId, count(*) n, min(rnk) lo, max(rnk) hi, count(DISTINCT rnk) d"
        " FROM user_recs GROUP BY userId)",
        [con.execute("SELECT count(DISTINCT userId) FROM src").fetchone()[0]],
    ).fetchone()[0]
    sims_ok = con.execute(
        "SELECT count(*) > 0 AND min(sim) > 0.6 AND bool_and(pid <> other_pid)"
        " AND count(*) = (SELECT count(*) FROM product_recs a JOIN product_recs b"
        "   ON a.pid = b.other_pid AND a.other_pid = b.pid AND a.sim = b.sim)"
        " FROM product_recs"
    ).fetchone()[0]
    if not (ranks_ok and sims_ok):
        bad.append("run_offline_recommender")
    con.close()
    return bad


def trace_layers(spans, counters) -> dict:
    """Per-chain medians of the traced spans: time, self time and, for the
    ``apps`` spans, Spark's counters including those of nested spans."""
    from spans import inclusive

    total = inclusive(spans, counters)
    chains = [s for s in spans if s["name"] == "chain"]
    per_chain: list[dict] = []
    for c in chains:
        row: dict = {}
        inside = [s for s in spans if c["start"] <= s["start"] and s["end"] <= c["end"]]
        for s in inside:
            key = s["name"]
            row[f"{key}.s"] = row.get(f"{key}.s", 0.0) + s["duration_s"]
            row[f"{key}.self_s"] = row.get(f"{key}.self_s", 0.0) + s["self_s"]
            if key.startswith("apps."):
                for k in ("executor_cpu_s", "shuffle_write_mb", "spill_mb", "jobs", "tasks"):
                    row[f"{key}.{k}"] = row.get(f"{key}.{k}", 0.0) + total[s["id"]].get(k, 0)
        per_chain.append(row)
    keys = sorted({k for row in per_chain for k in row})
    return {k: common.median([row.get(k, 0.0) for row in per_chain]) for k in keys}


def written(paths: dict) -> tuple[float, int]:
    mb, files = 0.0, 0
    for path in paths.values():
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    mb += os.path.getsize(os.path.join(dirpath, n)) / 1e6
    return mb, files


def timed_chains(spark, inputs, seconds: float, out_dir: str, tracer=None):
    """Chains back to back for ``seconds`` (at least ``MIN_CHAINS``).  With
    a tracer, every second chain is traced and the others are not."""
    runs, paths = [], {}
    t_end = time.perf_counter() + seconds
    while len(runs) < MIN_CHAINS or time.perf_counter() < t_end:
        if tracer is not None:
            tracer.enabled = len(runs) % 2 == 1
        with tracer.span("chain") if tracer else nullcontext():
            times, paths = run_chain(spark, inputs, out_dir)
        runs.append(times)
    if tracer is not None:
        tracer.enabled = True
    return runs, paths
