"""Workload ``query_mix``: registry queries, closed loop with one client.

Each pass runs every query of ``QUERIES`` once, in an order the seed
permutes, to Spark's ``noop`` sink.  The mix is read-only: the text,
dedup and multimodal kernels in Python workers (``functions``), the
registry's query builders (``plans``) and the shuffle-heavy relational
operators do the work; ALS and the streaming upsert are absent.

Set-up starts the session and writes the two tables the queries read.
It ends with one untimed pass, which is the warm-up and the output check:
it collects every query's rows and compares them with the query's DuckDB
oracle over the same parquet tables.

End-to-end metrics, as this workload defines them:

- ``setup_s``: time from process start to the end of the checking pass;
- ``result_s``: median time of one pass over the mix;
- ``step_geomean_s``: geometric mean of the queries' median times;
- ``latency_p50_s``: median time of one query, over all runs of all
  queries;
- ``latency_tail_s``: median time of the slowest query;
- ``throughput_per_s``: queries per second over a median pass.
"""

from __future__ import annotations

import math
import random
import time
from contextlib import nullcontext

import common
from inputs import MIX_TABLES, write_mix_tables

QUERIES = (
    "doc_token_counts",
    "dedup_minhash_pairs",
    "customer_rfm_scores",
)
MIN_PASSES = 4  # sub-second queries vary by tens of percent from one pass to the next
SCALE = {"full": 0.01, "tiny": 0.001}


def _normalize(rows, cols):
    """Order-insensitive snapshot: columns by name, values as strings,
    floats to six significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, bool):
            return str(v).lower()
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def check_pass(spark, sf_dir: str, names) -> dict[str, str]:
    """Run each query once, collecting its rows, and compare them with its
    oracle.  Returns {query: reason} for the queries that do not match."""
    import duckdb

    from myrecommendsystem_spark.plans import registry

    specs = {s.name: s for s in registry.REGISTRY}
    con = duckdb.connect()
    for name in MIX_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    bad = {}
    for name in names:
        df = specs[name].builder(spark, sf_dir)
        rows, cols = [tuple(r) for r in df.collect()], df.columns
        oracle = registry.resolve_oracle(specs[name].oracle, sf_dir)
        res = con.execute(oracle)
        o_cols = [d[0] for d in res.description]
        o_rows = [tuple(r) for r in res.fetchall()]
        if sorted(cols) != sorted(o_cols):
            bad[name] = f"columns {cols} vs {o_cols}"
        elif len(rows) != len(o_rows):
            bad[name] = f"{len(rows)} rows vs {len(o_rows)}"
        elif _normalize(rows, cols) != _normalize(o_rows, o_cols):
            bad[name] = "values differ"
        elif not rows:
            bad[name] = "empty result"
    con.close()
    return bad


def timed_passes(spark, sf_dir: str, order, seconds: float, tracer=None):
    """Passes over the mix to the noop sink for ``seconds`` (at least
    ``MIN_PASSES``); returns one {query: steal-free seconds} dict per
    pass.  With a tracer, every second pass is traced and the others are
    not."""
    from myrecommendsystem_spark.plans import registry

    builders = registry.all_queries()
    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        traced = tracer is not None and len(passes) % 2 == 1
        times = {}
        for name in order:
            m0 = common.mark()
            with tracer.span(f"plans.{name}") if traced else nullcontext():
                common.noop(builders[name](spark, sf_dir))
            times[name] = common.steal_free(m0, common.mark())
        passes.append(times)
    return passes


def run(seed: int, seconds: float, trace: bool, size: str = "full", fault: str | None = None):
    spark, start_s = common.start_session()
    sf_dir = write_mix_tables(seed, SCALE[size], common.fresh_dir("mix", "tables"))
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    bad = check_pass(spark, sf_dir, order)
    setup_s = common.process_age()
    layers: dict[str, float] = {"session.start_s": start_s}
    common.log(f"setup and check pass done: {bad or 'all match'}")
    if trace:
        passes = _traced(spark, sf_dir, order, seconds, layers, seed)
    else:
        passes = timed_passes(spark, sf_dir, order, seconds)
    common.log(f"passes done: {len(passes)}")

    per_query = {q: common.median([p[q] for p in passes]) for q in order}
    pass_s = common.median([sum(p.values()) for p in passes])
    e2e = {
        "setup_s": setup_s,
        "result_s": pass_s,
        "step_geomean_s": common.geomean(per_query.values()),
        "latency_p50_s": common.median([t for p in passes for t in p.values()]),
        "latency_tail_s": max(per_query.values()),
        "throughput_per_s": len(order) / pass_s,
    }
    notes = {"workload": "query_mix", "passes": len(passes), "order": order,
             "wrong_queries": bad, "query_s": per_query}
    attempted = len(order) * (len(passes) + 1)
    return attempted, len(bad) * (len(passes) + 1), e2e, layers, notes


def _traced(spark, sf_dir, order, seconds, layers, seed):
    """Passes alternate untraced and traced (overhead = ratio of median
    pass times); per-query time, jobs and executed exchanges from the
    traced passes; mix totals of Spark's counters and the Python
    operators'."""
    from spans import Tracer

    tracer = Tracer(spark, "query_mix")
    passes = timed_passes(spark, sf_dir, order, seconds, tracer=tracer)
    plain, traced = passes[0::2], passes[1::2]
    counters = tracer.spark_counters()
    spans = tracer.finished_spans()
    n_pass = len(traced)
    totals: dict[str, float] = {}
    for s in spans:
        c = counters.get(s["group"], {})
        q = s["name"]
        layers[f"{q}.s"] = layers.get(f"{q}.s", 0.0) + s["duration_s"] / n_pass
        layers[f"{q}.jobs"] = layers.get(f"{q}.jobs", 0.0) + c.get("jobs", 0) / n_pass
        layers[f"{q}.exchanges"] = layers.get(f"{q}.exchanges", 0.0) + c.get("exchanges", 0) / n_pass
        for k, v in c.items():
            totals[k] = totals.get(k, 0.0) + v / n_pass
    for k in ("executor_cpu_s", "shuffle_write_mb", "spill_mb", "jobs", "tasks"):
        layers[f"mix.{k}"] = totals.get(k, 0.0)
    for k in ("python_nodes", "python_run_s", "python_sent_mb", "python_returned_mb"):
        layers[f"functions.{k}"] = totals.get(k, 0.0)
    plain_s = common.median([sum(p.values()) for p in plain])
    traced_s = common.median([sum(p.values()) for p in traced])
    layers["trace.overhead_pct"] = 100.0 * (traced_s / plain_s - 1.0)
    tracer.write(
        common.trace_path("query_mix", seed),
        spans, counters, {"layers": layers, "passes_untraced": plain, "passes_traced": traced},
    )
    return passes
