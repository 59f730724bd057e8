"""Workload ``chain_stream``: the reference's recommender end to end.

First the offline job chain runs back to back (closed loop, see
``batch_chain``); then the streaming recommender consumes open-loop rating
events against the similarity table the last chain wrote (see
``stream_recs``).  This follows the reference's data flow, and one
process pays for one cold ALS fit instead of two.

Set-up starts the session, writes the inputs and runs one untimed chain.
That chain pays the cold JVM's class loading and code generation, and it
writes the similarity table the stream reads.  The timed chains that
follow overwrite the same outputs.  Set-up ends with the stream's static
tables.

End-to-end metrics, as this workload defines them:

- ``setup_s``: time from process start to the end of the set-up chain;
- ``result_s``: median time from the CSV inputs to all chain outputs;
- ``step_geomean_s``: geometric mean of the three jobs' median times;
- ``latency_p50_s`` / ``latency_tail_s``: time from an event's creation
  to the end of the micro-batch that processed it;
- ``throughput_per_s``: events committed per second of micro-batch time.
"""

from __future__ import annotations

import numpy as np

import batch_chain
import common
import stream_recs as stream


def run(seed: int, seconds: float, trace: bool, size: str = "full", fault: str | None = None):
    chain_size = batch_chain.SIZES[size]
    spark, inputs, start_s = batch_chain.setup(seed, chain_size)
    out_dir = common.fresh_dir("chain", "out")
    _, paths = batch_chain.run_chain(spark, inputs, out_dir)
    common.log("set-up chain done")
    state = stream.prepare_state(spark, paths, common.fresh_dir("stream", "state"))
    setup_s = common.process_age()
    layers: dict[str, float] = {"session.start_s": start_s}
    common.log("setup done")
    if trace:
        chains, paths, tracer = _traced_chains(spark, inputs, seconds, out_dir, layers)
    else:
        chains, paths = batch_chain.timed_chains(spark, inputs, seconds, out_dir)
        tracer = None
    common.log(f"chains done: {len(chains)}")
    if tracer is not None:
        from myrecommendsystem_spark.streaming import recommender

        tracer.wrap(recommender, "upsert_by_key", "streaming.upsert_by_key")
    try:
        streamed = stream.run(spark, seed, chain_size, state, fault)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    common.log("stream done")
    if trace:
        _stream_layers(tracer, streamed, layers, seed)
        common.log("trace written")
        _single_thread_baseline(seed, chain_size, inputs, layers, chains)
        common.log("single-threaded baseline done")
        spark, _ = common.start_session()

    bad_jobs = batch_chain.check_outputs(inputs, paths)
    n_events, wrong_events, sink_rows = stream.check_sink(spark, streamed, seed, chain_size, state)
    common.log("checks done")

    n_batches = len(stream.batches(streamed))
    attempted = len(chains) * len(batch_chain.JOBS) + n_batches + n_events
    failed = len(chains) * len(bad_jobs) + wrong_events + (n_batches if streamed["error"] else 0)

    job_medians = {j: common.median([c[j] for c in chains]) for j in batch_chain.JOBS}
    lat = stream.latencies(streamed)
    e2e = {
        "setup_s": setup_s,
        "result_s": common.median([c["chain"] for c in chains]),
        "step_geomean_s": common.geomean(job_medians.values()),
        "latency_p50_s": float(np.median(lat)),
        "latency_tail_s": float(np.percentile(lat, stream.tail_pct(lat.size))),
        "throughput_per_s": stream.throughput(streamed),
    }
    notes = {
        "workload": "chain_stream", "chain_s": [c["chain"] for c in chains],
        "chain_wall_s": [c["chain_wall"] for c in chains], "wrong_jobs": bad_jobs,
        **{f"{j}_s": v for j, v in job_medians.items()},
        "latency_samples": int(lat.size), "latency_tail_pct": stream.tail_pct(lat.size),
        "batches": [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"],
                     round(p["steal"], 4)) for p in streamed["progress"]],
        "stream_lead_ms": streamed["lead_ms"], "stream_steal": streamed["steal"],
        "sink_rows": sink_rows, "wrong_events": wrong_events, "stream_error": streamed["error"],
    }
    return attempted, failed, e2e, layers, notes


def _traced_chains(spark, inputs, seconds, out_dir, layers):
    """Chains alternate untraced and traced over the chain window; the
    overhead of tracing is the ratio of their median chain times."""
    from spans import Tracer

    from myrecommendsystem_spark import apps
    from myrecommendsystem_spark.io import writers
    from myrecommendsystem_spark.ml import als

    tracer = Tracer(spark, "chain_stream")
    for module, attr, name in (
        (apps, "run_data_loader", "apps.run_data_loader"),
        (apps, "run_statistics", "apps.run_statistics"),
        (apps, "run_offline_recommender", "apps.run_offline_recommender"),
        (als, "train_als", "ml.train_als"),
        (als, "item_similarities", "ml.item_similarities"),
        (writers, "write_overwrite", "io.write_overwrite"),
    ):
        tracer.wrap(module, attr, name)
    try:
        chains, paths = batch_chain.timed_chains(spark, inputs, seconds, out_dir, tracer=tracer)
    finally:
        tracer.unwrap_all()
    plain_s = common.median([c["chain"] for c in chains[0::2]])
    traced_s = common.median([c["chain"] for c in chains[1::2]])
    layers["trace.overhead_pct"] = 100.0 * (traced_s / plain_s - 1.0)
    layers["io.written_mb"], layers["io.files_written"] = batch_chain.written(paths)
    return chains, paths, tracer


def _stream_layers(tracer, streamed, layers, seed) -> None:
    counters = tracer.spark_counters()
    spans = tracer.finished_spans()
    layers.update(batch_chain.trace_layers(spans, counters))
    batches = stream.batches(streamed)
    progress = streamed["progress"]
    upserts = [s for s in spans if s["name"] == "streaming.upsert_by_key"]
    measured = [s for s in upserts if any(_within(s, p) for p in batches)]
    # A micro-batch's own jobs carry the query's run id as job group; those
    # inside the upsert span carry the span's group.
    groups = {p["runId"] for p in progress} | {s["group"] for s in upserts}

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in batches]

    layers.update({
        "streaming.batch_ms.p50": common.median(dur("triggerExecution")),
        "streaming.batch_ms.max": max(p["durationMs"]["triggerExecution"] for p in progress),
        "streaming.add_batch_ms.p50": common.median(dur("addBatch")),
        "streaming.wal_commit_ms.p50": common.median(dur("walCommit")),
        "streaming.upsert_by_key.ms.p50": 1000.0 * common.median([s["duration_s"] for s in measured]),
        "streaming.jobs_per_batch": sum(counters.get(g, {}).get("jobs", 0) for g in groups) / len(progress),
        "streaming.tasks_per_batch": sum(counters.get(g, {}).get("tasks", 0) for g in groups) / len(progress),
        "streaming.events_per_batch": common.median([stream.slice_events(streamed, p).size for p in batches]),
    })
    layers["io.sink_files"], layers["io.sink_mb"] = stream.dir_size(streamed["sink"])
    tracer.write(
        common.trace_path("chain_stream", seed), spans, counters,
        {"layers": layers, "progress": streamed["progress"]},
    )


def _within(span: dict, p: dict) -> bool:
    """Whether a span started inside micro-batch ``p`` (wall clock)."""
    start = stream.epoch_ms(p["timestamp"]) / 1000.0
    return start <= span["wall_start"] <= start + p["durationMs"]["triggerExecution"] / 1000.0


def _single_thread_baseline(seed, size, inputs, layers, chains) -> None:
    """One chain and the stream query on ``local[1]``, in the warm JVM."""
    spark1, _ = common.start_session(1)
    out = common.fresh_dir("chain", "out-local1")
    times, paths = batch_chain.run_chain(spark1, inputs, out)
    layers["baseline.local1.result_s"] = times["chain"]
    state = stream.prepare_state(spark1, paths, common.fresh_dir("stream", "state-local1"))
    streamed = stream.run(spark1, seed, size, state, name="run-local1")
    layers["baseline.local1.latency_p50_s"] = float(np.median(stream.latencies(streamed)))
    layers["baseline.chain_speedup"] = layers["baseline.local1.result_s"] / common.median(
        [c["chain"] for c in chains[0::2]])
