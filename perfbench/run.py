"""Benchmark entry point.

    python3 perfbench/run.py --workload chain_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``).  Exits 2 without a result line when the
program is not in the checkout.  On every way out, including SIGTERM, it
stops the JVM and the processes below it and waits until they have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("chain_stream", "query_mix")
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    p.add_argument("--fault", choices=("empty_sims",), default=None,
                   help="inject a known fault to prove the output checks fail")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not common.program_importable():
        print("perfbench: package myrecommendsystem_spark not found in "
              f"{common.ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    module = __import__(args.workload)
    mark0 = common.mark()
    with common.PeakRss() as rss:
        attempted, failed, e2e, layers, notes = module.run(
            args.seed, args.seconds, bool(args.trace), size=args.size, fault=args.fault
        )
    e2e["peak_rss_mb"] = rss.peak_mb
    notes.update(seed=args.seed, jvm_hwm_mb=rss.jvm_mb, worker_hwm_mb=rss.worker_mb,
                 cpu_steal_pct=100.0 * common.steal_share(mark0, common.mark()))
    if args.trace:
        metrics = {m["name"]: common.metric(layers.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: common.metric(e2e[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    notes["failed_frac"] = failed / attempted
    common.emit(attempted, failed, metrics, notes)
    return 0


if __name__ == "__main__":
    # On SIGTERM, unwind through the ``finally`` so the JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    common.become_subreaper()
    try:
        code = main()
    finally:
        common.shutdown()
    sys.exit(code)
