"""Paired comparison of two checkouts with this benchmark.

    python3 perfbench/compare.py --base ../parent --change . --pairs 10

Runs this directory's ``run.py`` from the root of each checkout, so both
sides are measured by identical benchmark code and settings.  Pair ``i``
uses seed ``i`` on both sides and alternates which side runs first.  For
each workload and end-to-end metric it prints both medians and
interquartile ranges, how many pairs the change won, and a verdict:

- ``gain``: the change won at least 9 of 10 pairs and the medians differ
  by more than the base's interquartile range;
- ``regression``: the change's median is worse than the base's by more
  than the metric's bound;
- ``unresolved``: either side's spread (IQR as a share of the median)
  exceeds the bound, so "no change" cannot be told from noise;
- ``same``: none of the above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{checkout} {workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{checkout} {workload} seed {seed}: wrong outputs {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(values) -> tuple[float, float, float]:
    return tuple(statistics.quantiles(values, n=4)) if len(values) > 1 else (values[0],) * 3


def verdict(base: list, change: list, better: str, bound: float) -> tuple[str, int]:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    bq, cq = quartiles(base), quartiles(change)
    spread = max((bq[2] - bq[0]) / bq[1], (cq[2] - cq[0]) / cq[1])
    gap = sign * (cq[1] - bq[1])
    if wins >= 0.9 * len(base) and gap > bq[2] - bq[0]:
        return "gain", wins
    if -gap > bound * bq[1]:
        return "regression", wins
    if spread > bound:
        return "unresolved", wins
    return "same", wins


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="root of the parent checkout")
    p.add_argument("--change", required=True, help="root of the changed checkout")
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    for workload in [w["name"] for w in spec["workloads"]]:
        runs = {"base": [], "change": []}
        for i in range(args.pairs):
            sides = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in sides:
                checkout = os.path.abspath(getattr(args, side))
                runs[side].append(run_once(checkout, workload, i + 1, spec["run_seconds"]))
        print(f"\n{workload} ({args.pairs} pairs)")
        print(f"{'metric':<20}{'base p50':>12}{'base IQR':>11}{'change p50':>12}"
              f"{'change IQR':>12}{'wins':>6}  verdict")
        for m in spec["end_to_end"]:
            b = [r[m["name"]] for r in runs["base"]]
            c = [r[m["name"]] for r in runs["change"]]
            v, wins = verdict(b, c, m["better"], m["bound"])
            bq, cq = quartiles(b), quartiles(c)
            print(f"{m['name']:<20}{bq[1]:>12.4g}{bq[2] - bq[0]:>11.3g}{cq[1]:>12.4g}"
                  f"{cq[2] - cq[0]:>12.3g}{wins:>4}/{len(b)}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
