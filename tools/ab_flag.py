"""Interleaved A/B harness for any runtime-settable SQL conf flag.

The flag name, its A/B values and the query list are arguments, so any
session-level conf decision can be re-measured.  Methodology:

- ONE session, warmed once (``bench.warm_up``), A/B/A/B interleaved per
  query so host phase drift cancels;
- each sample is ``bench.time_query`` (best of ``bench.REPEAT`` runs), so
  the first run under a new flag value absorbs the one-time codegen and
  broadcast costs of that plan shape;
- median of ``repeat`` samples per side, best also reported.

Usage:
    python tools/ab_flag.py <flag> <a_value> <b_value> <q1,q2,...> [repeat]

Example:
    python tools/ab_flag.py spark.sql.join.preferSortMergeJoin \
        false true q4_order_priority_exists,q21_late_exclusive_suppliers 3
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import bench  # noqa: E402
from myrecommendsystem_spark.plans import registry  # noqa: E402
from myrecommendsystem_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    flag, a_val, b_val = sys.argv[1], sys.argv[2], sys.argv[3]
    queries = [q for q in sys.argv[4].split(",") if q]
    repeat = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-flag")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)
    qmap = registry.all_queries()
    results = {}
    for name in queries:
        fn = qmap[name]
        a_times, b_times = [], []
        for _ in range(repeat):
            spark.conf.set(flag, a_val)
            a_times.append(bench.time_query(spark, fn, sf_dir))
            spark.conf.set(flag, b_val)
            b_times.append(bench.time_query(spark, fn, sf_dir))
        spark.catalog.clearCache()
        r = {
            "a_med": round(statistics.median(a_times), 3),
            "b_med": round(statistics.median(b_times), 3),
            "a_best": round(min(a_times), 3),
            "b_best": round(min(b_times), 3),
        }
        results[name] = r
        print(
            json.dumps(
                {
                    "query": name,
                    **r,
                    "ratio_med_b_over_a": round(r["b_med"] / r["a_med"], 3),
                }
            ),
            flush=True,
        )
    tot_a = sum(r["a_med"] for r in results.values())
    tot_b = sum(r["b_med"] for r in results.values())
    print(
        json.dumps(
            {
                "flag": flag,
                "a": a_val,
                "b": b_val,
                "total_a": round(tot_a, 2),
                "total_b": round(tot_b, 2),
                "ratio_b_over_a": round(tot_b / tot_a, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
