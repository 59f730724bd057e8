"""Per-query profiling harness.

For each named query: time it with ``bench.time_query`` (best of
``bench.REPEAT`` runs to the noop sink) after ``bench.warm_up``, and
record the scheduler-level shape — Spark jobs, stages and tasks per
timed run (means over the ``bench.REPEAT`` runs) — via the status
tracker.  Job count is the fixed-overhead proxy: every eager
materialization (localCheckpoint, fit-sample collect, isEmpty probe) is
its own job and pays scheduling latency even when the data is tiny.

``--top N`` profiles the N slowest queries of the committed
``BENCH_DETAIL.json``.  ``--plans <tag>`` also captures each query's
``explain("formatted")`` as ``/tmp/profile_<tag>_<query>.txt``, next
to the summary file.

Usage:
    python tools/profile_queries.py q1,q2,...   [--plans before|after]
    python tools/profile_queries.py --top 25    [--plans before]

Writes one JSON line per query to stdout and a summary file
``/tmp/profile_<tag>.json``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import bench  # noqa: E402
from myrecommendsystem_spark.plans import registry  # noqa: E402
from myrecommendsystem_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:]]
    plans_mode = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_mode = args[i + 1]
        del args[i : i + 2]
    top_n = None
    if "--top" in args:
        i = args.index("--top")
        top_n = int(args[i + 1])
        del args[i : i + 2]

    all_q = registry.all_queries()
    if top_n:
        with open(os.path.join(HERE, "BENCH_DETAIL.json")) as f:
            rec = json.load(f)["queries"]
        names = [
            n
            for n, _ in sorted(rec.items(), key=lambda kv: -kv[1])[:top_n]
            if n in all_q
        ]
    else:
        names = [n for n in ",".join(args).split(",") if n]
        unknown = [n for n in names if n not in all_q]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="mrs-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    bench.warm_up(spark, sf_dir)

    results: dict[str, dict] = {}
    for name in names:
        group = f"prof-{name}"
        sc.setJobGroup(group, name)
        sec = bench.time_query(spark, all_q[name], sf_dir)
        sc.setJobGroup("", "")
        spark.catalog.clearCache()
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                # count only stages that actually ran (skipped stages
                # report numCompletedTasks == 0)
                if si is not None and si.numActiveTasks == 0 and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        rec = {
            "sec": round(sec, 3),
            "jobs": len(job_ids) / bench.REPEAT,
            "stages": n_stages / bench.REPEAT,
            "tasks": n_tasks / bench.REPEAT,
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
        if plans_mode:
            try:
                df = all_q[name](spark, sf_dir)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                from contextlib import redirect_stdout
                import io as _io

                buf = _io.StringIO()
                df = all_q[name](spark, sf_dir)
                with redirect_stdout(buf):
                    df.explain("formatted")
                txt = buf.getvalue()
            with open(f"/tmp/profile_{plans_mode}_{name}.txt", "w") as f:
                f.write(txt)

    tag = plans_mode or "adhoc"
    with open(f"/tmp/profile_{tag}.json", "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "total_sec": round(sum(r["sec"] for r in results.values()), 3),
                "total_jobs": sum(r["jobs"] for r in results.values()),
                "n": len(results),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
