"""Spans around calls into the program, with Spark's own counters per span.

A :class:`Tracer` replaces public functions at module-attribute level
(``writers.write_overwrite``, ``als.train_als``, ...) with wrappers that
open a span.  The program resolves these names at call time, so no source
edit is needed.  Each span tags the Spark work it starts with its own job
group; at the end the tracer reads

- the stage list of Spark's status store (executor CPU, shuffle write,
  spill, tasks), which works with the UI disabled, and
- the SQL status store (operator metrics of every SQL execution):
  shuffle exchanges that wrote records, and the Python-worker operators'
  bytes and run time.

Spans are kept in memory and written out once, with self times.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_SIZE_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6}
_TIME_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = True  # while False, spans and wrapped calls record nothing

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        group = f"{self.run_id}/{sid}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, name)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "group": group,
            "wall_start": time.time(),
            "start": time.perf_counter(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # -- Spark status stores -------------------------------------------------

    def _json(self, obj):
        """Serialize status-store records in the JVM (as Spark's REST API
        does) and parse them once, instead of one py4j call per field."""
        jvm = self.sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        return json.loads(mapper.writeValueAsString(obj))

    def spark_counters(self) -> dict[str, dict]:
        """Counters per job group: jobs, stages, tasks, executor CPU and run
        time, shuffle bytes, spill, and SQL operator counters."""
        store = self.sc._jsc.sc().statusStore()
        out: dict[str, Counter] = defaultdict(Counter)
        stage_group, job_group = {}, {}
        for job in self._json(store.jobsList(None)):
            group = job.get("jobGroup")
            if group is None:
                continue
            job_group[job["jobId"]] = group
            out[group]["jobs"] += 1
            for sid in job["stageIds"]:
                stage_group[sid] = group
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for st in self._json(store.stageList(None, False, False, no_quantiles, None)):
            group = stage_group.get(st["stageId"])
            if group is None:
                continue
            c = out[group]
            c["stages"] += 1
            c["tasks"] += st["numTasks"]
            c["executor_run_s"] += st["executorRunTime"] / 1e3
            c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            c["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
            c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in self._json(sql.executionsList()):
            groups = {job_group[int(j)] for j in ex["jobs"] if int(j) in job_group}
            if len(groups) != 1:
                continue
            c = out[groups.pop()]
            c["sql_executions"] += 1
            values = ex.get("metricValues") or {}
            seen = set()
            for m in ex["metrics"]:
                acc, name = m["accumulatorId"], m["name"]
                if acc in seen:
                    continue
                seen.add(acc)
                val = values.get(str(acc))
                if name == "shuffle records written" and _number(val) > 0:
                    c["exchanges"] += 1
                elif name == "data sent to Python workers":
                    c["python_nodes"] += 1
                    c["python_sent_mb"] += _size_mb(val)
                elif name == "data returned from Python workers":
                    c["python_returned_mb"] += _size_mb(val)
                elif name == "time to run Python workers":
                    c["python_run_s"] += _time_ms(val) / 1e3
        return {g: dict(c) for g, c in out.items()}

    # -- output ----------------------------------------------------------------

    def finished_spans(self) -> list[dict]:
        """Spans with duration and self time (duration minus the union of
        the intervals its child spans cover)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str, spans: list[dict], counters: dict, extra: dict) -> None:
        for s in spans:
            s["spark"] = counters.get(s["group"], {})
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans, **extra}, f, indent=1)


def inclusive(spans: list[dict], counters: dict[str, dict]) -> dict[int, Counter]:
    """Spark counters of each span plus those of all its descendants."""
    by_id = {s["id"]: s for s in spans}
    total: dict[int, Counter] = defaultdict(Counter)
    for s in spans:
        own = counters.get(s["group"], {})
        node = s
        while node is not None:
            total[node["id"]].update(own)
            node = by_id.get(node["parent"])
    return total


# The SQL status store formats operator metrics as text.  A metric summed
# over tasks reads "total (min, med, max ...)\n<total> (...)", a plain one
# "<value>"; the total is on the last line either way.


def _number(text) -> float:
    if text is None:
        return 0.0
    m = re.search(r"-?[\d,]+(?:\.\d+)?", str(text).split("\n")[-1])
    return float(m.group(0).replace(",", "")) if m else 0.0


def _size_mb(text) -> float:
    if text is None:
        return 0.0
    m = re.search(r"([\d,.]+)\s*(B|KiB|MiB|GiB)", str(text).split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _time_ms(text) -> float:
    if text is None:
        return 0.0
    m = re.search(r"([\d,.]+)\s*(ms|s|m|h)\b", str(text).split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)] if m else 0.0
