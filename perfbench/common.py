"""Shared pieces of the benchmark: paths, the Spark session, statistics,
peak-memory sampling and the result line.

Every file the benchmark writes lives under ``.perfbench_work/`` in the
directory it is started from (the root of a checkout).  Spark's scratch
space, warehouse, metastore and JVM temp directory are pointed there too.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))  # what `nproc` reports
RSS_SAMPLE_S = 0.5
# Spark's own default driver heap, which the reference's untuned jobs ran
# with.  The program's 8g default lets garbage pile up between collections,
# so peak RSS would track when the collector runs rather than the working
# set (spread 0.22 of the median across seeds at 8g, 0.08 at 1g).
DRIVER_MEMORY = "1g"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def program_importable() -> bool:
    """The benchmark drives the package in the checkout it runs from."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import myrecommendsystem_spark  # noqa: F401
    except ImportError:
        return False
    return True


def process_age() -> float:
    """Seconds since this process started, so set-up time includes the
    interpreter, the imports and the JVM launch."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def mark() -> tuple[float, int, int]:
    """(clock, busy CPU ticks, stolen CPU ticks) of the machine now.  Steal
    is time the hypervisor gave this machine's CPUs to other machines while
    they had work to run."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in f.readline().split()[1:9]
        )
    return time.perf_counter(), user + nice + system + irq + softirq, steal


def steal_share(a, b) -> float:
    """Share of the CPU time this machine's work wanted between marks ``a``
    and ``b`` that the hypervisor stole."""
    busy, stolen = b[1] - a[1], b[2] - a[2]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def steal_free(a, b) -> float:
    """Seconds from mark ``a`` to mark ``b``, less the stolen share.

    On a shared host, other machines' load slows every CPU-bound step by
    the share of CPU time stolen from it.  On a shared 4-vCPU virtual
    machine that share ranged from 0.5% to 22% between runs a few minutes
    apart and moved chain and pass times by up to 75%.  Removing that
    share gives the step's time on an unshared machine.  It holds for
    steps whose critical path is CPU work, as the timed chains, queries
    and micro-batches are; it is exact wall time when nothing is stolen.
    """
    return (b[0] - a[0]) * (1.0 - steal_share(a, b))


class StealMarks:
    """Takes a ``mark()`` with the epoch time every 0.1 s while open, so
    the stolen share of any stretch of wall time inside can be read
    afterwards (for intervals that Spark reports in epoch time)."""

    def __init__(self):
        self.marks: list[tuple[float, tuple]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            self.marks.append((time.time(), mark()))
            if self._stop.wait(0.1):
                return

    def share(self, t0: float, t1: float) -> float:
        """Stolen share between epoch seconds ``t0`` and ``t1``, over the
        smallest sampled interval that covers them."""
        before = [m for t, m in self.marks if t <= t0] or [self.marks[0][1]]
        after = [m for t, m in self.marks if t >= t1] or [self.marks[-1][1]]
        return steal_share(before[-1], after[0])


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def trace_path(workload: str, seed: int) -> str:
    """Where a traced run writes its spans; kept across runs."""
    path = os.path.join(WORK, "trace")
    os.makedirs(path, exist_ok=True)
    return os.path.join(path, f"{workload}-seed{seed}.json")


def _prepare_env() -> None:
    """Environment the JVM and its Python workers inherit: the package on
    the workers' path, scratch dirs inside the checkout, the heap size."""
    for sub in ("spark-local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


def start_session(cores: int = CORES):
    """Start (or restart) the program's session on ``local[cores]``.

    Returns ``(spark, seconds)``; the seconds are the ``session.get_spark``
    call alone.  A running session is stopped first, so a restart within
    one process starts a fresh SparkContext on the warm JVM.
    """
    _prepare_env()
    from pyspark.sql import SparkSession

    from myrecommendsystem_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
        # -Xms and -XX:+AlwaysPreTouch: the whole heap is resident from the
        # start, so peak RSS does not depend on how many heap regions the
        # collector happened to touch before it ran.
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(WORK, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of a run for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants.  The JVM's Python
    workers outlive a JVM that exits first; adopted, they stay visible to
    ``shutdown``, which waits for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def shutdown(timeout_s: float = 30.0) -> None:
    """Stop the Spark session and the JVM, then every other process this
    one started, and wait until each has ended."""
    import signal
    import subprocess

    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        active = SparkSession.getActiveSession()
        if active is not None:
            try:
                active.stop()
            except Exception as e:  # noqa: BLE001 - the JVM is stopped below anyway
                log(f"session stop failed: {e}")
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # The JVM exits once its standard input is closed.
            try:
                proc.stdin.close()
                proc.wait(timeout_s)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        if time.monotonic() > deadline + timeout_s:
            log(f"processes still running after SIGKILL: {left}")
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)


def _descendants() -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def noop(df) -> None:
    """Run a DataFrame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    return float(math.exp(sum(math.log(v) for v in values) / len(values)))


# ---------------------------------------------------------------------------
# peak resident memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakRss:
    """Samples VmHWM of the Spark JVM (a child of this process) and of the
    Python workers below it.  Peak = JVM high-water mark + the largest
    worker's high-water mark seen in any sample."""

    def __init__(self):
        self.jvm_mb = 0.0
        self.worker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(RSS_SAMPLE_S):
            self.sample()

    def sample(self) -> None:
        for pid in _descendants():
            comm = _comm(pid)
            if comm == "java":
                self.jvm_mb = max(self.jvm_mb, _hwm_mb(pid))
            elif comm.startswith("python"):
                self.worker_mb = max(self.worker_mb, _hwm_mb(pid))

    @property
    def peak_mb(self) -> float:
        return self.jvm_mb + self.worker_mb


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(attempted: int, failed: int, metrics: dict, notes: dict | None = None) -> None:
    """Human-readable notes on stderr, the JSON result as the last line of
    stdout."""
    if notes:
        print(json.dumps(notes, sort_keys=True), file=sys.stderr)
    line = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
