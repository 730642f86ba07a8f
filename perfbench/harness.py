"""Session, isolation and measurement plumbing shared by the workloads."""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import threading
import time

from sqlprofile import (
    JobCounter,
    executions_after,
    last_execution_id,
    profile_execution,
    summarize,
)

# Spark settings for every workload: one process, at most 4 task
# threads, shuffles sized for 4 cores, a driver heap far below the
# machine's memory, and a status store large enough to keep every job,
# stage and SQL execution of one run.
MAX_CORES = 4
DRIVER_MEMORY = "2g"
RETAINED = "20000"


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def isolate(work_dir: str, root: str) -> None:
    """Point every temporary file of this process and its children into
    ``work_dir`` and let Python workers import the package from ``root``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def make_spark(work_dir: str):
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", RETAINED)
        .config("spark.ui.retainedStages", RETAINED)
        .config("spark.sql.ui.retainedExecutions", RETAINED)
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM is already gone; the wait below confirms it
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_stats(root_pid: int) -> tuple[int, float]:
    """(resident kB, CPU seconds) of ``root_pid`` and all its descendants,
    from /proc.  CPU seconds include reaped children (cutime/cstime)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, float]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    tick = os.sysconf("SC_CLK_TCK")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fp:
                fields = fp.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as fp:
                pages = int(fp.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # fields[11:15] = utime, stime, cutime, cstime in clock ticks
        stats[pid] = (pages * page_kb, sum(int(f) for f in fields[11:15]) / tick)
    rss = cpu = 0.0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        r, c = stats.get(pid, (0, 0.0))
        rss += r
        cpu += c
        todo.extend(children.get(pid, ()))
    return int(rss), cpu


def tree_cpu_s() -> float:
    return tree_stats(os.getpid())[1]


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_stats(pid)[0])
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def timed_cpu(fn, *args):
    """(wall seconds, CPU seconds of this process, result) of one call."""
    c0, t0 = time.process_time(), time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, time.process_time() - c0, out


def run_op(tracer: Tracer, outcome: Outcome, penalty_s: float, name: str, fn, *args):
    """Run one timed operation inside a profiled span.

    Returns (wall seconds, process-tree CPU seconds, result).  Both times
    cover only the call: the span's own status-store reads fall outside
    them.  An operation that raises counts as failed, returns None and is
    charged its elapsed time plus ``penalty_s``, so a failure never makes
    a run look cheaper."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        with tracer.span(name, profile=True):
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            out = fn(*args)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        return wall, cpu, out
    except Exception as exc:  # the run goes on and reports the failure
        outcome.fail(name, exc)
        return (time.perf_counter() - t0 + penalty_s,
                tree_cpu_s() - cpu0 + penalty_s, None)


def median(values) -> float:
    return float(statistics.median(values))


class Tracer:
    """Spans recorded around the benchmark's calls into the package.

    Each span keeps its name, start, end and the name of the top-level
    span that caused it (also for spans opened on the package's own
    driver threads while that span is open).  A span opened with
    ``profile=True`` also keeps the operator metrics of every SQL
    execution that ran inside it and the jobs/stages/tasks it launched;
    those are read after the span has ended, so the reads do not count in
    its duration.  Nothing is recorded when tracing is off."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._current: str | None = None   # the open top-level span

    @contextlib.contextmanager
    def span(self, name: str, profile: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._current}
        top = self._current is None
        if top:
            self._current = name
        if profile:
            before, jobs = last_execution_id(self.spark), JobCounter(self.spark)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if top:
                self._current = None
            if profile:
                self._drain_listeners()
                rec["ops"] = [
                    op
                    for eid in executions_after(self.spark, before)
                    for op in profile_execution(self.spark, eid)
                ]
                rec["jobs"] = jobs.counts()
            self.spans.append(rec)

    def _drain_listeners(self) -> None:
        # status-store updates arrive through Spark's listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str, parent: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name)
                   if parent is None or s["parent"] == parent)

    def ops(self, *names: str) -> list:
        return [op for s in self.spans if s["name"] in names for op in s.get("ops", ())]

    def jobs(self, *names: str) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for s in self.spans:
            if s["name"] in names and "jobs" in s:
                for k in out:
                    out[k] += s["jobs"][k]
        return out

    def dump(self) -> list[dict]:
        """Spans as plain dicts (durations in seconds, operator metrics
        folded per span) for the trace file."""
        out = []
        for s in self.spans:
            row = {"name": s["name"], "parent": s["parent"],
                   "seconds": s["end"] - s["start"]}
            if "ops" in s:
                row.update(summarize(s["ops"]))
                row.update({f"spark.{k}": v for k, v in s["jobs"].items()})
            out.append(row)
        return out


class Outcome:
    """Attempted/failed operation tally; every failure keeps its reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)

    def fail(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
