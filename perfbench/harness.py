"""Shared machinery of the benchmark: the Spark session, timing, tracing,
Spark status-store counters, process-tree memory and host probes.

Everything here measures the engine from outside: it times calls into the
package's public functions and reads Spark's own status store. Nothing in
``wikicrawler_spark`` is patched or wrapped.
"""

from __future__ import annotations

import os
import re
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager

NPROC = len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host RAM, capped at 2 GiB: local mode runs every
    executor thread in the driver JVM, and the host is shared."""
    mib = min(2048, host_ram_bytes() // 4 // (1 << 20))
    return f"{max(mib, 512)}m"


def start_session(cores: int, work: str):
    """A ``local[cores]`` session whose warehouse, local dirs and JVM temp
    dir all live under ``work``. Shuffle width is derived from ``cores``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end its JVM and wait for it to exit, so no
    process outlives the benchmark."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Ledger:
    """Checked calls attempted and failed, with the first few reasons. A
    call whose output check does not hold counts as failed; a call that
    raises ends the run with a non-zero exit and no result line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 10:
                self.reasons.append(what)
        return ok


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled, ``span`` is a
    no-op, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.monotonic(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = round(time.monotonic() - self.t0, 6)

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, **attrs) -> dict:
        """Record a span from absolute ``time.monotonic`` stamps."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": round(start - self.t0, 6),
               "end": None if end is None else round(end - self.t0, 6),
               **attrs}
        if self.enabled:
            self.spans.append(rec)
        return rec


# ------------------------------------------------------- Spark status store

_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def parse_sql_metric(text: str) -> float:
    """Spark renders SQL metrics as strings: ``'2,000'``, ``'62 ms'`` or
    ``'total (min, med, max ...)\\n1907.5 KiB (472.9 KiB, ...)'``. Returns
    the total as a number (seconds for timings, bytes for sizes)."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _DURATION_UNITS:
        return value * _DURATION_UNITS[unit]
    return value * _SIZE_UNITS.get(unit, 1)


_SQL_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "scan time": "scan_time_s",
}


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Totals over the Spark jobs, stages and SQL executions that ran
    between ``mark()`` calls, read from the status store (no UI needed).
    Call ``mark()`` before a timed call and ``collect()`` after it."""

    NAMES = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "python_start_s", "python_init_s", "python_run_s",
             "python_bytes_in", "python_bytes_out", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "scan_time_s", "scan_rows")

    def __init__(self, spark):
        self.spark = spark
        self.total = dict.fromkeys(self.NAMES, 0.0)
        self._seen_stages: set = set()
        self._seen_execs: set = set()
        self._seen_jobs: set = set()
        self.mark()

    def _app_store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stages(self):
        jvm = self.spark._jvm
        lst = jvm.java.util.ArrayList
        gw = self.spark.sparkContext._gateway
        return self._app_store().stageList(
            lst(), False, False, gw.new_array(jvm.double, 0), lst())

    def mark(self) -> None:
        """Forget everything that already ran."""
        self._seen_stages = {(s.stageId(), s.attemptId())
                             for s in _seq(self._stages())}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        self._seen_execs = {e.executionId() for e in _seq(sql.executionsList())}
        self._seen_jobs = {j.jobId() for j in _seq(self._app_store().jobsList(None))}

    def collect(self) -> None:
        """Add everything that ran since the last mark to the totals."""
        # the status store is fed asynchronously by the listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        d = dict.fromkeys(self.NAMES, 0.0)
        for s in _seq(self._stages()):
            if (s.stageId(), s.attemptId()) in self._seen_stages:
                continue
            d["stages"] += 1
            d["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            d["executor_run_s"] += s.executorRunTime() / 1e3
            d["executor_cpu_s"] += s.executorCpuTime() / 1e9
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["shuffle_write_bytes"] += s.shuffleWriteBytes()
            d["shuffle_read_bytes"] += s.shuffleReadBytes()
            d["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            d["scan_rows"] += s.inputRecords()
        d["jobs"] = sum(1 for j in _seq(self._app_store().jobsList(None))
                        if j.jobId() not in self._seen_jobs)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid in self._seen_execs:
                continue
            names = {m.accumulatorId(): m.name() for m in _seq(e.metrics())}
            for kv in _seq(sql.executionMetrics(eid)):
                key = _SQL_METRICS.get(names.get(kv._1()))
                if key:
                    d[key] += parse_sql_metric(kv._2())
        for k, v in d.items():
            self.total[k] += v
        self.mark()

    def layer_metrics(self, wall_s: float, cores: int) -> dict:
        """``spark.*`` per-layer metrics over every collected interval;
        ``wall_s`` is the summed wall of those intervals."""
        t = self.total
        out = {f"spark.{k}": v for k, v in t.items() if k != "executor_run_s"}
        out["spark.core_busy_ratio"] = (
            t["executor_run_s"] / (wall_s * cores) if wall_s else 0.0)
        return out


# ------------------------------------------------- memory and host probes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (the driver JVM and
    the Python workers it forks)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the benchmark's process-tree RSS on a thread; ``peak`` is
    the largest sample. Disabled, it starts no thread."""

    def __init__(self, enabled: bool, interval: float = 0.2):
        self.enabled = enabled
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_times()`` readings, in percent."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total and len(delta) > 7 else 0.0


_BURN = ("import sys, time\n"
         "t0 = time.monotonic()\n"
         "x = 0\n"
         "for i in range(int(sys.argv[1])):\n"
         "    x += i\n"
         "print(time.monotonic() - t0)\n")


def capacity_ratio(procs: int, n: int = 5_000_000) -> float:
    """Pure-Python burn rate at ``procs`` processes over the rate at one:
    how much parallel capacity the host really gives right now. Each burn
    is a plain child interpreter that times itself; all are waited for."""
    import subprocess

    def rate(k: int) -> float:
        kids = [subprocess.Popen([sys.executable, "-c", _BURN, str(n)],
                                 stdout=subprocess.PIPE, text=True)
                for _ in range(k)]
        walls = [float(p.communicate()[0]) for p in kids]
        return sum(n / w for w in walls)

    rate(1)  # first start-up of the interpreter outside the timing
    return rate(procs) / rate(1)


# ------------------------------------------------------- process hygiene

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of every orphaned descendant.

    Spark's JVM forks Python worker daemons and ends them without waiting;
    as a subreaper this process inherits such orphans instead of init, so
    ``reap_descendants`` can wait for them before the benchmark exits."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait until no process this one started (directly or not) is left.
    Descendants still running after ``grace_s`` get SIGTERM, and SIGKILL
    five seconds later; every one that ends is reaped."""
    me = os.getpid()
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants(me)
        if not left:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > grace_s + 5
               else signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)
