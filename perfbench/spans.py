"""Measurement helpers: latency statistics, memory probes (the Python
processes' resident memory and the JVM's live heap) and the span tracer that reads Spark's status store over py4j.

Spans are recorded in the benchmark, around each public library call;
the library itself is not touched. A span's jobs are the jobs Spark
numbered while the span was open (the benchmark drives Spark from one
thread, so nothing else submits jobs then), which also catches the jobs
a streaming query runs under its own job group."""

from __future__ import annotations

import gc
import os
import re
import threading
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_mb")
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ------------------------------------------------------------ statistics
def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile on the ladder with at least ten samples beyond
    it; with fewer than 20 samples no tail is resolvable and the median
    (50) is returned."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p), 6) >= 1000:
            return p
    return 50.0


# ------------------------------------------------------------ memory
def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu(root: int) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and its
    descendants, including descendants that have exited and been
    waited for. Time the hypervisor gave to other guests (steal) is not
    in it."""
    kids, tick = children(), os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return total / tick


def tree_rss(root: int) -> dict[int, int]:
    """Proportional resident bytes (PSS: a page shared by n processes
    counts 1/n, so forked Python workers are not counted twice) of
    ``root`` and of each of its descendants that is a Python process, by
    pid (``root`` counts whatever its name). The JVM's own resident size
    is left out: it follows when the
    collector grows the heap, not what the program keeps (see
    ``jvm_live_heap``)."""
    kids = children()
    rss, todo = {}, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                python = pid == root or f.read().startswith("python")
            if python:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
                rss[pid] = int(pss.split()[1]) * 1024
        except (OSError, IndexError, ValueError, StopIteration):
            pass
        todo.extend(kids.get(pid, ()))
    return rss


def jvm_live_heap(spark, readings: int = 5, pause: float = 0.4) -> int:
    """Bytes of the driver JVM's heap in use after a full collection, the
    least of ``readings`` collections ``pause`` seconds apart: what the
    JVM keeps alive (cached blocks, leaked plans, the status store),
    independent of heap sizing. One reading is not enough: a collection
    frees broadcast and shuffle objects only for Spark's cleaner thread
    to release their blocks after it, and right after an operation the
    first readings were up to 140 MiB above the floor for 1-2 s."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()  # drop Python proxies that keep JVM objects alive
    used = []
    for i in range(readings):
        if i:
            time.sleep(pause)
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed())
    return min(used)


class RssSampler:
    """Samples the Python processes' resident memory (the driver and
    Spark's Python workers) on a daemon thread until ``stop()``. A
    process counts once it has been seen in two consecutive samples, so
    a process caught half-started or half-ended does not set the
    peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(os.getpid())
        self.peak = max(self.peak, sum(v for p, v in rss.items() if p in self._prev))
        self._prev = set(rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling and return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / 2**20


# ------------------------------------------------------------ spans
class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    def span(self, name: str):
        return nullcontext()


class SparkTracer:
    """Per-span Spark counters, summed over every call of a span name:
    wall time, driver time (wall minus the union of the span's job
    intervals), jobs, completed tasks, executor CPU and shuffle write."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.totals: dict[str, dict[str, float]] = {}
        self.calls: dict[str, int] = {}
        self.next_job = self._first_unseen_job(0)

    def _first_unseen_job(self, start: int) -> int:
        jid, misses, last = start, 0, start - 1
        tracker = self.sc.statusTracker()
        while misses < 3:
            if tracker.getJobInfo(jid) is None:
                misses += 1
            else:
                misses, last = 0, jid
            jid += 1
        return last + 1

    @contextmanager
    def span(self, name: str):
        if not NAME_RE.match(name):
            raise ValueError(f"bad span name {name!r}")
        self.sc.setJobGroup(name, name)
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            t1 = t0 + wall
            self.sc.setJobGroup(None, None)
            self._collect(name, t0, t1, wall)

    def _collect(self, name: str, t0: float, t1: float, wall: float) -> None:
        self.bus.waitUntilEmpty()
        end = self._first_unseen_job(self.next_job)
        jobs, intervals, stages = 0, [], set()
        for jid in range(self.next_job, end):
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:  # job evicted or never posted
                continue
            jobs += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((max(a, t0), min(b, t1)))
            ids = jd.stageIds()
            stages.update(ids.apply(i) for i in range(ids.length()))
        self.next_job = end
        tasks = cpu_ns = shuffle = 0
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted
                continue
            tasks += sd.numCompleteTasks()
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
        busy = union_length(intervals)
        tot = self.totals.setdefault(name, dict.fromkeys(COUNTERS, 0.0))
        tot["wall_s"] += wall
        tot["driver_s"] += max(0.0, wall - busy)
        tot["jobs"] += jobs
        tot["tasks"] += tasks
        tot["cpu_s"] += cpu_ns / 1e9
        tot["shuffle_mb"] += shuffle / 2**20
        self.calls[name] = self.calls.get(name, 0) + 1

    def per_call(self, name: str) -> dict[str, float]:
        """Mean counters per call of ``name`` (zeros if never called)."""
        n = self.calls.get(name, 0)
        tot = self.totals.get(name, dict.fromkeys(COUNTERS, 0.0))
        return {k: (v / n if n else 0.0) for k, v in tot.items()}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total
