"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_refresh --seed 1 --seconds 1 --trace 0

Starts a session on ``local[<cpus>]``, bootstraps the workload, then
runs whole operations closed loop from a single client thread until
``--seconds`` have passed (an operation takes longer than that, so a run
times one: the first after start-up), checks the outputs, and prints as
the last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer span counters with ``--trace 1``. Everything the run
writes lives under ``.perfbench_work/`` in the current directory, apart
from the registry stores it builds under ``.tmp_stores/``; both are
removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

from spans import (
    NullTracer,
    RssSampler,
    SparkTracer,
    children,
    jvm_live_heap,
    percentile,
    tail_percentile,
    tree_cpu,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_refresh", "corpus_dedup")

#: every per-layer span, in report order (see README.md for the
#: e2e metric each should move)
SPANS = (
    "operators.pipeline.ingest_and_refresh",
    "operators.anomaly.rolling_zscore_api",
    "operators.anomaly.anomaly_iforest",
    "operators.forecast.forecast",
    "operators.forecast.reliability",
    "operators.metrics.export_csv_frame",
    "operators.metrics.fetch_metric_daily",
    "plans.scheduler.snapshot_maintenance_job",
    "functions.text.quality_features",
    "functions.text.pack_sequences",
    "functions.dedup.exact_dedup",
    "functions.dedup.simhash_near_pairs",
    "functions.classify.build_quality_model_extremes",
    "functions.dedup.build_cluster_index",
    "functions.dedup.canonical_from_clusters",
    "streaming.corpus.stream_corpus_ingest",
    "mix.operators",
    "mix.functions",
    "mix.stores",
    "mix.streaming",
)
STORE_COUNTERS = (
    ("sources.snapstore.write_amp", "ratio"),
    ("sources.snapstore.space_amp", "ratio"),
    ("sources.snapstore.live_files", "count"),
)
SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
              "cpu_s": "s", "shuffle_mb": "MiB"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin parallelism and keep every file Spark, its JVM and its Python
    workers write inside ``work``. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return cpus


def start_spark(work: str):
    from smartdatapipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_time(pid: int) -> str | None:
    """Start time of a live (not zombie) process, None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def descendants(root: int) -> dict[int, str]:
    """Every live descendant of ``root``, pid to start time (so that a
    reused pid is not taken for one of them)."""
    kids, out, todo = children(), {}, [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            start = _start_time(pid)
            if start is not None:
                out[pid] = start
                todo.append(pid)
    return out


def stop_spark(spark, grace: float = 30.0) -> None:
    """Stop the session and every process it started: the JVM, which
    exits once its stdin is closed, and the Python daemon and workers it
    forked, which exit with it. Waits until each has ended; any still
    running after ``grace`` seconds is killed."""
    started = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + grace
        while alive := [p for p, t in started.items() if _start_time(p) == t]:
            if time.monotonic() > deadline:
                for pid in alive:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def make_workload(name: str, ctx):
    if name == "ingest_refresh":
        from ingest import IngestRefresh

        return IngestRefresh(ctx)
    from corpus import CorpusDedup

    return CorpusDedup(ctx)


class Context:
    """What a workload gets: the session, its own scratch directory, the
    seed, the timed-region length and the tracer (a no-op unless
    ``--trace 1``)."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.sizes: dict[str, int] = {}

    def span(self, name: str):
        return self.tracer.span(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def run(args: argparse.Namespace) -> dict:
    import __spark_entry__  # noqa: F401 — fail before any output if the library is absent

    work = os.path.join(os.getcwd(), ".perfbench_work", uuid.uuid4().hex[:12])
    os.makedirs(work)
    rss = RssSampler().start()
    ctx = Context(work, args.seed, args.seconds, bool(args.trace))
    wl = None
    try:
        cpus = pin_environment(work)
        wl = make_workload(args.workload, ctx)
        wl.prepare()  # generated inputs: benchmark work, not set-up

        t0 = time.perf_counter()
        ctx.spark = start_spark(work)
        ctx.tracer = NullTracer()
        wl.setup()
        setup_s = time.perf_counter() - t0
        print(f"perfbench: workload={args.workload} seed={args.seed} cpus={cpus} "
              f"master={ctx.spark.sparkContext.master} trace={args.trace} "
              f"inputs={json.dumps(ctx.sizes, sort_keys=True)}", flush=True)

        if ctx.trace:
            ctx.tracer = SparkTracer(ctx.spark)
        lat: list[float] = []
        cpu: list[float] = []
        attempted = failed = leaked = 0
        deadline = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            t, c = time.perf_counter(), tree_cpu(os.getpid())
            try:
                wl.op(attempted - 1)
                lat.append(time.perf_counter() - t)
                cpu.append(tree_cpu(os.getpid()) - c)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                failed += 1
                traceback.print_exc()
            leaked += ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
            if time.perf_counter() >= deadline:
                break
        heap = jvm_live_heap(ctx.spark)  # it only grows from op to op, see README.md
        python_peak = rss.stop()  # before the checks, which load DuckDB

        try:
            problems = wl.verify()
        except Exception as exc:  # noqa: BLE001 — a check that cannot run is a failed check
            traceback.print_exc()
            problems = [f"output check raised {exc!r}"]
        for msg in problems:
            print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
        failed = min(attempted, failed + len(problems))
        store_counters = wl.store_counters() if ctx.trace else {}
    finally:
        stop_spark(ctx.spark)
        if wl is not None:
            wl.cleanup()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if not lat:
        raise RuntimeError("no operation completed")
    tp = tail_percentile(len(lat))
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_mem_mb": (python_peak + heap / 2**20, "MiB"),
        "op_cpu_s": (statistics.median(cpu), "s"),
    }
    tail = (f"p{tp:g} = {percentile(lat, tp):.4g} s" if tp > 50
            else "no tail: fewer than 20 samples")
    print(f"perfbench: {len(lat)} timed ops ({tail}); failed ops {failed}/{attempted} "
          f"(failed_ops_ratio {failed / attempted:.4f}); memory: Python processes "
          f"{python_peak:.1f} MiB + JVM live heap {heap / 2**20:.1f} MiB")
    print(f"perfbench:   op_s = {statistics.median(lat):.6g} s  (wall time, median of "
          f"{wl.operation}; not bounded, see README.md)")
    for k, (v, unit) in e2e.items():
        print(f"perfbench:   {k} = {v:.6g} {unit}")

    if ctx.trace:
        metrics = {}
        for span in SPANS:
            for counter, value in ctx.tracer.per_call(span).items():
                metrics[f"{span}.{counter}"] = {"value": value, "unit": SPAN_UNITS[counter]}
        for name, unit in STORE_COUNTERS:
            metrics[name] = {"value": store_counters.get(name, 0.0), "unit": unit}
        metrics["cachetrack.leaked_rdds"] = {"value": leaked, "unit": "count"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a termination signal unwinds through run()'s clean-up like an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
