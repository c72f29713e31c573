"""Clean-window re-probe for bench adjudications: time the named
registry queries (and/or streaming stages) with N warm reps each and
print one JSON line — the evidence a BENCH_ADJUDICATIONS.md entry
cites when deciding drift vs regression for a >25% mover. Each query
also reports the leak gate's two counts, each rep's plan caches
released: ``leaked_rdds``, how many more RDDs stay persisted after its
reps than before them, and ``leaked_caches``, how many more CacheManager
entries stay registered.

Usage:
    python tools/probe_queries.py [--runs 5] [--sf-dir DIR]
        [--streaming] query [query ...]

``--streaming`` additionally runs the bench's streaming stage group
(bench.py streaming_e2e) once per rep and reports per-stage medians,
so the noisiest fifth of the board gets the same repeated-measure
treatment as everything else.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
import bench  # noqa: E402
from smartdatapipeline_spark.cachetrack import release_plan_caches  # noqa: E402
from smartdatapipeline_spark.session import get_spark  # noqa: E402


def cache_entries(spark) -> int:
    """Entries registered in the session's CacheManager (its entry list
    is private, so it is read by reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # same warm discipline as bench.py: JVM + codegen, Python workers,
    # parquet footers — so rep 1 isn't a cold-start artifact
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(256, numPartitions=int(spark.sparkContext.defaultParallelism)).mapInPandas(
        lambda it: it, "id long"
    ).count()
    for f in sorted(os.listdir(args.sf_dir)):
        if f.endswith(".parquet"):
            spark.read.parquet(os.path.join(args.sf_dir, f)).limit(1).count()

    jsc = spark.sparkContext._jsc
    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in qs:
            print(f"probe: no such query {name!r}", file=sys.stderr)
            continue
        pinned = set(jsc.getPersistentRDDs().keySet())
        cached = cache_entries(spark)
        reps: list[float] = []
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                df = qs[name](spark, args.sf_dir)
                try:
                    df.write.format("noop").mode("overwrite").save()
                finally:
                    release_plan_caches(df)
                reps.append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — one failing query must not end the probe
            print(f"probe: {name} FAILED: {e!r}", file=sys.stderr)
            out[name] = {"error": repr(e)}
            continue
        reps.sort()
        out[name] = {
            "median": round(statistics.median(reps), 4),
            "min": round(reps[0], 4),
            "max": round(reps[-1], 4),
            "runs": args.runs,
            "leaked_rdds": len(set(jsc.getPersistentRDDs().keySet()) - pinned),
            "leaked_caches": cache_entries(spark) - cached,
        }

    if args.streaming:
        stage_reps: dict[str, list[float]] = {}
        for _ in range(args.runs):
            errors: dict[str, str] = {}
            t = bench.streaming_e2e(spark, args.sf_dir, errors)
            for k, v in t.items():
                stage_reps.setdefault(k, []).append(v)
            for k, e in errors.items():
                print(f"probe: {k} FAILED: {e}", file=sys.stderr)
        for k, reps in stage_reps.items():
            reps.sort()
            out[k] = {
                "median": round(statistics.median(reps), 4),
                "min": round(reps[0], 4),
                "max": round(reps[-1], 4),
                "runs": len(reps),
            }

    print(json.dumps({"sf_dir": args.sf_dir, "probes": out}, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
