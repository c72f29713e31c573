"""``ingest_refresh``: the reference's request loop, end to end.

A snapshot-store history of raw metric readings is bootstrapped during
set-up. Each operation is one client round trip: a small raw CSV batch
(one new day, late readings for the three days before it, ~10% re-sends
of the previous batch, ~2% invalid rows) goes through the incremental
change-feed refresh, the store's nightly maintenance job runs (each
batch is one day; late readings leave small files for it to compact),
then the dashboard reads the refreshed gold: one metric's last 14 days,
rolling z-scores, isolation-forest anomalies and the forecast, the
reliability summary and a CSV export of the last 14 days. The analyst
then runs part of the query mix over a seeded event log (see mix.py):
``sessionization``, the ``distinct_from_store`` sketch-store read, and
the three stateful streaming drains. Fixed-cost bound: many small
jobs, snapshot commits, the change feed and compaction, with writes
beside reads."""

from __future__ import annotations

import datetime as dt
import glob
import os
import random

from pyspark.sql import functions as F

import gen
from mix import Mix
from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.operators.anomaly import anomaly_iforest, rolling_zscore_api
from smartdatapipeline_spark.operators.forecast import (
    forecast,
    normalize_forecast_contract,
    reliability,
)
from smartdatapipeline_spark.operators.kpi import run_daily_kpis
from smartdatapipeline_spark.operators.metrics import export_csv_frame, fetch_metric_daily
from smartdatapipeline_spark.operators.pipeline import ingest_and_refresh
from smartdatapipeline_spark.plans.scheduler import snapshot_maintenance_job
from smartdatapipeline_spark.sources import snapstore as SS

GOLD_COLS = ("metric_date", "metric", "value_sum", "value_avg", "value_count")


def gold_rows(df) -> dict:
    """``(metric_date, metric) -> (value_sum, value_avg, value_count)``."""
    return {
        (str(r["metric_date"]), r["metric"]): (r["value_sum"], r["value_avg"], r["value_count"])
        for r in df.select(*GOLD_COLS).collect()
    }


def compare_gold(label: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    diff = sorted(set(got.items()) ^ set(want.items()))[:3]
    return [f"{label}: {len(got)} rows vs {len(want)} expected; first differences {diff}"]


def series(gold):
    return gold.select("metric_date", "metric", F.col("value_sum").alias("value"))


def save(df, path: str, fmt: str = "parquet") -> None:
    """Materialize a library result, then release what its plan cached."""
    df.write.format(fmt).mode("overwrite").option("header", True).save(path)
    release_plan_caches(df)


def collect(df) -> list:
    """Collect a library result, then release what its plan cached."""
    rows = df.collect()
    release_plan_caches(df)
    return rows


class IngestRefresh:
    operation = "one batch ingest, its dashboard reads and the event-log queries"
    METRICS, HISTORY_DAYS, HISTORY_ROWS, BATCH_ROWS, LATE_ROWS = 16, 14, 24, 150, 10
    WINDOW_DAYS = 14
    EVENTS = 10_000  # sf0.01's event count

    def __init__(self, ctx):
        self.ctx = ctx
        self.mix = Mix(ctx, {"sessionization": "mix.operators",
                             "distinct_from_store": "mix.stores"}, drains=True)

    def prepare(self) -> None:
        ctx = self.ctx
        rng = random.Random(ctx.seed)
        os.makedirs(ctx.path("raw"))
        self.history = gen.kpi_rows(rng, self.METRICS, 0, self.HISTORY_DAYS, self.HISTORY_ROWS)
        self.history_csv = ctx.path("raw", "history.csv")
        raw_rows = gen.write_raw_csv(self.history_csv, rng, self.history, [], 0.02)
        self.batches, prev = [], []
        for b in range(int(ctx.seconds) + 1):  # an operation takes well over a second
            day = self.HISTORY_DAYS + b
            clean = gen.kpi_rows(rng, self.METRICS, day, 1, self.BATCH_ROWS)
            for lag in (1, 2, 3):  # odd seconds, one residue mod 8 per lag: never a clash
                clean += gen.kpi_rows(rng, self.METRICS, day - lag, 1, self.LATE_ROWS,
                                      second0=2 * lag + 1, step=8)
            resend = rng.sample(prev, len(prev) // 10) if prev else []
            path = ctx.path("raw", f"batch-{b:03d}.csv")
            self.batches.append((path, gen.write_raw_csv(path, rng, clean, resend, 0.02), clean))
            prev = clean
        self.raw_bytes = os.path.getsize(self.history_csv)
        self.silver, self.gold = ctx.path("silver"), ctx.path("gold")
        self.export = ctx.path("export")
        self.ingested = 0
        self.seen_files: dict[str, int] = {}
        self.mix.prepare(rng, self.EVENTS)
        ctx.sizes = {"history_rows": raw_rows, "batch_rows": self.batches[0][1],
                     "metrics": self.METRICS, "events": self.EVENTS,
                     "stream_events": self.mix.n_stream}

    def setup(self) -> None:
        self._ingest(self.history_csv)
        self._track_files()
        self.mix.build_stores()

    def op(self, i: int) -> None:
        path, _, _ = self.batches[i]
        self._ingest(path)
        self.ingested = i + 1
        self.raw_bytes += os.path.getsize(path)
        self._maintain()
        self._read(self._day(self.HISTORY_DAYS + i))
        if self.ctx.trace:
            self._track_files()
        self.mix.run(i)

    def _day(self, d: int) -> str:
        return (gen.DAY0 + dt.timedelta(days=d)).isoformat()

    def _window(self, day: str) -> str:
        return (dt.date.fromisoformat(day) - dt.timedelta(days=self.WINDOW_DAYS - 1)).isoformat()

    def _ingest(self, csv_path: str) -> None:
        raw = self.ctx.spark.read.option("header", True).csv(csv_path)
        with self.ctx.span("operators.pipeline.ingest_and_refresh"):
            ingest_and_refresh(self.ctx.spark, raw, self.silver, self.gold,
                               store="snapshot", incremental=True)

    def _maintain(self) -> None:
        with self.ctx.span("plans.scheduler.snapshot_maintenance_job"):
            snapshot_maintenance_job(self.ctx.spark, [self.silver, self.gold], target_batches=1)()

    def _read(self, day: str) -> None:
        ctx, m = self.ctx, self.METRICS
        gold = SS.read_table(ctx.spark, self.gold)
        new_day = F.col("metric_date") == day
        got = {}
        with ctx.span("operators.metrics.fetch_metric_daily"):
            got["fetch"] = collect(fetch_metric_daily(
                gold, metric="m000", start_date=self._window(day), end_date=day))
        with ctx.span("operators.anomaly.rolling_zscore_api"):
            got["zscore"] = collect(rolling_zscore_api(series(gold)).filter(new_day))
        with ctx.span("operators.anomaly.anomaly_iforest"):
            got["iforest"] = collect(anomaly_iforest(series(gold)).filter(new_day))
        with ctx.span("operators.forecast.forecast"):
            got["forecast"] = collect(normalize_forecast_contract(
                forecast(series(gold), horizon_days=7)))
        with ctx.span("operators.forecast.reliability"):
            folds, summary = reliability(series(gold))
            got["reliability"] = collect(summary)
            release_plan_caches(folds)
        with ctx.span("operators.metrics.export_csv_frame"):
            save(export_csv_frame(gold, start_date=self._window(day), end_date=day),
                 self.export, "csv")
        want = {"fetch": self.WINDOW_DAYS, "zscore": m, "iforest": m, "forecast": 7 * m,
                "reliability": m}
        bad = {k: len(got[k]) for k in want if len(got[k]) != want[k]}
        if bad:
            raise AssertionError(f"dashboard reads for {day}: row counts {bad}, expected {want}")

    def _track_files(self) -> None:
        for root in (self.silver, self.gold):
            for f in glob.glob(f"{root}/**/*", recursive=True):
                if os.path.isfile(f) and f not in self.seen_files:
                    self.seen_files[f] = os.path.getsize(f)

    def verify(self) -> list[str]:
        spark = self.ctx.spark
        clean = self.history + [r for _, _, c in self.batches[: self.ingested] for r in c]
        want = gen.expected_gold(clean)
        got = gold_rows(SS.read_table(spark, self.gold))
        recompute = gold_rows(run_daily_kpis(SS.read_table(spark, self.silver).drop("event_date")))
        last = self._day(self.HISTORY_DAYS + self.ingested - 1)
        first = self._window(last)
        window = {k: v for k, v in want.items() if first <= k[0] <= last}
        export = spark.read.option("header", True).option("inferSchema", True).csv(self.export)
        return (compare_gold("gold vs generator", got, want)
                + compare_gold("gold vs silver recompute", got, recompute)
                + compare_gold("last CSV export vs generator", gold_rows(export), window)
                + self.mix.verify())

    def cleanup(self) -> None:
        self.mix.cleanup()

    def store_counters(self) -> dict:
        spark = self.ctx.spark
        self._track_files()
        stored = sum(os.path.getsize(f) for root in (self.silver, self.gold)
                     for f in glob.glob(f"{root}/**/*", recursive=True) if os.path.isfile(f))
        live = sum(len(SS.read_table(spark, r).inputFiles()) for r in (self.silver, self.gold))
        return {
            "sources.snapstore.write_amp": sum(self.seen_files.values()) / self.raw_bytes,
            "sources.snapstore.space_amp": stored / self.raw_bytes,
            "sources.snapstore.live_files": live,
        }
