"""Physical-plan regression gates: the properties PLANS.md audits,
pinned in CI for a representative query per family — a plan that loses
its pushdown/broadcast/scan discipline fails here instead of waiting
for the next manual audit. explain() only — nothing executes — except
the Python-operator guard, which runs its calls because AQE fixes the
final plan only then."""

from __future__ import annotations

import datetime as dt
import importlib.util
import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return E.queries()[name](spark, SF)._jdf.queryExecution().explainString(mode)


def _scans(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Scan ", plan, re.M))


def _shuffles(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_kpi_daily_scan_discipline(spark):
    p = _plan(spark, "kpi_daily")
    assert _scans(p) == 1
    # column pruning: the events scan must not read the props payload
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "props" not in m.group(1)


def test_window_filter_pushdown(spark):
    p = _plan(spark, "kpi_daily_window")
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p


def test_revenue_by_nation_broadcasts_dims(spark):
    p = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_top_customers_no_full_sort(spark):
    p = _plan(spark, "top_customers")
    assert "TakeOrderedAndProject" in p


def test_acf_daily_stays_single_derivation(spark):
    """Round-3 VERDICT #4 regression gate: 14 scans / 35 shuffles →
    must stay ≤2 / ≤6."""
    p = _plan(spark, "acf_daily")
    assert _scans(p) <= 2
    assert _shuffles(p) <= 6


def test_interval_overlap_no_nested_loop(spark):
    """The whole point of the bucket-explode formulation: the
    interval×interval join must be an equi-join, not a nested loop over
    the pair space (broadcast-NL of the tiny top-4 side is fine only if
    the join CONDITION is the bucket equi-key — assert no NL at all)."""
    p = _plan(spark, "interval_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_text_quality_scan_prunes_to_text(spark):
    p = _plan(spark, "text_quality")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "text" in cols
    assert "source" not in cols  # untouched columns never reach the scan


def test_bucketed_gold_join_has_no_exchange(spark, tmp_path):
    """S11 scale variant: bucketed gold ⋈ bucketed gold on the bucket
    key must plan WITHOUT a shuffle on either side (the bucketing IS
    the exchange, amortized at write time)."""
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.sources.sinks import write_bucketed_gold
    from smartdatapipeline_spark.operators.kpi import run_daily_kpis
    from smartdatapipeline_spark.session import read_events

    gold = run_daily_kpis(
        read_events(spark, SF).select(
            "ts", F.col("event_type").alias("metric"), "value"
        ),
        metric_col="metric",
        source_col=None,
    )
    name = "t_plan_gold_bucketed"
    write_bucketed_gold(gold, name, buckets=4)
    try:
        t = spark.table(name)
        j = t.alias("a").join(t.alias("b"), ["metric"]).groupBy("metric").count()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        p = j._jdf.queryExecution().explainString(mode)
        assert "Exchange hashpartitioning" not in p
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


#: physical operators that run Python: a pandas grouped map, a pandas or
#: Arrow scalar UDF, a plain Python UDF, mapInPandas
PYTHON_NODES = ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _executed_plan(df) -> str:
    from smartdatapipeline_spark.cachetrack import release_plan_caches

    df.collect()
    release_plan_caches(df)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dashboard_reads_plan_no_python_operator(spark):
    """With sklearn and statsmodels absent, the dashboard reads of the
    ingest-and-refresh loop run in the JVM alone: no executed plan holds
    a Python operator, so none forks a pyspark worker. forecast_drift
    keeps the grouped-map path on purpose (it is the oracle-checked
    consumer of ``forecast_with_model``)."""
    for lib in ("sklearn", "statsmodels"):
        if importlib.util.find_spec(lib) is not None:
            pytest.skip(f"{lib} is installed, so its model path runs in Python")
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.cachetrack import release_plan_caches
    from smartdatapipeline_spark.operators import forecast as FC
    from smartdatapipeline_spark.operators.anomaly import anomaly_iforest, rolling_zscore_api
    from smartdatapipeline_spark.operators.metrics import export_csv_frame, fetch_metric_daily
    from smartdatapipeline_spark.session import local_frame

    rows = []
    for m in range(3):
        for d in range(20):
            v = 100.0 + 7.0 * ((d * (m + 3)) % 11)
            rows.append((dt.date(2025, 1, 1) + dt.timedelta(days=d), 1, f"m{m}", v, v / 4.0, 4, 4))
    gold = local_frame(
        spark, rows,
        "metric_date date, source_id bigint, metric string, value_sum double, "
        "value_avg double, value_count bigint, value_distinct bigint",
    )
    series = gold.select("metric_date", "metric", F.col("value_sum").alias("value"))
    window = {"start_date": "2025-01-07", "end_date": "2025-01-20"}
    folds, summary = FC.reliability(series)
    calls = {
        "forecast": FC.normalize_forecast_contract(FC.forecast(series, horizon_days=7)),
        "fetch_metric_daily": fetch_metric_daily(gold, metric="m0", **window),
        "rolling_zscore_api": rolling_zscore_api(series),
        "anomaly_iforest": anomaly_iforest(series),
        "reliability": summary,
        "export_csv_frame": export_csv_frame(gold, **window),
    }
    for name, df in calls.items():
        plan = _executed_plan(df)
        assert [n for n in PYTHON_NODES if n in plan] == [], (name, plan)
    release_plan_caches(folds)
    assert "FlatMapGroupsInPandas" in _executed_plan(FC.forecast_drift(series))
