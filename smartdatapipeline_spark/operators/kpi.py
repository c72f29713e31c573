"""Daily KPI aggregation — the engine's core operator (SURVEY §2.4 A1–A6).

Reference semantics (backend/app/services/kpi.py:13-232, routers/kpi.py:53-121):

- Group clean events by (UTC calendar day of ts, source_id, metric).
- Aggregates: SUM(value), AVG(value), COUNT(*), optional COUNT(DISTINCT f).
- AVG is defined as ``value_sum / NULLIF(value_count, 0)`` and is recomputed
  the same way at read time (services/metrics_calc.py:39-42) — we keep the
  stored and derived definitions identical.
- Date window filter is half-open in event time:
  ``ts >= floor(start) AND ts < floor(end) + 1 day`` (UTC)
  (services/kpi.py:10-11,37-38) — an *inclusive* end **date** becomes an
  *exclusive* next-midnight timestamp bound.
- COUNT(DISTINCT ...) is exact (tests assert equality with row counts:
  tests/kpi_metrics_engine/test_kpi_variants.py:66-85) — never
  approx_count_distinct.

Spark shape: one declarative ``groupBy().agg()``. Catalyst plans it as
partial (map-side) + final hash aggregation with whole-stage codegen; the
only shuffle is on the group keys, which is the theoretical minimum. The
half-open ts filter is pushed down to the parquet scan, and at 100 TB a
gold table partitioned by metric_date turns the same predicate into
partition pruning.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def day_window_filter(
    ts_col: Column,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> Column:
    """Half-open UTC event-time predicate (reference services/kpi.py:10-11,37-38).

    ``start``/``end`` are calendar dates; the filter is
    ``ts >= start 00:00 UTC  AND  ts < (end + 1 day) 00:00 UTC``.
    """
    cond = F.lit(True)
    if start_date is not None:
        cond = cond & (ts_col >= F.to_timestamp(F.lit(str(start_date))))
    if end_date is not None:
        cond = cond & (
            ts_col < F.to_timestamp(F.date_add(F.to_date(F.lit(str(end_date))), 1))
        )
    return cond


def run_daily_kpis(
    events: DataFrame,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
    metric_name: str | None = None,
    source_id: int | None = None,
    distinct_field: str | None = None,
    ts_col: str = "ts",
    metric_col: str = "metric",
    value_col: str = "value",
    source_col: str | None = "source_id",
    approx_distinct: bool = False,
) -> DataFrame:
    """The daily KPI group-by (reference services/kpi.py:13-232).

    Returns ``(metric_date, [source_id,] metric, value_sum, value_avg,
    value_count[, value_distinct])``. Column names follow the reference's
    ``metric_daily`` table (models/metric_daily.py:6-26).
    """
    df = events
    df = df.filter(day_window_filter(F.col(ts_col), start_date, end_date))
    if metric_name is not None:
        df = df.filter(F.col(metric_col) == metric_name)
    if source_id is not None and source_col is not None:
        df = df.filter(F.col(source_col) == source_id)

    keys = [F.to_date(F.col(ts_col)).alias("metric_date")]
    if source_col is not None and source_col in events.columns:
        keys.append(F.col(source_col))
    keys.append(F.col(metric_col).alias("metric"))

    # Exact decimal aggregation (reference stores Numeric(18,4):
    # models/metric_daily.py:10-16) — order-independent and therefore
    # deterministic across engines/retries; see functions/numeric.py.
    sum_dec = F.sum(F.col(value_col).cast("decimal(28,4)")).cast("double")
    aggs = [
        sum_dec.alias("value_sum"),
        # AVG := sum / NULLIF(count, 0)  (reference routers/kpi.py:132-139)
        (sum_dec / F.nullif(F.count(F.lit(1)), F.lit(0))).alias("value_avg"),
        F.count(F.lit(1)).alias("value_count"),
    ]
    if distinct_field is not None:
        # exact distinct by default — reference tests assert equality with
        # row counts (SURVEY A2). approx_distinct=True swaps in HLL++
        # (one aggregation pass, no expand) for 100 TB interactive use
        # where ±2% beats the exact double-shuffle.
        d = (
            F.approx_count_distinct(F.col(distinct_field))
            if approx_distinct
            else F.countDistinct(F.col(distinct_field))
        )
        aggs.append(d.alias("value_distinct"))

    return df.groupBy(*keys).agg(*aggs)


def distinct_rollup(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    metric_col: str = "metric",
    period: str = "month",
    p: int = 8,
) -> DataFrame:
    """A2's ``COUNT(DISTINCT)`` re-aggregated across days WITHOUT
    rescanning (reference services/kpi.py:40-43,60-61 answers every
    period by a fresh exact scan): per-(period, day, metric) HLL
    register partials — what a 100-TB deployment persists next to the
    daily KPI rows — fold to the period grain by bucket-wise MAX
    (functions/sketch.py ``hll_reaggregate``), then one raw estimate
    per (period, metric). The fold's input is ≤ days×m register rows
    per metric regardless of event volume (scale probe ``hll_merge``:
    exponent 0.01), so "distinct users this month" costs the same over
    60 k events as over 2 M.

    Output: (period, metric_col, buckets_used, v_empty, z_num,
    raw_est, small_range) — integer-exact register algebra plus one
    double division, cross-engine bit-stable (see hll_raw_estimate).
    """
    from smartdatapipeline_spark.functions import sketch as SK

    df = (
        events.filter(F.col(key_col).isNotNull())
        .withColumn("_day", F.to_date(F.col(ts_col)))
        .withColumn("_period", F.trunc(F.col("_day"), period))
    )
    daily = SK.hll_partial(df, key_col, by=["_period", "_day", metric_col], p=p)
    folded = SK.hll_reaggregate(
        daily, drop=["_day"], by=["_period", "_day", metric_col]
    )
    return SK.hll_raw_estimate(folded, by=["_period", metric_col], p=p).withColumnRenamed(
        "_period", "period"
    )


def ingest_stats(
    events: DataFrame,
    ts_col: str = "ts",
    metric_col: str = "metric",
) -> DataFrame:
    """Ingest-run stats aggregation (reference services/ingestion.py:249-286).

    ingested count, ts min/max, distinct metrics seen, first metric
    (alphabetical stand-in for arrival order, which Spark does not define).
    """
    return events.agg(
        F.count(F.lit(1)).alias("ingested"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        F.countDistinct(F.col(metric_col)).alias("metrics_seen"),
        F.min(metric_col).alias("first_metric"),
    )


def metric_names(
    events: DataFrame,
    metric_col: str = "metric",
    source_id: int | None = None,
    source_col: str = "source_id",
) -> DataFrame:
    """Distinct metric names sorted ascending (reference
    services/metrics_fetch.py:118-141)."""
    df = events
    if source_id is not None and source_col in df.columns:
        df = df.filter(F.col(source_col) == source_id)
    return df.select(F.col(metric_col).alias("metric")).distinct().orderBy("metric")


def kpi_rollup(
    events,
    metric_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Hierarchical KPI totals in ONE pass: per (metric, day), per
    metric, and grand total via ``ROLLUP`` — Catalyst's Expand node
    computes all three grouping sets from a single scan+shuffle instead
    of three separate aggregations. ``grouping_id`` disambiguates the
    levels (0 = leaf, 1 = per-metric, 3 = grand total).

    Decimal value sums keep every level exact and the cascade
    re-aggregation-safe (day totals sum to metric totals bit-for-bit).

    Output: (metric, day, gid, n_events, value_sum).
    """
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.functions.numeric import dsum

    return (
        events.select(
            F.col(metric_col).alias("metric"),
            F.to_date(ts_col).alias("day"),
            F.col(value_col).alias("_v"),
        )
        .rollup("metric", "day")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("_v").alias("value_sum"),
        )
        .select("metric", "day", "gid", "n_events", "value_sum")
    )


def daily_value_percentiles(
    events,
    qs: tuple[float, ...] = (0.5, 0.95),
    ts_col: str = "ts",
    metric_col: str = "event_type",
    value_col: str = "value",
):
    """Per (series, day) exact value percentiles — the daily latency
    heatmap every ops dashboard wants, with the same ceil(q·n) discrete
    convention as the global/grouped quantile operators. One rank
    window over the (series, day) partition (a day of one series always
    fits a task), all quantiles from one windowed frame via a post-
    window explode.

    Output: (series, day, q, value).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = (
        events.select(
            F.col(metric_col).alias("series"),
            F.to_date(ts_col).alias("day"),
            F.col(value_col).alias("_v"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("series", "day").orderBy(F.col("_v").asc())
            ),
        )
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("series", "day"))
        )
    )
    return (
        base.select(
            "series",
            "day",
            "_v",
            "_rn",
            "_n",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .filter(
            F.col("_rn") == F.greatest(F.ceil(F.col("q") * F.col("_n")), F.lit(1))
        )
        .select("series", "day", "q", F.col("_v").alias("value"))
    )
