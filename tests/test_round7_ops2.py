"""Round-7 wave-2 operators: linear interpolation gap-fill and
tolerance-window duplicate suppression."""

from __future__ import annotations

import datetime as dt


def _series(spark, day_vals):
    rows = [
        (dt.datetime(2024, 1, d, 12, 0), "m", float(v)) for d, v in day_vals
    ]
    return spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )


# ------------------------------------------------ linear interpolation


def test_interpolate_linear_fills_gap_linearly(spark):
    from smartdatapipeline_spark.operators.temporal import (
        interpolate_linear_daily,
    )

    # days 1 and 4 observed (10 -> 40): days 2,3 must be 20, 30
    df = _series(spark, [(1, 10.0), (4, 40.0)])
    got = {
        str(r["day"]): (r["value_interp"], r["is_imputed"])
        for r in interpolate_linear_daily(df).collect()
    }
    assert got["2024-01-01"] == (10.0, False)
    assert got["2024-01-02"] == (20.0, True)
    assert got["2024-01-03"] == (30.0, True)
    assert got["2024-01-04"] == (40.0, False)


def test_interpolate_linear_keeps_observed_and_multiday_sums(spark):
    from smartdatapipeline_spark.operators.temporal import (
        interpolate_linear_daily,
    )

    # two events same day sum (decimal-exact) before interpolation
    df = _series(spark, [(1, 1.5), (1, 2.5), (3, 8.0)])
    got = {
        str(r["day"]): r["value_interp"]
        for r in interpolate_linear_daily(df).collect()
    }
    assert got["2024-01-01"] == 4.0
    assert got["2024-01-02"] == 6.0  # midpoint of 4 and 8
    assert got["2024-01-03"] == 8.0


def test_interpolate_linear_one_sided_gaps_stay_null(spark):
    """Leading/trailing gaps have one neighbor only — interpolation,
    not extrapolation; the spine starts/ends at observed days, so NULL
    can only arise when a series has a single observation shape that
    leaves pv or nv undefined (never here) — assert the frame bounds:
    every spine day between min and max is present exactly once."""
    from smartdatapipeline_spark.operators.temporal import (
        interpolate_linear_daily,
    )

    df = _series(spark, [(2, 5.0), (6, 9.0)])
    rows = interpolate_linear_daily(df).collect()
    days = sorted(str(r["day"]) for r in rows)
    assert days == [f"2024-01-0{d}" for d in range(2, 7)]
    assert all(r["value_interp"] is not None for r in rows)


# ---------------------------------------------- debounce exact dedup


def test_debounce_dedup_islands_and_counts(spark):
    from smartdatapipeline_spark.operators.temporal import (
        debounce_exact_dedup,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # u1 click v=1: retries at +2s, +4s (one island), fresh at +300s
        (1, t0, 7, "click", 1.0),
        (2, t0 + dt.timedelta(seconds=2), 7, "click", 1.0),
        (3, t0 + dt.timedelta(seconds=4), 7, "click", 1.0),
        (4, t0 + dt.timedelta(seconds=300), 7, "click", 1.0),
        # same user+time but DIFFERENT value: must survive independently
        (5, t0 + dt.timedelta(seconds=1), 7, "click", 2.0),
        # different user entirely
        (6, t0, 8, "click", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r["event_id"]: r["n_suppressed"] for r in
           debounce_exact_dedup(df, tolerance_sec=5).collect()}
    assert got == {1: 2, 4: 0, 5: 0, 6: 0}


def test_debounce_dedup_chaining_exceeds_tolerance_total(spark):
    """Chained retries each within tolerance of the PREVIOUS one stay a
    single island even when first->last exceeds the tolerance."""
    from smartdatapipeline_spark.operators.temporal import (
        debounce_exact_dedup,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=4 * i), 1, "e", 0.0) for i in range(5)
    ]  # 0,4,8,12,16s — every gap 4 < 5, span 16 > 5
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = debounce_exact_dedup(df, tolerance_sec=5).collect()
    assert len(got) == 1 and got[0]["event_id"] == 0
    assert got[0]["n_suppressed"] == 4
