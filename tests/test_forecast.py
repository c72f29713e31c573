"""Golden tests for the forecast pipeline, mirroring FIXTURES.md F6 and
the reference contract (routers/forecast.py:5-19)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from smartdatapipeline_spark.operators import forecast as FC


def _series(spark, values, metric="m", start=dt.date(2025, 1, 1), dates=None):
    if dates is None:
        dates = [start + dt.timedelta(days=i) for i in range(len(values))]
    return spark.createDataFrame(
        [
            Row(metric_date=d, metric=metric, value=float(v))
            for d, v in zip(dates, values)
        ]
    )


def test_spine_fill_zeros_gaps(spark):
    """W5: asfreq('D').fillna(0) — gaps become explicit zero days."""
    dates = [dt.date(2025, 1, 1), dt.date(2025, 1, 4)]
    out = {
        r["metric_date"]: r["value"]
        for r in FC.fill_date_spine(_series(spark, [5, 7], dates=dates)).collect()
    }
    assert out == {
        dt.date(2025, 1, 1): 5.0,
        dt.date(2025, 1, 2): 0.0,
        dt.date(2025, 1, 3): 0.0,
        dt.date(2025, 1, 4): 7.0,
    }


def test_value_or_chain_zero_falls_through(spark):
    """services/forecast.py:33 uses Python `or`: value_sum=0 falls through
    to value_avg."""
    df = spark.createDataFrame(
        [Row(value_sum=0.0, value_avg=3.5, value_count=2),
         Row(value_sum=9.0, value_avg=4.5, value_count=2),
         Row(value_sum=None, value_avg=None, value_count=None)]
    )
    vals = [r["v"] for r in df.select(FC.value_or_chain(df).alias("v")).collect()]
    assert vals == [3.5, 9.0, 0.0]


def test_naive_short_series_bounds_equal_last(spark):
    """< 14 points ⇒ yhat = lower = upper = last value (forecast.py:116-127)."""
    out = FC.forecast_naive(_series(spark, [1, 2, 3]), horizon_days=7).collect()
    assert len(out) == 7
    assert all(r["yhat"] == 3.0 and r["yhat_lower"] == 3.0 and r["yhat_upper"] == 3.0 for r in out)
    assert min(r["target_date"] for r in out) == dt.date(2025, 1, 4)  # last + 1


def test_naive_long_series_bounds_zero(spark):
    """≥ 14 points with SARIMAX unavailable ⇒ yhat = last, bounds = 0
    (forecast.py:57-66)."""
    out = FC.forecast_naive(_series(spark, range(1, 21)), horizon_days=7).collect()
    assert all(r["yhat"] == 20.0 and r["yhat_lower"] == 0.0 and r["yhat_upper"] == 0.0 for r in out)


def test_naive_all_zero_series_forecasts_zero(spark):
    out = FC.forecast_naive(_series(spark, [0, 0, 0]), horizon_days=7).collect()
    assert all(r["yhat"] == 0.0 and r["yhat_lower"] == 0.0 and r["yhat_upper"] == 0.0 for r in out)


def test_forecast_with_model_grouped_map_plumbing(spark):
    """M1 applyInPandas machinery with an injected deterministic model:
    per-group fitting, strictly-future anchor, schema, version tag."""
    import pandas as pd

    def const_model(s, horizon):
        return pd.DataFrame(
            {
                "yhat": [42.0] * horizon,
                "yhat_lower": [40.0] * horizon,
                "yhat_upper": [44.0] * horizon,
            }
        )

    long = _series(spark, range(1, 21), metric="long")          # 20 pts ≥ 14
    short = _series(spark, range(1, 6), metric="short")         # 5 pts < 14
    out = FC.forecast_with_model(
        long.unionByName(short), const_model, "const-1", horizon_days=7
    ).collect()
    by_metric: dict[str, list] = {}
    for r in out:
        by_metric.setdefault(r["metric"], []).append(r)
    lr = sorted(by_metric["long"], key=lambda r: r["target_date"])
    assert len(lr) == 7 and lr[0]["target_date"] == dt.date(2025, 1, 21)
    assert all(r["yhat"] == 42.0 and r["model_version"] == "const-1" for r in lr)
    # short series: M2 ladder inside the UDF — last value, naive tag
    sr = by_metric["short"]
    assert len(sr) == 7
    assert all(r["yhat"] == 5.0 and r["model_version"] == "naive-0.1" for r in sr)


def test_forecast_with_model_exception_falls_back_naive(spark):
    """M2: a model that throws ⇒ last-value naive inside the UDF
    (reference services/forecast.py:110-129)."""

    def broken_model(s, horizon):
        raise RuntimeError("fit diverged")

    out = FC.forecast_with_model(
        _series(spark, range(1, 21)), broken_model, "broken-1", horizon_days=3
    ).collect()
    assert len(out) == 3
    assert all(r["yhat"] == 20.0 and r["model_version"] == "naive-0.1" for r in out)


def test_contract_widens_bounds_and_pads_to_seven(spark):
    """C1: inverted bounds swapped then widened to include yhat; short
    groups padded forward with zero rows to exactly 7."""
    rows = [
        Row(metric="m", target_date=dt.date(2025, 2, 1), yhat=10.0,
            yhat_lower=12.0, yhat_upper=8.0),   # inverted + excludes yhat=10? swap->8,12 includes
        Row(metric="m", target_date=dt.date(2025, 2, 2), yhat=20.0,
            yhat_lower=1.0, yhat_upper=5.0),    # yhat above upper -> widen
        Row(metric="m", target_date=dt.date(2025, 2, 3), yhat=float("nan"),
            yhat_lower=None, yhat_upper=3.0),   # NaN/NULL -> 0
    ]
    out = sorted(
        FC.normalize_forecast_contract(spark.createDataFrame(rows)).collect(),
        key=lambda r: r["metric_date"],
    )
    assert len(out) == 7
    r1, r2, r3 = out[0], out[1], out[2]
    assert (r1["yhat_lower"], r1["yhat_upper"]) == (8.0, 12.0)
    assert (r2["yhat_lower"], r2["yhat_upper"]) == (1.0, 20.0)
    assert (r3["yhat"], r3["yhat_lower"], r3["yhat_upper"]) == (0.0, 0.0, 3.0)
    assert out[3]["yhat"] == 0.0 and out[3]["date"] == "2025-02-04"  # pad starts
    assert out[0]["metric_date"] == "2025-02-01T00:00:00Z"


def test_strictly_future_caps_at_seven(spark):
    gold = _series(spark, range(10))
    cand = spark.createDataFrame(
        [
            Row(metric="m", target_date=dt.date(2025, 1, 1) + dt.timedelta(days=i),
                yhat=1.0, yhat_lower=0.0, yhat_upper=2.0)
            for i in range(5, 30)
        ]
    )
    out = FC.strictly_future(cand, gold).collect()
    # last observed = 2025-01-10 ⇒ keep (01-11 .. 01-17], 7 rows
    dates = sorted(r["target_date"] for r in out)
    assert dates[0] == dt.date(2025, 1, 11) and len(dates) == 7


def test_persistence_mape_golden(spark):
    """lag-1 MAPE: series 100,110,121 ⇒ mean(10/110, 11/121)·100."""
    out = FC.persistence_mape(_series(spark, [100, 110, 121]), window_n=90).collect()
    expected = ((10 / 110 + 11 / 121) / 2) * 100
    assert abs(out[0]["mape"] - expected) < 1e-9
    assert out[0]["window_n"] == 90


def test_backtest_fold_structure(spark):
    """30 points, folds=3, horizon=7, window_n=14 ⇒ 3 folds with naive
    predictions from positions 23, 16, 9."""
    vals = list(range(1, 31))
    folds, summary = FC.rolling_backtest(
        _series(spark, vals), folds=3, horizon=7, window_n=14
    )
    f = {r["fold_index"]: r for r in folds.collect()}
    assert set(f) == {0, 1, 2}
    # fold 0: train ends at rn=23 (value 23), test = 24..30
    exp_mae0 = sum(abs(a - 23) for a in range(24, 31)) / 7
    assert abs(f[0]["mae"] - exp_mae0) < 1e-9
    s = summary.collect()[0]
    assert s["folds"] == 3 and 0.0 <= s["score"] <= 100.0


def test_reliability_fold_clamping_and_score(spark):
    """n=10, horizon=7 ⇒ max_folds = n-(h+1) = 2 ⇒ folds clamped from 5."""
    folds, summary = FC.reliability(
        _series(spark, range(1, 11)), days=30, folds=5, horizon=7
    )
    fr = folds.collect()
    # folds_eff=2: train_ends = 10-2*7=-4 (skipped), 10-1*7=3 ⇒ one valid fold
    assert len(fr) == 1 and fr[0]["fold_index"] == 1
    s = summary.collect()[0]
    assert isinstance(s["score"], int) and 0 <= s["score"] <= 100


def test_forecast_requested_empty_series_injectable_clock(spark):
    """Reference services/forecast.py:46-52: a requested series with NO
    history gets 7 zero rows anchored at "today"+1 — here with the
    clock injected so the contract is deterministic (SURVEY §7.4 #5)."""
    import datetime as dt

    from smartdatapipeline_spark.operators.forecast import forecast_requested

    series = spark.createDataFrame(
        [(dt.date(2025, 1, 1 + i), "have", 5.0 + i) for i in range(20)],
        "metric_date date, metric string, value double",
    )
    requested = spark.createDataFrame([("have",), ("missing",)], "metric string")
    out = forecast_requested(
        series, requested, today=dt.date(2025, 2, 1), horizon_days=7
    )
    rows = {m: [r for r in out.collect() if r["metric"] == m] for m in ("have", "missing")}
    # present series: normal ladder anchored at its own last date
    assert len(rows["have"]) == 7
    assert min(r["target_date"] for r in rows["have"]) == dt.date(2025, 1, 21)
    assert all(r["yhat"] == 24.0 for r in rows["have"])  # last value repeated
    # absent series: zeros anchored at the injected clock + 1
    assert len(rows["missing"]) == 7
    assert min(r["target_date"] for r in rows["missing"]) == dt.date(2025, 2, 2)
    assert all(
        r["yhat"] == 0.0 and r["yhat_lower"] == 0.0 and r["yhat_upper"] == 0.0
        for r in rows["missing"]
    )
    assert all(r["model_version"] == "naive-0.1" for r in rows["missing"])


def test_seasonal_naive_shifts_last_week(spark):
    import datetime as dt

    series = spark.createDataFrame(
        [(dt.date(2025, 1, 1 + i), "m", float(i)) for i in range(14)],
        "metric_date date, metric string, value double",
    )
    out = sorted(
        FC.forecast_seasonal_naive(series, horizon_days=7).collect(),
        key=lambda r: r["target_date"],
    )
    assert len(out) == 7
    # y(t+h) = y(t+h-7): targets Jan 15..21 carry values from Jan 8..14
    assert out[0]["target_date"] == dt.date(2025, 1, 15)
    assert [r["yhat"] for r in out] == [7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0]
    assert all(r["yhat_lower"] == r["yhat"] == r["yhat_upper"] for r in out)
    with pytest.raises(ValueError):
        FC.forecast_seasonal_naive(series, horizon_days=8, period=7)


def test_ewma_fold_matches_python(spark):
    import datetime as dt

    vals = [4.0, 8.0, 2.0, 6.0, 10.0]
    series = spark.createDataFrame(
        [(dt.date(2025, 1, 1 + i), "m", v) for i, v in enumerate(vals)],
        "metric_date date, metric string, value double",
    )
    out = FC.forecast_ewma(series, horizon_days=3, alpha=0.5).collect()
    level = vals[0]
    for x in vals[1:]:
        level = 0.5 * x + 0.5 * level
    assert len(out) == 3
    assert all(r["yhat"] == level for r in out)
    assert min(r["target_date"] for r in out) == dt.date(2025, 1, 6)
    # single-point series: level = the point itself (seed, empty fold)
    one = spark.createDataFrame(
        [(dt.date(2025, 1, 1), "m", 7.0)],
        "metric_date date, metric string, value double",
    )
    assert FC.forecast_ewma(one, horizon_days=1).first()["yhat"] == 7.0


def _arima_scalar_reference(values, horizon=7):
    """Independent plain-Python ARIMA(1,1,1) CSS recursion — the test
    twin of operators/forecast.forecast_arima's model rows."""
    import math

    w = [values[i] - values[i - 1] for i in range(1, len(values))]
    m = len(w)
    best = None
    for kp in range(-19, 20):
        for kt in range(-19, 20):
            phi, theta = kp / 20.0, kt / 20.0
            eps, sse, aw = w[0], 0.0, w[0]
            for t in range(1, m):
                e = (w[t] - phi * aw) - theta * eps
                sse += e * e
                eps, aw = e, w[t]
            if best is None or sse < best[0]:
                best = (sse, kp, kt, eps)
    sse, kp, kt, eps_m = best
    phi, theta = kp / 20.0, kt / 20.0
    sigma2 = sse / float(m - 1)
    last_val, w_last = float(values[-1]), float(w[-1])
    f1 = phi * w_last + theta * eps_m
    what, cum, psi, powp, vs = f1, f1, 1.0, 1.0, 1.0
    rows = []
    for _ in range(horizon):
        yhat = last_val + cum
        se = math.sqrt(sigma2 * vs)
        rows.append((yhat, yhat - 1.96 * se, yhat + 1.96 * se))
        what = phi * what
        cum = cum + what
        psi = psi + (phi + theta) * powp
        powp = phi * powp
        vs = vs + psi * psi
    return phi, theta, rows


def _arima_fixture():
    """``{(source, metric): values}`` for the batched ARIMA checks: 200
    seeded 2-decimal random walks (lengths 1, 2, 13, 14, 15 and 90, then
    14–40; every metric name under three sources) plus the ladder's
    edge cases — all-zero, constant non-zero (every SSE is 0, so the
    fit ties to (−19, −19)), sparse-zero and zero-sum series."""
    import numpy as np

    rng = np.random.RandomState(20250101)
    out = {}
    for k in range(200):
        n = (1, 2, 13, 14, 15, 90)[k % 6] if k < 30 else int(rng.randint(14, 41))
        step = 5.0 if k % 2 else 40.0
        vals = np.round(100.0 + np.cumsum(rng.randn(n)) * step, 2)
        out[(f"s{k % 3}", f"m{k // 3:03d}")] = [float(x) for x in vals]
    sparse = [0.0] * 20
    sparse[4], sparse[15] = 7.5, 3.25
    out.update({
        ("e", "zero20"): [0.0] * 20,
        ("e", "zero3"): [0.0] * 3,
        ("e", "const20"): [5.0] * 20,
        ("e", "const90"): [-2.5] * 90,
        ("e", "sparse20"): sparse,
        ("e", "zerosum20"): [1.25, -1.25] * 10,
        ("e", "zerosum3"): [2.0, -2.0, 0.0],
    })
    return out


def _arima_expected(values, horizon):
    """The ladder around ``_arima_scalar_reference``: ≥ 14 points and a
    non-zero exact sum fit the model, else the last value repeats
    (0.0 for an all-zero sum), bounds included."""
    from decimal import Decimal

    total = sum(Decimal(repr(v)) for v in values)
    if len(values) >= FC.MIN_POINTS and total != 0:
        return _arima_scalar_reference(values, horizon)[2], "arima-css-0.1"
    last = 0.0 if total == 0 else float(values[-1])
    return [(last, last, last)] * horizon, "naive-0.1"


def _arima_frame(spark, series):
    """One (source, metric, metric_date, value) frame; series start on
    staggered dates so target dates differ per series."""
    from smartdatapipeline_spark.session import local_frame

    rows = []
    for i, ((src, metric), vals) in enumerate(sorted(series.items())):
        d0 = dt.date(2025, 1, 1) + dt.timedelta(days=i % 7)
        rows += [(src, metric, d0 + dt.timedelta(days=j), v) for j, v in enumerate(vals)]
    return local_frame(spark, rows, "source string, metric string, metric_date date, value double")


def _hex(x):
    return None if x is None else float.hex(x)


def _arima_rows(spark, series, horizon):
    """forecast_arima over all ``series`` in one call: ``{key:
    ([(yhat, lower, upper) as float hex], version, first target date)}``."""
    out = FC.forecast_arima(
        _arima_frame(spark, series), horizon, partition_cols=("source", "metric")
    ).collect()
    by = {}
    for r in sorted(out, key=lambda r: (r["source"], r["metric"], r["target_date"])):
        by.setdefault((r["source"], r["metric"]), []).append(r)
    return {
        k: (
            [tuple(_hex(r[c]) for c in ("yhat", "yhat_lower", "yhat_upper")) for r in rs],
            {r["model_version"] for r in rs},
            rs[0]["target_date"],
        )
        for k, rs in by.items()
    }


#: outputs of the grouped-map (pandas) fit this plan replaced, pinned per
#: series — each horizon row is the same. NULL and NaN read as NaN: a NaN
#: difference turns every model output NaN, which forward-fills to 0.0;
#: a NaN last value on the naive path reaches the caller as NULL; an inf
#: puts NaN in some lattice cells, and numpy's argmin takes the first.
_WALK = [100.0 + i * 1.5 + (i % 3) for i in range(20)]
_NAN = float("nan")
ARIMA_PINNED = {
    "null_mid": (_WALK[:5] + [None] + _WALK[6:], 0.0, "arima-css-0.1"),
    "nan_mid": (_WALK[:5] + [_NAN] + _WALK[6:], 0.0, "arima-css-0.1"),
    "null_last": (_WALK[:19] + [None], 0.0, "arima-css-0.1"),
    "nan_first": ([_NAN] + _WALK[1:], 0.0, "arima-css-0.1"),
    "inf_mid": (_WALK[:5] + [float("inf")] + _WALK[6:], 0.0, "arima-css-0.1"),
    "nan_last_short": (_WALK[:4] + [_NAN], None, "naive-0.1"),
    "null_last_short": (_WALK[:4] + [None], None, "naive-0.1"),
    "null_short": ([None, 1.0, None], None, "naive-0.1"),
    "all_null": ([None] * 20, 0.0, "naive-0.1"),
    "all_nan": ([_NAN] * 20, 0.0, "naive-0.1"),
    "zero_null": ([0.0] * 10 + [None] + [0.0] * 9, 0.0, "naive-0.1"),
}


def test_arima_plan_bit_exact_batched(spark):
    """forecast_arima over 200+ series in one frame, two partition
    columns, horizons 10 and 1: every row equals the scalar reference
    plus the ladder, floats compared as hex, and the NULL/NaN series
    give the pinned grouped-map outputs."""
    series = _arima_fixture()
    pinned = {("n", k): v for k, v in ARIMA_PINNED.items()}
    frame = {**series, **{k: v[0] for k, v in pinned.items()}}
    expected = {k: _arima_expected(v, 10) for k, v in series.items()}
    assert {v for _, v in expected.values()} == {"arima-css-0.1", "naive-0.1"}
    dates = {k: dt.date(2025, 1, 1) + dt.timedelta(days=i % 7 + len(frame[k]))
             for i, k in enumerate(sorted(frame))}
    for h in (10, 1):
        got = _arima_rows(spark, frame, h)
        assert set(got) == set(frame)
        for k, (rows, version) in expected.items():
            assert got[k] == ([tuple(map(float.hex, r)) for r in rows[:h]], {version}, dates[k]), k
        for k, (_, value, version) in pinned.items():
            assert got[k] == ([(_hex(value),) * 3] * h, {version}, dates[k]), k


def test_arima_empty_input_keeps_schema(spark):
    out = FC.forecast_arima(_arima_frame(spark, {}), 7, partition_cols=("source", "metric"))
    assert out.dtypes == [
        ("source", "string"), ("metric", "string"), ("target_date", "date"),
        ("yhat", "double"), ("yhat_lower", "double"), ("yhat_upper", "double"),
        ("model_version", "string"),
    ]
    assert out.collect() == []


def test_arima_css_golden_coefficients(spark):
    """The lattice CSS fit recovers the generating AR signal: a strongly
    autocorrelated differenced series pins (φ, θ), and the Spark plan's
    rows are bit-identical to a plain-Python scalar recursion."""
    import numpy as np

    # AR(1)-in-differences with phi=0.6: w_t = 0.6 w_{t-1} + e_t
    rng = np.random.RandomState(11)
    w = [1.0]
    for _ in range(59):
        w.append(0.6 * w[-1] + rng.randn())
    values = [float(x) for x in np.round(100.0 + np.cumsum(w), 2)]

    phi, theta, rows = _arima_scalar_reference(values)
    assert abs(phi - 0.6) <= 0.2  # lattice lands near the true AR coeff

    got, version, _ = _arima_rows(spark, {("s", "m"): values}, 7)[("s", "m")]
    assert version == {"arima-css-0.1"}
    assert got == [tuple(map(float.hex, r)) for r in rows]  # bit-exact


def test_arima_interval_widens_and_ladder(spark):
    """forecast_arima: ≥14-pt series get arima-css rows with widening
    95% bands; <14-pt series fall back to the M2 naive ladder."""
    import numpy as np

    rng = np.random.RandomState(3)
    vals = list(np.round(np.cumsum(rng.randn(30)) * 5 + 50, 2))
    long = _series(spark, vals, metric="long")
    short = _series(spark, [1, 2, 3], metric="short")
    out = FC.forecast_arima(long.unionByName(short), horizon_days=7).collect()
    by = {}
    for r in out:
        by.setdefault(r["metric"], []).append(r)
    lr = sorted(by["long"], key=lambda r: r["target_date"])
    assert len(lr) == 7
    assert all(r["model_version"] == "arima-css-0.1" for r in lr)
    widths = [r["yhat_upper"] - r["yhat_lower"] for r in lr]
    assert all(w > 0 for w in widths)
    assert widths == sorted(widths)  # ψ-weight bands widen monotonically
    assert all(r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"] for r in lr)
    sr = by["short"]
    assert all(r["model_version"] == "naive-0.1" and r["yhat"] == 3.0 for r in sr)


def test_forecast_dispatcher_statsmodels_absent_still_models(spark):
    """statsmodels-absent no longer means model-absent: the M1
    dispatcher degrades SARIMAX → from-scratch ARIMA, never to naive
    (for ≥14-pt series)."""
    try:
        import statsmodels  # noqa: F401
        import pytest

        pytest.skip("statsmodels present; absence path not reachable")
    except ImportError:
        pass
    import numpy as np

    rng = np.random.RandomState(5)
    vals = list(np.round(np.cumsum(rng.randn(20)) + 10, 2))
    out = FC.forecast(_series(spark, vals), horizon_days=7).collect()
    assert len(out) == 7
    assert all(r["model_version"] == "arima-css-0.1" for r in out)


def test_uat_ramp_forecast_contract(spark):
    """Reference UAT flow (tests/uat/test_forecast_daily_contract_ua.py:
    37-80): 30-day ramp 100..129 → forecast → public contract. With the
    from-scratch ARIMA live, the ramp's constant +1 drift extrapolates
    ~linearly; the contract emits exactly 7 strictly-future rows with
    UTC-midnight Z strings and widened bounds."""
    vals = [100.0 + i for i in range(30)]
    series = _series(spark, vals)
    fc = FC.forecast(series, horizon_days=7)
    out = FC.normalize_forecast_contract(fc).collect()
    assert len(out) == 7
    rows = sorted(out, key=lambda r: r["date"])
    assert rows[0]["date"] == "2025-01-31" and rows[-1]["date"] == "2025-02-06"
    assert all(r["metric_date"].endswith("T00:00:00Z") for r in rows)
    for h, r in enumerate(rows, start=1):
        assert abs(r["yhat"] - (129.0 + h)) < 2.0  # ramp continues ~ +1/day
        assert r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"]


def test_trend_queries_leave_no_persistent_rdds(spark):
    """ols_trend, theilsen_trend and mann_kendall cache their day-grain
    frame and hand it out with the lazy plan: once the result is
    materialized and its plan caches released, no RDD stays persisted."""
    import __spark_entry__ as E
    from smartdatapipeline_spark.cachetrack import release_plan_caches
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    qs = E.queries()
    for name in ("ols_trend", "theilsen_trend", "mann_kendall"):
        before = set(jsc.getPersistentRDDs().keySet())
        out = qs[name](spark, SF_SMALL)
        assert out.count() > 0
        release_plan_caches(out)
        grown = set(jsc.getPersistentRDDs().keySet()) - before
        assert not grown, (name, sorted(grown))
