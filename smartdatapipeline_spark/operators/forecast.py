"""Forecasting pipeline (SURVEY §2.5 W4–W7, §2.6 M1–M5, §2.7 C1–C3).

Reference: backend/app/services/forecast.py, forecast_reliability.py,
routers/forecast.py.

Design: everything except the SARIMAX fit itself is declarative DataFrame
code — date-spine gap fill, the naive-model ladder, rolling-origin fold
construction, per-fold error metrics, the from-scratch ARIMA(1,1,1) fit
that stands in for SARIMAX, and the 7-row output contract all run as set
operations over *all* (source, metric) series at once. The reference
loops over one series in one process; here a million series backtest in
one shuffle. Per-group Python runs only through ``forecast_with_model``
(a pandas grouped map): SARIMAX when statsmodels is installed, and the
drift model that keeps that path oracle-checked.

Determinism: error metrics whose terms involve division (MAPE/sMAPE) are
summed with an explicit left-fold over date-ordered arrays
(``aggregate(array_sort(collect_list(...)))``) because a parallel
``SUM(double)`` is order-nondeterministic; MAE/RMSE/bias use exact
decimal sums (|a−p| is exact at the data's scale). See
functions/numeric.py for the full discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


MIN_POINTS = 14  # reference services/forecast.py:113


# ------------------------------------------------------------------ W5

def value_or_chain(df: DataFrame) -> Column:
    """The reference's ``r.value_sum or r.value_avg or r.value_count or 0.0``
    (services/forecast.py:33) — a Python ``or`` chain, so **0.0 falls
    through** just like NULL does. Faithfully: first non-null non-zero of
    (value_sum, value_avg, value_count), else 0.0."""
    cols = [c for c in ("value_sum", "value_avg", "value_count") if c in df.columns]
    expr = F.lit(0.0)
    for c in reversed(cols):
        v = F.col(c).cast("double")
        expr = F.when(v.isNotNull() & (v != 0.0), v).otherwise(expr)
    return expr


def fill_date_spine(
    df: DataFrame,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
    fill: float = 0.0,
) -> DataFrame:
    """W5 — daily re-index + zero fill (reference services/forecast.py:36:
    ``s.asfreq("D").fillna(0.0)``): per group, generate every calendar day
    between min and max date and left-join values, missing ⇒ ``fill``.

    ``sequence`` + ``explode`` keeps this fully distributed: the spine is
    built per group, no driver-side date arithmetic."""
    bounds = df.groupBy(*partition_cols).agg(
        F.min(date_col).alias("_d0"), F.max(date_col).alias("_d1")
    )
    spine = bounds.select(
        *partition_cols,
        F.explode(F.sequence("_d0", "_d1", F.expr("interval 1 day"))).alias(date_col),
    )
    return (
        spine.join(df, [*partition_cols, date_col], "left")
        .withColumn(value_col, F.coalesce(F.col(value_col), F.lit(fill)))
    )


# ------------------------------------------------------------------ M1/M2

def forecast_naive(
    series: DataFrame,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
    model_version: str = "naive-0.1",
) -> DataFrame:
    """M2 — the naive-model ladder, exactly as the reference degrades
    (services/forecast.py:45-66,110-129):

    - all-zero series ⇒ zero forecasts (yhat = lower = upper = 0)
    - < 14 points ⇒ repeat last value; bounds = last value (:116-127)
    - ≥ 14 points, SARIMAX unavailable ⇒ repeat last value; bounds = 0.0
      (:57-66 — note the deliberately different bounds!)

    Emits ``horizon_days`` strictly-future rows per group anchored at
    last observed day + 1. One aggregation per group, then a generated
    date spine — no per-series work on the driver."""
    per = series.groupBy(*partition_cols).agg(
        F.max(date_col).alias("_last_date"),
        F.max_by(F.col(value_col), F.col(date_col)).alias("_last_val"),
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(value_col).cast("decimal(38,4)")).cast("double").alias("_sum"),
    )
    all_zero = F.col("_sum") == 0.0
    short = F.col("_n") < MIN_POINTS
    yhat = F.when(all_zero, 0.0).otherwise(F.col("_last_val"))
    bound = (
        F.when(all_zero, 0.0)
        .when(short, F.col("_last_val"))  # naive path: bounds = last value
        .otherwise(F.lit(0.0))  # SARIMAX-unavailable path: bounds = 0.0
    )
    return per.select(
        *partition_cols,
        F.explode(
            F.sequence(
                F.date_add("_last_date", 1),
                F.date_add("_last_date", horizon_days),
                F.expr("interval 1 day"),
            )
        ).alias("target_date"),
        yhat.alias("yhat"),
        bound.alias("yhat_lower"),
        bound.alias("yhat_upper"),
        F.lit(model_version).alias("model_version"),
    )


def forecast_with_model(
    series: DataFrame,
    model_fn,
    model_version: str,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M1 plumbing — per-group model fitting via ``applyInPandas``.

    ``model_fn(s: pd.Series[day-indexed], horizon: int) -> pd.DataFrame``
    with columns (yhat, yhat_lower, yhat_upper) and ``horizon`` rows.
    Inside the UDF, the reference's M2 ladder applies: series with
    < MIN_POINTS(14) points or all-zero sum, and any model exception,
    fall back to last-value repetition (services/forecast.py:45-66,
    110-129). NaN/inf in model output are ffill→0 like the SARIMAX CI
    handling (:88-91)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [f for f in series.schema.fields if f.name in partition_cols]
        + [
            T.StructField("target_date", T.DateType()),
            T.StructField("yhat", T.DoubleType()),
            T.StructField("yhat_lower", T.DoubleType()),
            T.StructField("yhat_upper", T.DoubleType()),
            T.StructField("model_version", T.StringType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(date_col)
        s = pd.Series(
            pdf[value_col].to_numpy(dtype=float),
            index=pd.DatetimeIndex(pd.to_datetime(pdf[date_col])),
        )
        keys = {c: pdf[c].iloc[0] for c in partition_cols}
        last = s.index.max()
        idx = pd.date_range(last + pd.Timedelta(days=1), periods=horizon_days, freq="D")
        out = None
        version = model_version
        if len(s) >= MIN_POINTS and float(s.sum()) != 0.0:
            try:
                m = model_fn(s, horizon_days)
                out = pd.DataFrame(
                    {
                        "yhat": m["yhat"].to_numpy(),
                        "yhat_lower": m["yhat_lower"].to_numpy(),
                        "yhat_upper": m["yhat_upper"].to_numpy(),
                    },
                    index=idx,
                ).ffill().fillna(0.0)
            except Exception:
                out = None  # M2: model blew up ⇒ naive
        if out is None:
            last_val = 0.0 if float(s.sum()) == 0.0 else float(s.iloc[-1])
            out = pd.DataFrame(
                {"yhat": last_val, "yhat_lower": last_val, "yhat_upper": last_val},
                index=idx,
            )
            version = "naive-0.1"
        out = out.reset_index(names="target_date")
        out["target_date"] = out["target_date"].dt.date
        for k, v in keys.items():
            out[k] = v
        out["model_version"] = version
        return out[[*partition_cols, "target_date", "yhat", "yhat_lower", "yhat_upper", "model_version"]]

    return series.groupBy(*partition_cols).applyInPandas(fit, schema=out_schema)


def forecast_requested(
    series: DataFrame,
    requested: DataFrame,
    today,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Forecasts for an explicit request list, including series with NO
    history: the reference anchors an empty series at "today"+1 and
    emits zeros (services/forecast.py:46-52 — ``pd.Timestamp.utcnow()``,
    nondeterministic; SURVEY §7.4 risk 5 says make the clock
    INJECTABLE, which ``today`` is — pass a date, never read the wall
    clock in an operator).

    ``requested`` carries the partition-col combinations the caller
    asked for; series present in the data take the normal ladder, the
    rest get the empty-series contract (7 zero rows from today+1).
    """
    present = forecast_naive(
        series, horizon_days, partition_cols, date_col, value_col
    )
    absent = requested.select(*partition_cols).distinct().join(
        series.select(*partition_cols).distinct(), list(partition_cols), "left_anti"
    )
    zeros = absent.select(
        *partition_cols,
        F.explode(
            F.sequence(
                F.date_add(F.lit(today), 1),
                F.date_add(F.lit(today), horizon_days),
                F.expr("interval 1 day"),
            )
        ).alias("target_date"),
        F.lit(0.0).alias("yhat"),
        F.lit(0.0).alias("yhat_lower"),
        F.lit(0.0).alias("yhat_upper"),
        F.lit("naive-0.1").alias("model_version"),
    )
    return present.unionByName(zeros)


def drift_model_fn(s, horizon: int):
    """Deterministic drift model — real per-group numpy math for the M1
    grouped-map path (the reference's SARIMAX slot,
    services/forecast.py:39-92, needs statsmodels, absent here; this is
    the first-class deterministic stand-in the plumbing is validated
    with).

    Forecast: yhat(h) = y_n + h·(y_n − y_1)/nd  (classic drift), with
    Gaussian drift intervals yhat ± 1.96·σ_d·sqrt(h·(1 + h/nd)) where
    σ_d is the sample std-dev of the one-step differences.

    Cross-engine bit-parity: σ_d is computed on CENTI-QUANTIZED diffs
    (m_i = round(100·d_i) as exact int64) so both engines sum exact
    integers — order-independent — and then run the *same* double
    expression tree ((Σm² − (Σm)²/nd)/(nd−1), sqrt, /100). Input values
    are 2-decimal daily sums, so quantization is lossless. At 2^53-scale
    sums this would need a wider quantum — documented, not hit at any SF
    here.
    """
    import math

    import numpy as np
    import pandas as pd

    v = s.to_numpy(dtype=float)
    nd = len(v) - 1
    first, last = float(v[0]), float(v[-1])
    slope = (last - first) / float(nd)
    if nd >= 2:
        m = np.rint(np.diff(v) * 100.0).astype(np.int64)
        sum_m = float(int(m.sum()))
        sum_m2 = float(int((m * m).sum()))
        var_m = (sum_m2 - sum_m * sum_m / float(nd)) / float(nd - 1)
        sigma = math.sqrt(var_m if var_m > 0.0 else 0.0) / 100.0
    else:
        sigma = 0.0
    rows = []
    for h in range(1, horizon + 1):
        hf = float(h)
        yhat = last + slope * hf
        se = sigma * math.sqrt(hf * (1.0 + hf / float(nd)))
        rows.append((yhat, yhat - 1.96 * se, yhat + 1.96 * se))
    return pd.DataFrame(rows, columns=["yhat", "yhat_lower", "yhat_upper"])


def forecast_drift(
    series: DataFrame,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M1 via the drift model — exercises the exact grouped-map plumbing
    of ``forecast_with_model`` that SARIMAX uses (same fallback ladder, same output
    contract), with deterministic math an SQL oracle can verify. It stays
    on that path on purpose: it is the path's oracle-checked consumer."""
    return forecast_with_model(
        series,
        drift_model_fn,
        "drift-0.1",
        horizon_days,
        partition_cols,
        date_col,
        value_col,
    )


#: ARIMA CSS grid: φ, θ ∈ {k/20 : k = −19 … 19} (|·| ≤ 0.95, step 0.05)
ARIMA_GRID_K = 19
ARIMA_GRID_DENOM = 20.0


def forecast_arima(
    series: DataFrame,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M1 — from-scratch ARIMA(1,1,1) per series, the reference's
    SARIMAX(1,1,1) slot (services/forecast.py:39-92: order=(1,1,1), no
    seasonal part ⇒ plain ARIMA(1,1,1); strictly-future index; CI
    ffill→0) with no statsmodels, as one Spark plan: no Python worker.

    Estimation is **conditional sum of squares** (Box–Jenkins): on the
    differenced series w_t = y_t − y_{t−1} the ARMA(1,1) residual
    recursion ε_t = (w_t − φ·w_{t−1}) − θ·ε_{t−1} (conditioned on
    ε_1 = w_1) is evaluated over the fixed (φ, θ) lattice
    {k/20 : |k| ≤ 19}² and the CSS-minimizing pair wins (ties break to
    the smaller (k_φ, k_θ)). A lattice argmin instead of a quasi-Newton
    fit keeps the estimator DETERMINISTIC and exactly reproducible by
    the DuckDB ``list_reduce`` oracle — same IEEE op sequence,
    bit-identical floats — while still being a real CSS estimate
    (±0.025 of the continuous optimum, far inside sampling noise at
    these series lengths).

    Forecast: ŵ_{m+1} = φ·w_m + θ·ε_m, ŵ_{m+h} = φ·ŵ_{m+h−1}, integrated
    back as ŷ_{n+h} = y_n + Σŵ. Intervals are the standard ψ-weight
    bands of the integrated process — Ψ_j = Ψ_{j−1} + (φ+θ)·φ^{j−1},
    Var(h) = σ̂²·Σ_{j<h} Ψ_j², σ̂² = CSS/(m−1) — at ±1.96·SE (the
    reference's 95% SARIMAX interval, services/forecast.py:81-87).
    NaN in the model output is forward-filled along the horizon, else
    0.0 (the SARIMAX CI handling, :88-91).

    The M2 ladder: a series with < MIN_POINTS points or an all-zero
    value sum (the exact decimal(38,4) sum; NULL, NaN and values outside
    decimal(38,4) such as ±inf count as absent) repeats its last value,
    bounds included, as ``naive-0.1``.

    The plan reads ``series`` once: one ``groupBy`` (date-sorted value
    array + ladder sum), the differences, the lattice fit as
    ``array_min`` over 39×39 ``aggregate`` folds (struct fields ordered
    so the winner is numpy's row-major argmin), the ψ-weight recursion
    as one ``aggregate`` over the horizon, then a single ``posexplode``
    of the model or naive rows. It is written as SQL expression strings:
    the Column-API form of the same plan took ~2,300 py4j calls and
    ~0.4 s of driver time to build. Every fold step is interpreted JVM
    code, 0.3–0.4 µs per lattice cell per point on one core of a
    4-vCPU VM: a 365-point series costs ~0.2 s of CPU, ~10× a vectorized
    numpy fit (PERF.md "Forecast in the JVM"). Not bit-identical to
    statsmodels (Kalman-filter ML vs CSS) — that parity is
    environment-blocked."""
    keys = [f"`{c}`" for c in partition_cols]
    per = series.groupBy(*partition_cols).agg(
        F.max(date_col).alias("_last_date"),
        # date-sorted values; pandas read NULL as NaN, where Spark
        # arithmetic would keep NULL
        F.expr(
            f"transform(array_sort(collect_list(named_struct('d', `{date_col}`, "
            f"'v', coalesce(CAST(`{value_col}` AS DOUBLE), double('NaN'))))), p -> p.v)"
        ).alias("_v"),
        F.expr(
            f"coalesce(CAST(sum(try_cast(`{value_col}` AS DECIMAL(38,4))) AS DOUBLE), 0D)"
        ).alias("_sum"),
    )
    model = f"size(_v) >= {MIN_POINTS} AND _sum != 0"
    fitted = per.selectExpr(
        *keys,
        "_last_date",
        f"{model} AS _model",
        "element_at(_v, -1) AS _last",
        # a NaN last value reaches the caller as NULL (Arrow's reading of
        # the pandas NaN the grouped-map path returned)
        "IF(_sum = 0, 0D, nanvl(element_at(_v, -1), CAST(NULL AS DOUBLE))) AS _naive",
        f"IF({model}, zip_with(slice(_v, 2, size(_v)), slice(_v, 1, size(_v) - 1), "
        "(a, b) -> a - b), NULL) AS _w",
    )

    grid = f"transform(sequence({-ARIMA_GRID_K}, {ARIMA_GRID_K}), k -> k / {ARIMA_GRID_DENOM}D)"
    m = "size(_w)"
    # u_t = w_t − φ·w_{t−1} depends on φ alone: one array per φ row
    rows = (
        f"transform({grid}, p -> named_struct('phi', p, 'u', "
        f"zip_with(slice(_w, 2, {m} - 1), slice(_w, 1, {m} - 1), (x, a) -> x - p * a)))"
    )
    # ε_t = u_t − θ·ε_{t−1}, conditioned on ε_1 = w_1. The fold adds each
    # ε² one step late (the last one in the finish), so ε_t is evaluated
    # once per step and the sum keeps numpy's order 0 + ε_2² + … + ε_m².
    sse = "c.sse + c.eps * c.eps"
    cell = (
        f"aggregate(slice(r.u, 2, {m} - 2), "
        "named_struct('sse', 0D, 'eps', element_at(r.u, 1) - t * element_at(_w, 1)), "
        f"(c, x) -> named_struct('sse', {sse}, 'eps', x - t * c.eps), "
        f"c -> named_struct('not_nan', NOT isnan({sse}), 'sse', {sse}, "
        "'phi', r.phi, 'theta', t, 'eps', c.eps))"
    )
    # numpy's argmin: the first NaN if any, else the first minimum. φ and
    # θ grow with k, so (not_nan, sse, φ, θ) orders cells exactly so
    fitted = fitted.withColumn(
        "_fit",
        F.expr(f"IF(_model, array_min(flatten(transform({rows}, r -> "
               f"transform({grid}, t -> {cell})))), NULL)"),
    )

    h = max(horizon_days, 0)
    phi, theta = "_fit.phi", "_fit.theta"
    f1 = f"{phi} * element_at(_w, -1) + {theta} * _fit.eps"
    yhat = "_last + s.cum"
    se = f"sqrt(_fit.sse / CAST({m} - 1 AS DOUBLE) * s.vs)"
    psi = f"(s.psi + ({phi} + {theta}) * s.powp)"
    # NaN repeats the previous row's value of its column: pandas
    # ``ffill().fillna(0.0)``, with a seed row of zeros sliced off at the end
    cols = ("yhat", "yhat_lower", "yhat_upper")
    row = ", ".join(
        f"'{c}', IF(isnan({x}), element_at(s.out, -1).{c}, {x})"
        for c, x in zip(cols, (yhat, f"{yhat} - 1.96D * {se}", f"{yhat} + 1.96D * {se}"))
    )
    zeros = ", ".join(f"'{c}', 0D" for c in cols)
    arima_rows = (
        f"aggregate(array_repeat(0, {h}), "  # one fold step per horizon day
        f"named_struct('what', {f1}, 'cum', {f1}, 'psi', 1D, 'powp', 1D, 'vs', 1D, "
        f"'out', array(named_struct({zeros}))), "
        f"(s, i) -> named_struct('what', {phi} * s.what, 'cum', s.cum + {phi} * s.what, "
        f"'psi', {psi}, 'powp', {phi} * s.powp, 'vs', s.vs + {psi} * {psi}, "
        f"'out', concat(s.out, array(named_struct({row})))), "
        f"s -> slice(s.out, 2, {h}))"
    )
    naive = ", ".join(f"'{c}', _naive" for c in cols)
    naive_rows = f"array_repeat(named_struct({naive}), {h})"
    return fitted.selectExpr(
        *keys,
        "_last_date",
        "_model",
        f"posexplode(IF(_model, {arima_rows}, {naive_rows})) AS (_h, _r)",
    ).selectExpr(
        *keys,
        "date_add(_last_date, _h + 1) AS target_date",
        *(f"_r.{c}" for c in cols),
        "IF(_model, 'arima-css-0.1', 'naive-0.1') AS model_version",
    )


def forecast(
    series: DataFrame,
    horizon_days: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M1 — SARIMAX(1,1,1)(0,0,0,0) per group through
    ``forecast_with_model`` when statsmodels is importable (reference
    services/forecast.py:39-92: enforce_stationarity=False,
    enforce_invertibility=False, CI ffill→0),
    else the from-scratch ARIMA(1,1,1) of ``forecast_arima``, a pure
    Spark plan that starts no Python worker — a missing statsmodels
    wheel degrades the reference to last-value repetition (:56-66), but
    here it only swaps the estimator, never the model class. Series with
    < 14 points always take the naive path (:110-127)."""
    try:
        import statsmodels.tsa.statespace.sarimax  # noqa: F401
    except ImportError:
        return forecast_arima(series, horizon_days, partition_cols, date_col, value_col)

    def sarimax_fn(s, horizon: int):
        import pandas as pd
        from statsmodels.tsa.statespace.sarimax import SARIMAX

        fitted = SARIMAX(
            s,
            order=(1, 1, 1),
            seasonal_order=(0, 0, 0, 0),
            enforce_stationarity=False,
            enforce_invertibility=False,
        ).fit(disp=False)
        fc = fitted.get_forecast(steps=horizon)
        ci = fc.conf_int()
        return pd.DataFrame(
            {
                "yhat": fc.predicted_mean.to_numpy(),
                "yhat_lower": ci.iloc[:, 0].to_numpy(),
                "yhat_upper": ci.iloc[:, 1].to_numpy(),
            }
        )

    return forecast_with_model(
        series,
        sarimax_fn,
        "sarimax-0.1",
        horizon_days,
        partition_cols,
        date_col,
        value_col,
    )


# ------------------------------------------------------------------ C1–C3

def derive_horizon(last_obs, end_date, cap: int = 30) -> int:
    """C3 — horizon from a requested end_date:
    ``clamp((end_date − last_obs).days, 0, cap)``; ≤ 0 means "nothing to
    forecast" and callers return an empty result
    (reference routers/forecast.py:183-187). Driver-side scalar logic —
    the horizon parameterizes the plan, it is not data."""
    days = (end_date - last_obs).days
    return max(0, min(cap, days))


def strictly_future(
    forecasts: DataFrame,
    last_observed: DataFrame,
    partition_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """C2 — keep only ``target_date > last observed metric_date``, cap at 7
    per group (reference routers/forecast.py:53-58,197-201)."""
    lo = last_observed.groupBy(*partition_cols).agg(
        F.max("metric_date").alias("_last_obs")
    )
    w = Window.partitionBy(*partition_cols).orderBy("target_date")
    return (
        forecasts.join(F.broadcast(lo), list(partition_cols))
        .filter(F.col("target_date") > F.col("_last_obs"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 7)
        .drop("_rn", "_last_obs")
    )


def normalize_forecast_contract(
    forecasts: DataFrame,
    partition_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """C1 — the public forecast contract (reference routers/forecast.py:99-154):

    - NaN/±inf/NULL → 0.0 on all three values
    - bounds swapped if inverted, then **widened** to include yhat (the
      router widens; the service twin does not — router wins, SURVEY §7.4)
    - sorted ascending, trimmed to 7 rows
    - padded forward day-by-day with zero rows to exactly 7 (when ≥ 1 row)
    - ``metric_date`` = UTC-midnight ISO-8601 ``Z`` string; legacy
      ``date`` = its date part
    """
    def safe(c: str) -> Column:
        col = F.col(c)
        return F.when(
            col.isNull() | F.isnan(col) | (F.abs(col) == float("inf")), 0.0
        ).otherwise(col)

    y, lo, hi = safe("yhat"), safe("yhat_lower"), safe("yhat_upper")
    lower = F.least(lo, hi)
    upper = F.greatest(lo, hi)
    lower = F.least(lower, y)   # widen to include yhat
    upper = F.greatest(upper, y)

    w = Window.partitionBy(*partition_cols).orderBy("target_date")
    # single withColumns batch: all three exprs must see the ORIGINAL
    # columns, not each other's replacements
    trimmed = (
        forecasts.withColumns({"yhat": y, "yhat_lower": lower, "yhat_upper": upper})
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 7)
    )
    # pad each group forward to exactly 7 rows with zeros
    pad = (
        trimmed.groupBy(*partition_cols)
        .agg(F.max("target_date").alias("_d"), F.max("_rn").alias("_n"))
        .filter(F.col("_n") < 7)
        .select(
            *partition_cols,
            F.explode(
                F.sequence(
                    F.date_add("_d", 1),
                    F.date_add("_d", (7 - F.col("_n")).cast("int")),
                    F.expr("interval 1 day"),
                )
            ).alias("target_date"),
            F.lit(0.0).alias("yhat"),
            F.lit(0.0).alias("yhat_lower"),
            F.lit(0.0).alias("yhat_upper"),
        )
    )
    cols = [*partition_cols, "target_date", "yhat", "yhat_lower", "yhat_upper"]
    out = trimmed.select(*cols).unionByName(pad.select(*cols))
    return out.select(
        *partition_cols,
        F.concat(F.date_format("target_date", "yyyy-MM-dd'T'00:00:00"), F.lit("Z")).alias(
            "metric_date"
        ),
        F.date_format("target_date", "yyyy-MM-dd").alias("date"),
        "yhat",
        "yhat_lower",
        "yhat_upper",
    )


# ------------------------------------------------------------------ W4/M8

def persistence_mape(
    series: DataFrame,
    window_n: int = 90,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """W4/M8 — forecast health: MAPE of one-step persistence over the last
    ``window_n + 1`` days (reference services/forecast.py:258-270).
    < 2 points ⇒ 100.0. MAPE per M3: mean(|a−p| / clip(|a|, 1e-6)) · 100,
    with a strict left-fold sum for cross-engine determinism."""
    w_desc = Window.partitionBy(*partition_cols).orderBy(F.col(date_col).desc())
    w_asc = Window.partitionBy(*partition_cols).orderBy(date_col)
    v = F.col(value_col)
    tail = (
        series.withColumn("_rd", F.row_number().over(w_desc))
        .filter(F.col("_rd") <= window_n + 1)
        .withColumn("_pred", F.lag(v, 1).over(w_asc))
        .filter(F.col("_pred").isNotNull())
        .withColumn(
            "_term", F.abs(v - F.col("_pred")) / F.greatest(F.abs(v), F.lit(1e-6))
        )
    )
    agg = tail.groupBy(*partition_cols).agg(
        _ordered_mean("_term", date_col).alias("_mean")
    )
    return agg.select(
        *partition_cols,
        F.lit(window_n).alias("window_n"),
        F.coalesce(F.col("_mean") * 100.0, F.lit(100.0)).alias("mape"),
    )


def _ordered_mean(term_col: str, ord_col: str) -> Column:
    """mean of doubles accumulated strictly left-to-right in ``ord_col``
    order — engine-order-independent (unlike parallel SUM(double))."""
    arr = F.array_sort(F.collect_list(F.struct(F.col(ord_col).alias("o"), F.col(term_col).alias("t"))))
    total = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["t"])
    return total / F.size(arr)


# ------------------------------------------------------------------ W6/M4

def rolling_backtest(
    series: DataFrame,
    folds: int = 5,
    horizon: int = 7,
    window_n: int = 90,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """W6/M4 — expanding-window rolling-origin backtest with the naive
    last-value model (reference services/forecast.py:199-254; SARIMAX, when
    installed, applies only to trains ≥ 14 — with naive fallback).

    Returns ``(fold_metrics, summary)``:
      fold_metrics: (…keys, fold_index, mae, rmse, mape, smape)
      summary:      (…keys, folds, avg_mae, avg_rmse, avg_mape, avg_smape, score)

    Fold t tests the (t+1)-th ``horizon`` block from the end of the last
    ``window_n + folds·horizon`` rows; folds with train < 8 are dropped
    (the reference ``break``s, but folds shrink monotonically so the
    filter is equivalent). All folds for all series materialize from ONE
    pass: a fold spec is exploded per group and range-joined on row
    number — no driver loop, no per-series job."""
    keys = list(partition_cols)
    w_desc = Window.partitionBy(*keys).orderBy(F.col(date_col).desc())
    need = window_n + folds * horizon
    s = (
        series.withColumn("_rd", F.row_number().over(w_desc))
        .filter(F.col("_rd") <= need)
    )
    w_asc = Window.partitionBy(*keys).orderBy(date_col)
    s = s.withColumn("_rn", F.row_number().over(w_asc))
    length = s.groupBy(*keys).agg(F.max("_rn").alias("_len"))

    fold_spec = (
        length.select(
            *keys,
            F.col("_len"),
            F.explode(F.sequence(F.lit(0), F.lit(folds - 1))).alias("fold_index"),
        )
        .withColumn("_start", F.col("_len") - (F.col("fold_index") + 1) * horizon)
        .filter(F.col("_start") >= 8)  # train ≥ 8 and test == horizon
    )
    last_train = fold_spec.join(
        s.select(*keys, F.col("_rn").alias("_start"), F.col(value_col).alias("_pred")),
        [*keys, "_start"],
    )
    test = last_train.join(
        s.select(*keys, "_rn", F.col(value_col).alias("_a"), date_col),
        keys,
    ).filter((F.col("_rn") > F.col("_start")) & (F.col("_rn") <= F.col("_start") + horizon))

    a, p = F.col("_a"), F.col("_pred")
    mape_term = F.abs(a - p) / F.greatest(F.abs(a), F.lit(1e-6))
    smape_denom = F.abs(a) + F.abs(p)
    smape_term = F.abs(a - p) / F.when(smape_denom == 0.0, 1.0).otherwise(smape_denom)
    per_fold = (
        test.withColumn("_mape_t", mape_term)
        .withColumn("_smape_t", smape_term)
        .groupBy(*keys, "fold_index")
        .agg(
            (
                F.sum(F.abs(a - p).cast("decimal(38,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mae"),
            F.sqrt(
                F.sum(((a - p) * (a - p)).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("rmse"),
            (_ordered_mean("_mape_t", "_rn") * 100.0).alias("mape"),
            (F.lit(100.0) * _ordered_mean("_smape_t", "_rn")).alias("smape"),
        )
    )
    summary = (
        per_fold.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("folds"),
            _ordered_mean("mae", "fold_index").alias("avg_mae"),
            _ordered_mean("rmse", "fold_index").alias("avg_rmse"),
            _ordered_mean("mape", "fold_index").alias("avg_mape"),
            _ordered_mean("smape", "fold_index").alias("avg_smape"),
        )
        .withColumn(
            "score",
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(100.0),
                    F.lit(100.0) - (F.col("avg_mape") + F.col("avg_smape")) / 2.0,
                ),
            ),
        )
    )
    return per_fold, summary


# ------------------------------------------------------------------ W7/M5

def reliability(
    series: DataFrame,
    days: int = 125,
    folds: int = 5,
    horizon: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """W7/M5 — reliability scoring with the naive last-value model
    (reference services/forecast_reliability.py:58-186).

    Differences from the backtest variant (deliberate, per reference):
    folds are clamped to ``n − (horizon+1)``; fold k trains to
    ``n − (folds−k)·horizon``; MAPE uses ``|a|+1e-9`` denominators; sMAPE
    is the 2·|a−p| variant; bias = mean(p − a); score =
    int(clamp(100 − mape_agg/2 − instability)) where instability =
    (max fold mape − min fold mape)/10 for ≥ 2 folds.

    Returns ``(fold_metrics, summary)``.
    """
    keys = list(partition_cols)
    w_desc = Window.partitionBy(*keys).orderBy(F.col(date_col).desc())
    s = (
        series.withColumn("_rd", F.row_number().over(w_desc))
        .filter(F.col("_rd") <= days)
    )
    w_asc = Window.partitionBy(*keys).orderBy(date_col)
    s = s.withColumn("_rn", F.row_number().over(w_asc))
    length = s.groupBy(*keys).agg(F.max("_rn").alias("_n"))

    eff = F.least(F.lit(folds), F.greatest(F.lit(0), F.col("_n") - (horizon + 1)))
    fold_spec = (
        length.withColumn("_folds_eff", eff)
        .filter(F.col("_folds_eff") > 0)
        .select(
            *keys,
            F.col("_n"),
            F.col("_folds_eff"),
            F.explode(F.sequence(F.lit(0), F.col("_folds_eff") - 1)).alias("fold_index"),
        )
        .withColumn(
            "_train_end", F.col("_n") - (F.col("_folds_eff") - F.col("fold_index")) * horizon
        )
        .filter(F.col("_train_end") >= 1)  # non-empty train (reference `continue`)
    )
    last_train = fold_spec.join(
        s.select(*keys, F.col("_rn").alias("_train_end"), F.col(value_col).alias("_pred")),
        [*keys, "_train_end"],
    )
    test = last_train.join(
        s.select(*keys, "_rn", F.col(value_col).alias("_a")), keys
    ).filter(
        (F.col("_rn") > F.col("_train_end"))
        & (F.col("_rn") <= F.col("_train_end") + horizon)
    )

    a, p = F.col("_a"), F.col("_pred")
    mape_term = F.abs(a - p) / (F.abs(a) + F.lit(1e-9))
    smape_term = (F.lit(2.0) * F.abs(a - p)) / (F.abs(a) + F.abs(p) + F.lit(1e-9))
    n_t = F.count(F.lit(1))
    per_fold = (
        test.withColumn("_mape_t", mape_term)
        .withColumn("_smape_t", smape_term)
        .groupBy(*keys, "fold_index")
        .agg(
            (F.sum(F.abs(a - p).cast("decimal(38,4)")).cast("double") / n_t).alias("mae"),
            F.sqrt(
                F.sum(((a - p) * (a - p)).cast("decimal(38,6)")).cast("double") / n_t
            ).alias("rmse"),
            # reference op order: sum(terms) * 100.0 / len  (:88-93)
            (_ordered_sum("_mape_t", "_rn") * 100.0 / n_t).alias("mape"),
            (_ordered_sum("_smape_t", "_rn") * 100.0 / n_t).alias("smape"),
            (F.sum((p - a).cast("decimal(38,4)")).cast("double") / n_t).alias("bias"),
        )
    )
    finite = lambda c: ~F.isnan(F.col(c)) & (F.abs(F.col(c)) != float("inf"))  # noqa: E731
    mape_ok = F.when(finite("mape"), F.col("mape"))
    summary = (
        per_fold.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("folds"),
            _ordered_sum_when("mape", "fold_index").alias("_mape_sum"),
            F.count(mape_ok).alias("_mape_n"),
            F.max(mape_ok).alias("_mape_max"),
            F.min(mape_ok).alias("_mape_min"),
            _ordered_sum_when("rmse", "fold_index").alias("_rmse_sum"),
            F.count(F.when(finite("rmse"), 1)).alias("_rmse_n"),
            _ordered_sum_when("smape", "fold_index").alias("_smape_sum"),
            F.count(F.when(finite("smape"), 1)).alias("_smape_n"),
        )
        .withColumn(
            "mape_agg",
            F.coalesce(F.col("_mape_sum") / F.nullif(F.col("_mape_n"), F.lit(0)), F.lit(0.0)),
        )
        .withColumn(
            "rmse_agg",
            F.coalesce(F.col("_rmse_sum") / F.nullif(F.col("_rmse_n"), F.lit(0)), F.lit(0.0)),
        )
        .withColumn(
            "smape_agg",
            F.coalesce(F.col("_smape_sum") / F.nullif(F.col("_smape_n"), F.lit(0)), F.lit(0.0)),
        )
        .withColumn(
            "instability",
            F.when(
                F.col("_mape_n") >= 2, (F.col("_mape_max") - F.col("_mape_min")) / 10.0
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "score",
            F.floor(
                F.greatest(
                    F.lit(0.0),
                    F.least(
                        F.lit(100.0),
                        F.lit(100.0) - F.col("mape_agg") / 2.0 - F.col("instability"),
                    ),
                )
            ).cast("int"),
        )
        .select(*keys, "folds", "mape_agg", "rmse_agg", "smape_agg", "instability", "score")
    )
    return per_fold, summary


def _ordered_sum(term_col: str, ord_col: str) -> Column:
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(ord_col).alias("o"), F.col(term_col).alias("t")))
    )
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["t"])


def _ordered_sum_when(term_col: str, ord_col: str) -> Column:
    """ordered sum of only the finite terms (reference _num_ok filter)."""
    c = F.col(term_col)
    keep = ~F.isnan(c) & (F.abs(c) != float("inf"))
    arr = F.array_sort(
        F.collect_list(
            F.when(keep, F.struct(F.col(ord_col).alias("o"), c.alias("t")))
        )
    )
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["t"])


def forecast_seasonal_naive(
    series: DataFrame,
    horizon_days: int = 7,
    period: int = 7,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal-naive baseline: ŷ(t+h) = y(t+h−period) — the standard
    weekly-pattern forecaster the drift/naive ladder lacks. Takes the
    last ``period`` observed rows per series and shifts them forward;
    zero model state, one shuffle on the series key. Bounds repeat ŷ
    (a deterministic baseline has no interval). Requires
    horizon_days ≤ period (one season forward)."""
    if horizon_days > period:
        raise ValueError("seasonal naive emits at most one period ahead")
    per = series.groupBy(*partition_cols).agg(F.max(date_col).alias("_last"))
    tail = series.join(F.broadcast(per), list(partition_cols)).filter(
        F.col(date_col) > F.date_sub(F.col("_last"), period)
    )
    yhat = F.col(value_col).cast("double")
    return (
        tail.select(
            *partition_cols,
            F.date_add(F.col(date_col), period).alias("target_date"),
            yhat.alias("yhat"),
            yhat.alias("yhat_lower"),
            yhat.alias("yhat_upper"),
            F.lit("snaive-0.1").alias("model_version"),
            F.col("_last"),
        )
        .filter(F.col("target_date") <= F.date_add(F.col("_last"), horizon_days))
        .drop("_last")
    )


def forecast_ewma(
    series: DataFrame,
    horizon_days: int = 7,
    alpha: float = 0.5,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Simple exponential smoothing baseline: level ← α·x + (1−α)·level
    folded over the date-ordered series (level₀ = first value), flat
    ŷ = level for the horizon. The recursion that usually forces
    per-group Python runs here as a DECLARATIVE ordered fold —
    ``aggregate`` over a sorted ``collect_list`` with the first element
    as the seed — so the model is one aggregation, engine-exact when α
    is binary-representable (default 0.5). Bounds repeat ŷ (baseline)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(F.col(date_col).alias("o"), F.col(value_col).cast("double").alias("t"))
        )
    )
    vals = F.transform(arr, lambda s: s["t"])
    level = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    per = series.groupBy(*partition_cols).agg(
        F.max(date_col).alias("_last"), level.alias("_level")
    )
    return per.select(
        *partition_cols,
        F.explode(
            F.sequence(
                F.date_add("_last", 1),
                F.date_add("_last", horizon_days),
                F.expr("interval 1 day"),
            )
        ).alias("target_date"),
        F.col("_level").alias("yhat"),
        F.col("_level").alias("yhat_lower"),
        F.col("_level").alias("yhat_upper"),
        F.lit("ses-0.1").alias("model_version"),
    )


def forecast_holt(
    series: DataFrame,
    horizon_days: int = 7,
    alpha: float = 0.5,
    beta: float = 0.5,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Holt linear-trend forecast (double exponential smoothing):

        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1},   ŷ_{T+h} = l_T + h·b_T

    with the textbook init l₁ = x₁, b₁ = x₂ − x₁ (b₁ = 0 for length-1
    series). Like ``forecast_ewma``, the coupled recursion runs as a
    DECLARATIVE ordered fold — ``aggregate`` over the date-sorted value
    array with a (level, trend) STRUCT accumulator — one aggregation,
    no Python, engine-exact for binary-representable α/β (default 0.5).
    Per-series state is the daily array, so the shuffle key space is the
    series count, not event volume.
    """
    a, b = float(alpha), float(beta)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(date_col).alias("o"),
                F.col(value_col).cast("double").alias("t"),
            )
        )
    )
    vals = F.transform(arr, lambda s: s["t"])
    n = F.size(vals)
    seed = F.struct(
        F.element_at(vals, 1).alias("l"),
        F.when(n >= 2, F.element_at(vals, 2) - F.element_at(vals, 1))
        .otherwise(F.lit(0.0))
        .alias("b"),
    )

    def step(acc, x):
        lv = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        tr = F.lit(b) * (lv - acc["l"]) + F.lit(1.0 - b) * acc["b"]
        return F.struct(lv.alias("l"), tr.alias("b"))

    state = F.aggregate(
        F.slice(vals, 2, F.greatest(n - 1, F.lit(0))), seed, step
    )
    per = series.groupBy(*partition_cols).agg(
        F.max(date_col).alias("_last"), state.alias("_s")
    )
    out = per.select(
        *partition_cols,
        F.explode(
            F.sequence(
                F.date_add("_last", 1),
                F.date_add("_last", horizon_days),
                F.expr("interval 1 day"),
            )
        ).alias("target_date"),
        F.col("_s.l").alias("_l"),
        F.col("_s.b").alias("_b"),
        "_last",
    )
    yhat = F.col("_l") + F.datediff(F.col("target_date"), F.col("_last")).cast(
        "double"
    ) * F.col("_b")
    return out.select(
        *partition_cols,
        "target_date",
        yhat.alias("yhat"),
        yhat.alias("yhat_lower"),
        yhat.alias("yhat_upper"),
        F.lit("holt-0.1").alias("model_version"),
    )


def forecast_hw_seasonal(
    series: DataFrame,
    horizon_days: int = 7,
    season: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Holt–Winters ADDITIVE seasonal forecast (triple exponential
    smoothing) — the seasonal rung above ``forecast_holt``:

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ) s_{t−m}
        ŷ_{T+h} = l_T + h·b_T + s_{T+h−m·⌈h/m⌉}

    Textbook init from the first two seasons (n ≥ 2m): l₀ = mean of
    season 1, b₀ = (mean of season 2 − mean of season 1)/m, sᵢ = xᵢ −
    l₀; smoothing folds from x_{m+1}. Short series (n < 2m) degrade to
    the Holt-style seed (l₀ = x₁, b₀ = 0, zero seasonals, fold from
    x₂) — deterministic, never an error.

    Like Holt, the coupled recursion is a DECLARATIVE ordered fold: an
    ``aggregate`` over the date-sorted array with a (level, trend,
    seasonal-ring) STRUCT accumulator — the m-slot seasonal ring
    rotates left each step so slot 1 always holds the factor the NEXT
    observation needs. One aggregation, no Python, engine-exact for
    binary-representable α/β/γ (defaults 0.5/0.25/0.25). Per-series
    state is the daily array: shuffle keys = series count, not volume.
    """
    m = int(season)
    a, b, g = float(alpha), float(beta), float(gamma)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(date_col).alias("o"),
                F.col(value_col).cast("double").alias("t"),
            )
        )
    )
    vals = F.transform(arr, lambda s: s["t"])
    n = F.size(vals)

    def lmean(sl):
        return F.aggregate(sl, F.lit(0.0), lambda acc, x: acc + x) / F.lit(float(m))

    mean1 = lmean(F.slice(vals, 1, m))
    mean2 = lmean(F.slice(vals, m + 1, m))
    long_seed = F.struct(
        mean1.alias("l"),
        ((mean2 - mean1) / F.lit(float(m))).alias("b"),
        F.transform(F.slice(vals, 1, m), lambda x: x - mean1).alias("s"),
    )
    short_seed = F.struct(
        F.element_at(vals, 1).alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), m).alias("s"),
    )
    is_long = n >= F.lit(2 * m)
    seed = F.when(is_long, long_seed).otherwise(short_seed)
    fold = F.when(
        is_long, F.slice(vals, m + 1, F.greatest(n - m, F.lit(0)))
    ).otherwise(F.slice(vals, 2, F.greatest(n - 1, F.lit(0))))

    def step(acc, x):
        s_cur = F.element_at(acc["s"], 1)
        lv = F.lit(a) * (x - s_cur) + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        tr = F.lit(b) * (lv - acc["l"]) + F.lit(1.0 - b) * acc["b"]
        sn = F.lit(g) * (x - lv) + F.lit(1.0 - g) * s_cur
        return F.struct(
            lv.alias("l"),
            tr.alias("b"),
            F.concat(F.slice(acc["s"], 2, m - 1), F.array(sn)).alias("s"),
        )

    state = F.aggregate(fold, seed, step)
    per = series.groupBy(*partition_cols).agg(
        F.max(date_col).alias("_last"), state.alias("_s")
    )
    out = per.select(
        *partition_cols,
        F.posexplode(
            F.sequence(
                F.date_add("_last", 1),
                F.date_add("_last", horizon_days),
                F.expr("interval 1 day"),
            )
        ).alias("_h0", "target_date"),
        F.col("_s.l").alias("_l"),
        F.col("_s.b").alias("_b"),
        F.col("_s.s").alias("_sea"),
    )
    h = F.col("_h0") + 1  # posexplode is 0-based; horizon step h >= 1
    yhat = (
        F.col("_l")
        + h.cast("double") * F.col("_b")
        + F.element_at(F.col("_sea"), (F.col("_h0") % m).cast("int") + 1)
    )
    return out.select(
        *partition_cols,
        "target_date",
        yhat.alias("yhat"),
        yhat.alias("yhat_lower"),
        yhat.alias("yhat_upper"),
        F.lit("hw-add-0.1").alias("model_version"),
    )


def ols_trend(
    events: DataFrame,
    ts_col: str = "ts",
    metric_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-series ordinary-least-squares linear trend of the DAILY
    value sum against the day index — the closed-form normal equations,
    not an iterative fit.

    Numeric discipline: x is the day offset from the series' first day
    (small exact integers), y is the exact-decimal daily sum; Σx, Σy,
    Σxy, Σx² all aggregate in DECIMAL with precisions sized so no
    product can round, making the slope's numerator/denominator exact
    and order-independent. Only the final two divisions happen in
    double — deterministic on identical operands, so cross-engine
    bit-parity holds (plain ``regr_slope`` double sums would not).

    Plan: one fact-sized day-grain rollup (the only big shuffle), then
    per-series aggregates over ~hundreds of rows.

    Output: (metric, n_days, slope, intercept) — value units per day.
    """
    daily = (
        events.select(
            F.col(metric_col).alias("metric"),
            F.to_date(ts_col).alias("_d"),
            F.col(value_col).cast("decimal(14,4)").alias("_y"),
        )
        .groupBy("metric", "_d")
        .agg(F.sum("_y").alias("_y"))
        # consumed twice (first-day probe + xy), and column pruning
        # gives the probe its own exchange, so without the cache events
        # scans twice; the caller releases it from the result's plan
        .cache()
    )
    first_day = daily.groupBy("metric").agg(F.min("_d").alias("_d0"))
    xy = daily.join(F.broadcast(first_day), "metric").select(
        "metric",
        F.datediff(F.col("_d"), F.col("_d0")).cast("decimal(6,0)").alias("_x"),
        F.col("_y"),
    )
    # post-cast each exact sum to a narrow decimal so every later
    # product stays far below the 38-digit cap in BOTH engines (no
    # precision-loss adjustment paths, Spark or DuckDB)
    sums = xy.groupBy("metric").agg(
        F.count(F.lit(1)).cast("decimal(8,0)").alias("_n"),
        F.sum("_x").cast("decimal(12,0)").alias("_sx"),
        F.sum("_y").cast("decimal(20,4)").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("decimal(26,4)").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("decimal(20,0)").alias("_sxx"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    slope = num / F.nullif(den, F.lit(0.0))
    return sums.select(
        "metric",
        F.col("_n").cast("long").alias("n_days"),
        slope.alias("slope"),
        (
            (F.col("_sy").cast("double") - slope * F.col("_sx").cast("double"))
            / F.col("_n").cast("double")
        ).alias("intercept"),
    )


def ewma_daily(
    events: DataFrame,
    alpha: float = 0.25,
    ts_col: str = "ts",
    metric_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-series exponentially-weighted moving average of the DAILY
    value sum: s₁ = y₁, sₜ = α·yₜ + (1−α)·sₜ₋₁ — the recursion no
    window frame can express (each step feeds the next), done as one
    ordered fold per series, same discipline as the Holt operator.

    α must be exactly representable or the complement is passed
    explicitly: here both α and 1−α are Python literals so the Spark
    and oracle expressions carry identical doubles. Day-grain input
    means the fold list is series-days long, not fact-sized.

    Output: (metric, last_date, n_days, ewma).
    """
    comp = 1.0 - alpha
    daily = (
        events.select(
            F.col(metric_col).alias("metric"),
            F.to_date(ts_col).alias("_d"),
            F.col(value_col).cast("decimal(18,4)").alias("_y"),
        )
        .groupBy("metric", "_d")
        .agg(F.sum("_y").cast("double").alias("_y"))
    )
    per = daily.groupBy("metric").agg(
        F.max("_d").alias("last_date"),
        F.count(F.lit(1)).alias("n_days"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_d", "_y"))),
            F.lit(None).cast("double"),
            lambda acc, x: F.when(acc.isNull(), x["_y"]).otherwise(
                F.lit(alpha) * x["_y"] + F.lit(comp) * acc
            ),
        ).alias("ewma"),
    )
    return per.select("metric", "last_date", "n_days", "ewma")


def acf_daily(
    events: DataFrame,
    max_lag: int = 7,
    ts_col: str = "ts",
    metric_col: str = "event_type",
) -> DataFrame:
    """Autocorrelation diagnostics: per series, the Pearson correlation
    between the daily-count series and itself at lags 1..``max_lag`` —
    the ACF a forecaster reads before choosing seasonal terms.

    The lag alignment is date arithmetic (no window-frame shifting, so
    calendar gaps align correctly), and every sum in the correlation is
    an exact integer — one sqrt per variance at the end, nothing
    order-dependent.

    Plan shape (round-3 VERDICT #4): the day-grain frame aggregates
    ONCE; each daily row then EXPLODES into its 1..max_lag shifted
    copies, so all lags resolve in ONE self-equi-join + ONE
    (metric, lag) groupBy — instead of max_lag separate join/agg
    branches each rescanning the fact (was 14 scans / 35 shuffles,
    now ≤2 scans). The explode fan-out is day-grain × max_lag, bounded
    by series-days, never fact-sized.

    Output: (metric, lag, n_pairs, acf).
    """
    daily = (
        events.select(
            F.col(metric_col).alias("metric"), F.to_date(ts_col).alias("day")
        )
        .groupBy("metric", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    lagged = daily.select(
        "metric",
        "day",
        F.col("x").alias("y"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).select("metric", F.date_add("day", F.col("lag")).alias("day"), "lag", "y")
    pairs = daily.join(lagged, ["metric", "day"])
    s = pairs.groupBy("metric", "lag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    dx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    dy = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return s.select(
        "metric",
        "lag",
        F.col("_n").alias("n_pairs"),
        (num / F.nullif(F.sqrt(dx) * F.sqrt(dy), F.lit(0.0))).alias("acf"),
    )


def theilsen_trend(
    events: DataFrame,
    ts_col: str = "ts",
    metric_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Theil–Sen robust trend: per series, the MEDIAN of all pairwise
    slopes of the daily value sums — immune to outlier days that drag
    an OLS fit (``ols_trend`` is the parametric twin).

    The pair space is day-grain² — bounded by the series' DAY COUNT,
    never the fact (a year of data is ~66k pairs per series), built as
    a co-partitioned self-join on the series key. Each slope is one
    double division of exact-decimal deltas; the median picks an
    actual slope via the ceil(q·n) discrete rank, so nothing is
    interpolated or order-dependent.

    Output: (metric, n_days, n_pairs, slope).
    """
    from pyspark.sql.window import Window

    daily = (
        events.select(
            F.col(metric_col).alias("metric"),
            F.to_date(ts_col).alias("_d"),
            F.col(value_col).cast("decimal(18,4)").alias("_y"),
        )
        .groupBy("metric", "_d")
        .agg(F.sum("_y").cast("double").alias("_y"))
        # consumed three times (pairs×2, n_days); AQE reuses the
        # exchange for the pair sides only, so cache it (the caller
        # releases it from the result's plan) — events scans once
        .cache()
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, "metric")
        .filter(F.col("a._d") < F.col("b._d"))
        .select(
            "metric",
            (
                (F.col("b._y") - F.col("a._y"))
                / F.datediff(F.col("b._d"), F.col("a._d")).cast("double")
            ).alias("_s"),
        )
    )
    w = Window.partitionBy("metric").orderBy(F.col("_s").asc())
    ranked = slopes.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("metric"))
    )
    med = ranked.filter(
        F.col("_rn") == F.greatest(F.ceil(F.lit(0.5) * F.col("_n")), F.lit(1))
    )
    days = daily.groupBy("metric").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        med.select("metric", F.col("_n").alias("n_pairs"), F.col("_s").alias("slope"))
        .join(F.broadcast(days), "metric")
        .select("metric", "n_days", "n_pairs", "slope")
    )


def mann_kendall(
    events: DataFrame,
    ts_col: str = "ts",
    metric_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mann–Kendall trend test per series — the nonparametric
    significance twin of ``theilsen_trend`` (which estimates the slope
    this test decides is real): S = Σ_{i<j} sign(y_j − y_i) over the
    day-grain series, Kendall's τ_a = S / (n(n−1)/2), tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    continuity-corrected normal score z = (S∓1)/√Var(S).

    Same scale posture as Theil–Sen: the pair space is day² per series
    (co-partitioned self-join on the series key), never fact-sized; S
    and the tie counts are exact integers, so every float that leaves
    this operator is a single IEEE division/sqrt — bit-reproducible at
    any parallelism and in the DuckDB oracle.

    Output: (metric, n_days, s_stat, tau, var_s, z) — z NULL when
    Var(S)=0 (all-tied or single-day series).
    """
    daily = (
        events.select(
            F.col(metric_col).alias("metric"),
            F.to_date(ts_col).alias("_d"),
            F.col(value_col).cast("decimal(18,4)").alias("_y"),
        )
        .groupBy("metric", "_d")
        .agg(F.sum("_y").cast("double").alias("_y"))
        # consumed four times (pairs×2, ties, n); AQE reuses the
        # exchange for the pair sides only, so cache it (the caller
        # releases it from the result's plan) — events scans once
        .cache()
    )
    a, b = daily.alias("a"), daily.alias("b")
    s_stat = (
        a.join(b, "metric")
        .filter(F.col("a._d") < F.col("b._d"))
        .groupBy("metric")
        .agg(
            F.sum(
                F.signum(F.col("b._y") - F.col("a._y")).cast("long")
            ).alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("metric", "_y")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("metric")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie_term")
        )
    )
    n = daily.groupBy("metric").agg(F.count(F.lit(1)).alias("n_days"))
    nn = F.col("n_days").cast("long")
    var_s = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("_tie_term")).cast("double")
        / F.lit(18.0)
    )
    joined = (
        n.join(s_stat, "metric", "left")
        .join(ties, "metric")
        .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0)))
        .withColumn("var_s", var_s)
        .withColumn(
            "tau",
            F.when(nn > 1, F.col("s_stat") / (nn * (nn - 1) / F.lit(2.0))),
        )
        .withColumn(
            "z",
            F.when(
                F.col("var_s") > 0.0,
                F.when(
                    F.col("s_stat") > 0,
                    (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
                )
                .when(
                    F.col("s_stat") < 0,
                    (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
                )
                .otherwise(F.lit(0.0)),
            ),
        )
    )
    return joined.select("metric", "n_days", "s_stat", "tau", "var_s", "z")
