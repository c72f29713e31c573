"""Rolling-window anomaly detection (SURVEY §2.5 W1–W3, §2.6 M6).

Two deliberately-different z-score semantics exist in the reference and
both are preserved (SURVEY §7.4 risk 1):

- **strict** (W1, reference services/anomaly.py:90-114): prior ``window``
  rows must ALL be non-null finite; population stddev; σ=0 ⇒ z=NULL.
- **api** (W2, reference routers/metrics.py:228-256): prior window of
  *non-null* values, needs ≥ 2; sample stddev (ddof=1); σ=0 ⇒ outlier iff
  v ≠ μ with z = +1e9 (sign-independent sentinel, routers/metrics.py:243-246),
  else z=0.

Everything is Spark window functions over ``(source, metric)`` partitions
ordered by date — no UDFs, fully whole-stage-codegen'd, and
embarrassingly parallel across series at 100 TB (each partition's frames
are computed within one task after a single shuffle on the partition
keys).

Numeric discipline: frame statistics are exact DECIMAL sums (values and
squares), converted to double once, with μ/σ derived by IEEE double
arithmetic — identical on any engine evaluating the same formula (see
functions/numeric.py). σ uses the algebraic form
``(Σx² − (Σx)²/n) / ddof`` rather than re-walking deviations; for exact
decimal inputs the sums are exact, so this is as accurate as the two-pass
form and engine-order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: flat-window sentinel (reference routers/metrics.py:205-211)
Z_CLAMP = 1e9


def _finite(c: Column) -> Column:
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != float("inf"))


def _frame_stats(value: Column, win, scale: int = 2):
    """count / Σx / Σx² over a window frame, decimal-exact.

    Returns (n, sum, sumsq) with sum/sumsq as deterministic doubles.
    ``scale`` must be the TRUE decimal exactness of the input (gold
    ``value_sum`` is 2-decimal money); squares are then exact at 2·scale.
    Do not over-scale: a cast at a finer scale than the data faithfully
    preserves each engine's per-row float noise instead of snapping it
    away (Spark casts via shortest-string repr, DuckDB via exact binary
    rounding — they agree only when 10^-scale dwarfs the double's ulp).
    """
    n = F.count(value).over(win)
    s = F.sum(value.cast(f"decimal(38,{scale})")).over(win).cast("double")
    sq = F.sum((value * value).cast(f"decimal(38,{2 * scale})")).over(win).cast("double")
    return n, s, sq


def rolling_zscore_strict(
    df: DataFrame,
    window: int = 30,
    z_thresh: float = 3.0,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """W1 — strict prior-window z-score (reference services/anomaly.py:90-114).

    z is NULL unless the previous ``window`` rows are all non-null finite
    and their population stddev is > 0. ``is_anomaly`` = |z| ≥ z_thresh.
    """
    v = F.col(value_col)
    win = (
        Window.partitionBy(*partition_cols)
        .orderBy(date_col)
        .rowsBetween(-window, -1)
    )
    # row position guard: i >= window (positions are 0-indexed)
    pos = F.row_number().over(Window.partitionBy(*partition_cols).orderBy(date_col)) - 1
    n_finite = F.sum(F.when(_finite(v), 1).otherwise(0)).over(win)
    n, s, sq = _frame_stats(v, win)

    mu = s / n
    var_pop = (sq - (s * s) / n) / n  # pstdev
    sigma = F.when(var_pop > 0, F.sqrt(var_pop)).otherwise(F.lit(0.0))

    z = F.when(
        (pos >= window)
        & (n_finite == window)
        & (n == window)  # all prior rows present AND non-null
        & (sigma > 0)
        & _finite(v),
        (v - mu) / sigma,
    )
    return df.withColumn("z", z).withColumn(
        "is_anomaly", F.coalesce(F.abs(F.col("z")) >= z_thresh, F.lit(False))
    )


def rolling_zscore_api(
    df: DataFrame,
    window: int = 7,
    z_thresh: float = 3.0,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """W2 — public-API rolling z-score (reference routers/metrics.py:228-256).

    Frame = previous ``window`` rows' non-null values, ≥ 2 required;
    sample stddev (ddof=1). Flat window (σ=0): outlier iff v ≠ μ with
    z = +1e9 sentinel, else z = 0. Every input row is returned.
    """
    v = F.col(value_col)
    win = (
        Window.partitionBy(*partition_cols)
        .orderBy(date_col)
        .rowsBetween(-window, -1)
    )
    n, s, sq = _frame_stats(v, win)  # count(value) skips NULLs, as reference does

    mu = s / n
    var = (sq - (s * s) / n) / (n - 1)
    sigma = F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0))

    eligible = v.isNotNull() & (n >= 2)
    flat = eligible & (sigma == 0)
    z = (
        F.when(flat & (v != mu), F.lit(Z_CLAMP))
        .when(flat, F.lit(0.0))
        .when(eligible, (v - mu) / sigma)
    )
    # clamp any ±inf from extreme ratios (reference _clamp_finite)
    z = F.when(z == float("inf"), F.lit(Z_CLAMP)).when(
        z == float("-inf"), F.lit(-Z_CLAMP)
    ).otherwise(z)
    is_outlier = (
        F.when(flat, v != mu)
        .when(eligible, F.abs(z) >= z_thresh)
        .otherwise(F.lit(False))
    )
    return df.withColumn("z", z).withColumn("is_outlier", is_outlier)


def iforest_features(
    df: DataFrame,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """W3 — rolling 7-day feature block (reference services/anomaly_iforest.py:13-23):
    ``rolling(7, min_periods=1).mean()``, ``.std(ddof=0)`` (0 for a single
    row), and ``diff(1)`` with first-row 0."""
    v = F.col(value_col)
    win = Window.partitionBy(*partition_cols).orderBy(date_col).rowsBetween(-6, 0)
    seq = Window.partitionBy(*partition_cols).orderBy(date_col)
    n, s, sq = _frame_stats(v, win)
    mean7 = s / n
    var0 = (sq - (s * s) / n) / n
    std7 = F.when(var0 > 0, F.sqrt(var0)).otherwise(F.lit(0.0))
    diff1 = F.coalesce(v - F.lag(v, 1).over(seq), F.lit(0.0))
    return (
        df.withColumn("roll_mean_7", mean7)
        .withColumn("roll_std_7", std7)
        .withColumn("diff_1", diff1)
    )


def anomaly_iforest(
    df: DataFrame,
    contamination: float = 0.05,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M6 — Isolation Forest per series with the reference's exact
    degradation ladder (reference routers/anomaly_iforest.py:36-167):

    1. < 5 finite values in a series ⇒ all-inlier, score NULL
       ("insufficient_data", :79-93).
    2. sklearn available ⇒ ``IsolationForest(contamination, n_estimators=200,
       random_state=42)`` on the 1-D daily value, NaN filled with the
       series' finite mean — fitted per (source, metric) group inside
       ``applyInPandas`` (each daily series is small by construction).
    3. sklearn missing ⇒ rolling-z proxy over the last 7 *non-null*
       values (not rows), pstdev, z_thresh 3; σ=0 ⇒ outlier iff v ≠ μ
       with z=0.0 (:127-154 — note the fallback reports z=0.0, unlike W2's
       1e9 sentinel).

    Output: input columns + ``is_outlier`` boolean, ``score`` double.
    """
    try:
        import sklearn  # noqa: F401

        return _iforest_sklearn(
            df, contamination, partition_cols, date_col, value_col
        )
    except ImportError:
        return _iforest_fallback_rolling_z(df, partition_cols, date_col, value_col)


def _iforest_fallback_rolling_z(
    df: DataFrame,
    partition_cols: tuple[str, ...],
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Rolling-z proxy over the last 7 preceding NON-NULL values
    (reference routers/anomaly_iforest.py:127-154). The reference's
    ``history`` list skips nulls, so the frame is defined on the
    null-filtered subsequence; we reproduce that by framing over
    non-null rows and null-extending afterwards."""
    v = F.col(value_col)
    window, z_thresh = 7, 3.0

    nn = df.filter(v.isNotNull())
    win = Window.partitionBy(*partition_cols).orderBy(date_col).rowsBetween(-window, -1)
    n, s, sq = _frame_stats(v, win)
    mu = s / n
    var_pop = (sq - (s * s) / n) / n
    sd = F.when(var_pop > 0, F.sqrt(var_pop)).otherwise(F.lit(0.0))

    ready = n >= window
    flat = ready & (sd == 0)
    z = (
        F.when(flat, F.lit(0.0))
        .when(ready, (v - mu) / sd)
    )
    is_outlier = (
        F.when(flat, v != mu)
        .when(ready, F.abs(z) >= z_thresh)
        .otherwise(F.lit(False))
    )
    # series with < 5 finite values: all-inlier, score NULL (:79-93)
    cnt_win = Window.partitionBy(*partition_cols)
    n_finite_total = F.sum(F.when(_finite(v), 1).otherwise(0)).over(cnt_win)
    scored = (
        nn.withColumn("score", z)
        .withColumn("is_outlier", is_outlier)
        .withColumn("_nft", n_finite_total)
        .withColumn(
            "score", F.when(F.col("_nft") < 5, F.lit(None)).otherwise(F.col("score"))
        )
        .withColumn(
            "is_outlier",
            F.when(F.col("_nft") < 5, F.lit(False)).otherwise(F.col("is_outlier")),
        )
        .drop("_nft")
    )
    nulls = df.filter(v.isNull()).withColumn(
        "score", F.lit(None).cast("double")
    ).withColumn("is_outlier", F.lit(False))
    return scored.unionByName(nulls)


def anomaly_iforest_4d(
    df: DataFrame,
    contamination: float = 0.05,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M7 — the service-variant Isolation Forest (reference
    services/anomaly_iforest.py:25-47, written but NOT routed): 4-D
    features from the W3 rolling block (value, roll_mean_7, roll_std_7,
    diff_1), ``n_estimators=100``, same seed when sklearn is available.
    sklearn absent ⇒ the from-scratch seeded numpy isolation forest
    (``_iforest_scores_nd``) over the same 4-D block — real model math
    either way; sklearn bit-parity remains environment-blocked but the
    4-D path always executes. Numpy-path score convention follows
    ``anomaly_iforest_numpy``: s(x) ∈ [0,1], higher = more anomalous,
    outlier = top-``contamination`` quantile per series (the sklearn
    path reports decision_function scores, sign-flipped semantics)."""
    feature_cols = (value_col, "roll_mean_7", "roll_std_7", "diff_1")
    feats = iforest_features(df, partition_cols, date_col, value_col)
    try:
        import sklearn  # noqa: F401

        return _iforest_sklearn(
            feats,
            contamination,
            partition_cols,
            date_col,
            value_col,
            feature_cols=feature_cols,
            n_estimators=100,
        )
    except ImportError:
        return _iforest_numpy_nd(
            feats,
            contamination,
            partition_cols,
            date_col,
            value_col,
            feature_cols=feature_cols,
            n_estimators=100,
        )


def _iforest_numpy_nd(
    df: DataFrame,
    contamination: float,
    partition_cols: tuple[str, ...],
    date_col: str,
    value_col: str,
    feature_cols: tuple[str, ...],
    n_estimators: int,
) -> DataFrame:
    """Grouped-map numpy isolation forest over an arbitrary feature
    block — the sklearn-free twin of ``_iforest_sklearn`` (same NaN
    column-mean fill, same <5-finite-values all-inlier ladder)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("is_outlier", T.BooleanType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(date_col).reset_index(drop=True)
        vals = pdf[value_col].astype(float).to_numpy()
        finite = np.isfinite(vals)
        if int(finite.sum()) < 5:
            pdf["is_outlier"] = False
            pdf["score"] = None
            return pdf
        x = pdf[list(feature_cols)].astype(float).to_numpy()
        col_means = np.nanmean(np.where(np.isfinite(x), x, np.nan), axis=0)
        bad = ~np.isfinite(x)
        x[bad] = np.take(col_means, np.nonzero(bad)[1])
        key = "\x1f".join(str(pdf[c].iloc[0]) for c in partition_cols)
        scores = _iforest_scores_nd(x, n_estimators, key)
        thresh = float(np.quantile(scores, 1.0 - contamination))
        pdf["is_outlier"] = scores >= thresh
        pdf["score"] = scores
        return pdf

    return df.groupBy(*partition_cols).applyInPandas(fit, schema=out_schema)


def _iforest_scores_nd(X, n_estimators: int, seed_key: str):
    """Multi-dimensional isolation forest scores (Liu/Ting/Zhou 2008,
    Algorithm 1-2): each tree node picks a uniformly random attribute q
    and a uniform split in [min, max] of q over the node's subsample;
    path length of a point = #splits to isolate it, scores
    s(x) = 2^(−E[h(x)]/c(ψ)). Seeded from ``seed_key`` (crc32) so scores
    are partition-invariant. A one-column ``X`` is the 1-D forest:
    ``randint(1)`` draws nothing from the RNG, so the attribute pick
    costs no randomness and the split sequence is the classic 1-D one."""
    import math
    import zlib

    import numpy as np

    X = np.asarray(X, dtype=float)
    n, d = X.shape
    psi = min(256, n)
    rng = np.random.RandomState(zlib.crc32(seed_key.encode()) & 0x7FFFFFFF)
    depth_limit = int(math.ceil(math.log2(max(psi, 2))))

    def c(m: int) -> float:
        if m <= 1:
            return 0.0
        h = math.log(m - 1) + 0.5772156649015329
        return 2.0 * h - 2.0 * (m - 1) / m

    def path_len(pts_idx, sample, depth):
        m = len(sample)
        if depth >= depth_limit or m <= 1:
            return np.full(len(pts_idx), depth + c(m), dtype=float)
        # attributes that still vary within this node's subsample
        lo, hi = sample.min(axis=0), sample.max(axis=0)
        varying = np.nonzero(hi > lo)[0]
        if len(varying) == 0:
            return np.full(len(pts_idx), depth + c(m), dtype=float)
        q = int(varying[rng.randint(len(varying))])
        split = rng.uniform(lo[q], hi[q])
        left = X[pts_idx, q] < split
        sl = sample[sample[:, q] < split]
        sr = sample[sample[:, q] >= split]
        out = np.empty(len(pts_idx), dtype=float)
        out[left] = path_len(pts_idx[left], sl, depth + 1)
        out[~left] = path_len(pts_idx[~left], sr, depth + 1)
        return out

    all_idx = np.arange(n)
    total = np.zeros(n, dtype=float)
    for _ in range(n_estimators):
        sample = X[rng.choice(n, size=psi, replace=False)]
        total += path_len(all_idx, sample, 0)
    e_h = total / float(n_estimators)
    return np.power(2.0, -e_h / c(psi))


def anomaly_iforest_numpy(
    df: DataFrame,
    contamination: float = 0.05,
    n_estimators: int = 200,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """M6 with REAL model math, no sklearn: a from-scratch isolation
    forest (Liu/Ting/Zhou 2008) in pure numpy, fitted per series inside
    ``applyInPandas`` — the same grouped-map shape the sklearn path uses
    (reference routers/anomaly_iforest.py:96-126: contamination default
    0.05, n_estimators=200, seeded).

    Determinism: each group seeds its RNG from crc32(group-key) so scores
    are independent of partitioning/scheduling — re-running at any
    parallelism is bit-identical. Isolation-forest scores are inherently
    non-SQL-expressible (randomized ensemble), so this query carries a
    rows-only driver check plus a pinned golden test
    (tests/test_anomaly.py) instead of a DuckDB oracle.

    Semantics mirrored from the reference ladder: < 5 finite values ⇒
    all-inlier with NULL score; NaN features filled with the series'
    finite mean; ``score`` = anomaly score in [0,1] (higher = more
    anomalous); outlier = top-``contamination`` quantile per series.
    This is the one-column case of ``_iforest_numpy_nd``'s grouped map.
    """
    return _iforest_numpy_nd(
        df,
        contamination,
        partition_cols,
        date_col,
        value_col,
        feature_cols=(value_col,),
        n_estimators=n_estimators,
    )


def _iforest_sklearn(
    df: DataFrame,
    contamination: float,
    partition_cols: tuple[str, ...],
    date_col: str,
    value_col: str,
    feature_cols: tuple[str, ...] | None = None,
    n_estimators: int = 200,
) -> DataFrame:
    """Grouped-map fit: one IsolationForest per (source, metric) series —
    the idiomatic Spark shape for many small independent models. Each
    group is one pandas DataFrame in one task; thousands of series train
    in parallel across the cluster. ``feature_cols`` defaults to the 1-D
    router variant (value only); M7 passes the 4-D W3 block."""
    import pandas as pd
    from pyspark.sql import types as T

    feats = tuple(feature_cols or (value_col,))
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("is_outlier", T.BooleanType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from sklearn.ensemble import IsolationForest

        pdf = pdf.sort_values(date_col).reset_index(drop=True)
        vals = pdf[value_col].astype(float).to_numpy()
        finite = np.isfinite(vals)
        if finite.sum() < 5:
            pdf["is_outlier"] = False
            pdf["score"] = None
            return pdf
        x = pdf[list(feats)].astype(float).to_numpy()
        col_means = np.nanmean(np.where(np.isfinite(x), x, np.nan), axis=0)
        bad = ~np.isfinite(x)
        x[bad] = np.take(col_means, np.nonzero(bad)[1])
        model = IsolationForest(
            contamination=contamination,
            n_estimators=n_estimators,
            random_state=42,
        )
        model.fit(x)
        pdf["is_outlier"] = model.predict(x) == -1
        pdf["score"] = model.decision_function(x)
        return pdf

    return df.groupBy(*partition_cols).applyInPandas(fit, schema=out_schema)


def anomaly_mad(
    df: DataFrame,
    threshold: float = 3.5,
    partition_cols: tuple[str, ...] = ("metric",),
    value_col: str = "value",
) -> DataFrame:
    """Robust anomaly scoring via median absolute deviation (public
    Iglewicz–Hoaglin modified z-score: 0.6745·(x−med)/MAD, outlier at
    |z| ≥ 3.5) — the outlier detector that, unlike the mean/stddev
    z-scores (W1/W2), is not itself dragged by the outliers it scores.

    Exact medians via ``percentile`` (both engines interpolate sorted
    doubles identically — proven by the percentile oracles); MAD = 0
    degrades like the flat-window convention: outlier iff x ≠ median,
    score NULL. Two grouped aggregations + broadcast joins back; the
    group count (series), not the row count, sizes every shuffle.
    """
    v = F.col(value_col)
    med = df.groupBy(*partition_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    with_med = df.join(F.broadcast(med), list(partition_cols))
    mad = (
        with_med.withColumn("_absdev", F.abs(v - F.col("_med")))
        .groupBy(*partition_cols)
        .agg(F.expr("percentile(_absdev, 0.5)").alias("_mad"))
    )
    scored = with_med.join(F.broadcast(mad), list(partition_cols))
    z = F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad")
    return scored.select(
        *df.columns,
        F.when(F.col("_mad") > 0, z).alias("mad_z"),
        F.when(F.col("_mad") > 0, F.abs(z) >= threshold)
        .otherwise(v != F.col("_med"))
        .alias("is_outlier"),
    )


def rolling_mad_zscore(
    df: DataFrame,
    window: int = 14,
    threshold: float = 3.5,
    min_periods: int = 5,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """Rolling robust z-score: Iglewicz–Hoaglin modified z against the
    PRIOR-window median/MAD — the windowed twin of ``anomaly_mad`` and
    the robust counterpart of W1/W2 (a spike entering the window never
    drags a median the way it drags a mean/stddev).

    A rolling MAD needs the median of deviations from each row's OWN
    frame median, so it can't be two stacked window aggregates; instead
    the frame is collected and sorted once per row (``collect_list``
    over the frame → ``sort_array``) and both medians come from exact
    array indexing with the same (a+b)/2 interpolation both engines
    use. O(w log w) per row — fine for the daily-grain series this
    serves (w ≤ 30); the global variant handles unwindowed scale.

    Output: input + ``mad_z`` (NULL until min_periods / when MAD=0) and
    ``is_outlier`` (MAD=0 ⇒ outlier iff v ≠ rolling median).
    """
    v = F.col(value_col)
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(date_col)
        .rowsBetween(-window, -1)
    )

    def _median(arr: Column, n: Column) -> Column:
        # n > 0 guard first: ANSI mode (Spark 4 default) errors on
        # out-of-bounds element_at, and CASE branches evaluate lazily
        half = (n / 2).cast("int")
        return F.when(n == 0, F.lit(None).cast("double")).when(
            n % 2 == 1, F.element_at(arr, half + 1)
        ).otherwise((F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2.0)

    arr = F.sort_array(F.collect_list(v).over(w))
    n = F.size(arr)
    med = _median(arr, n)
    devs = F.sort_array(F.transform(arr, lambda x: F.abs(x - med)))
    mad = _median(devs, n)

    eligible = v.isNotNull() & (n >= min_periods)
    z = F.when(eligible & (mad > 0), F.lit(0.6745) * (v - med) / mad)
    is_outlier = (
        F.when(eligible & (mad > 0), F.abs(z) >= threshold)
        .when(eligible, v != med)  # flat window: any deviation flags
        .otherwise(F.lit(False))
    )
    return df.withColumn("mad_z", z).withColumn("is_outlier", is_outlier)


def cusum_changepoints(
    df: DataFrame,
    k: float = 0.0,
    h: float = 5.0,
    partition_cols: tuple[str, ...] = ("metric",),
    date_col: str = "metric_date",
    value_col: str = "value",
) -> DataFrame:
    """CUSUM level-shift detection (public Page 1954 scheme): per
    series, S⁺_i = max(0, S⁺_{i−1} + (x_i − μ − k)) and the mirrored
    S⁻ accumulate sustained drift away from the series mean μ; a
    changepoint fires when either exceeds ``h``. ``k`` (slack) and
    ``h`` (threshold) are in the VALUE's units — callers scale them
    from a reference period; nothing engine-variant is derived here
    (μ is an ordered-fold mean).

    The max(0,·) recursion doesn't linearize into window functions, so
    each prefix is folded explicitly: O(n²) folds per series — n is
    daily-grain (≤ a few hundred), and series fold independently across
    the cluster after one shuffle. Output: one row per input point with
    (cusum_pos, cusum_neg, is_changepoint).
    """
    arr = F.array_sort(
        F.collect_list(
            F.struct(F.col(date_col).alias("o"), F.col(value_col).cast("double").alias("t"))
        )
    )
    per = df.groupBy(*partition_cols).agg(arr.alias("_arr"))
    vals = F.transform(F.col("_arr"), lambda s: s["t"])
    n = F.size(F.col("_arr"))
    mu = (
        F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x) / n.cast("double")
    )

    def _cusum(sign: int) -> Column:
        # prefix folds: S_i over vals[1..i], seeded at 0.0
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.aggregate(
                F.slice(vals, 1, i),
                F.lit(0.0),
                lambda acc, x: F.greatest(
                    F.lit(0.0), acc + (F.lit(float(sign)) * (x - mu) - F.lit(k))
                ),
            ),
        )

    exploded = per.select(
        *partition_cols,
        F.posexplode(
            F.arrays_zip(
                F.col("_arr"), _cusum(+1).alias("sp"), _cusum(-1).alias("sn")
            )
        ).alias("_i", "_z"),
    )
    return exploded.select(
        *partition_cols,
        F.col("_z._arr.o").alias(date_col),
        F.col("_z._arr.t").alias(value_col),
        F.col("_z.sp").alias("cusum_pos"),
        F.col("_z.sn").alias("cusum_neg"),
        ((F.col("_z.sp") > h) | (F.col("_z.sn") > h)).alias("is_changepoint"),
    )


def robust_outliers(
    events: DataFrame,
    metric_col: str = "event_type",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier counts per series: flag |x − median| >
    k·MAD — immune to the outliers dragging the threshold the way a
    mean/stddev z-score is (the reference's rolling z is the
    parametric cousin; this is the distribution-free one).

    Both medians use the exact in-partition rank windows of
    ``grouped_quantiles_exact`` (ceil(q·n) discrete convention), so the
    thresholds are actual data values and the comparison is bit-stable.
    Cost: two grouped sort-windows + one counting pass, all shuffling
    on the series key.

    Output: (metric, n, med, mad, n_outliers).
    """
    from smartdatapipeline_spark.functions.sketch import grouped_quantiles_exact

    base = events.select(
        F.col(metric_col).alias("metric"), F.col(value_col).alias("_x")
    )
    med = (
        grouped_quantiles_exact(base, "_x", "metric", qs=(0.5,))
        .select(F.col("series").alias("metric"), F.col("value").alias("med"))
    )
    dev = base.join(F.broadcast(med), "metric").withColumn(
        "_d", F.abs(F.col("_x") - F.col("med"))
    )
    mad = (
        grouped_quantiles_exact(dev, "_d", "metric", qs=(0.5,))
        .select(F.col("series").alias("metric"), F.col("value").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "metric")
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.col("_d") > F.lit(float(k)) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


def burn_rate(
    events: DataFrame,
    error_type: str = "error",
    short_days: int = 1,
    long_days: int = 7,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Multi-window SLO burn rate (the SRE alerting pattern): the error
    share over a short trailing window divided by the share over a long
    trailing window — >1 means the error budget is burning faster than
    its recent baseline; alert when both windows exceed target.

    Day-grain rollup first (the only fact-sized shuffle), then two
    trailing ROWS windows over the tiny day frame. All window sums are
    exact integers; the two shares and their ratio are derived doubles.

    Output: (day, err_s, n_s, err_l, n_l, short_share, long_share,
    burn_ratio) — ratio NULL when the long window has no errors.
    """
    from pyspark.sql.window import Window

    daily = (
        events.select(
            F.to_date(ts_col).alias("day"),
            (F.col(type_col) == error_type).cast("long").alias("_e"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_e").alias("_err"))
    )
    ws = Window.orderBy("day").rowsBetween(-(short_days - 1), 0)
    wl = Window.orderBy("day").rowsBetween(-(long_days - 1), 0)
    s = daily.select(
        "day",
        F.sum("_err").over(ws).alias("err_s"),
        F.sum("_n").over(ws).alias("n_s"),
        F.sum("_err").over(wl).alias("err_l"),
        F.sum("_n").over(wl).alias("n_l"),
    )
    short_share = F.col("err_s") / F.col("n_s").cast("double")
    long_share = F.col("err_l") / F.col("n_l").cast("double")
    return s.select(
        "day",
        "err_s",
        "n_s",
        "err_l",
        "n_l",
        short_share.alias("short_share"),
        long_share.alias("long_share"),
        (short_share / F.nullif(long_share, F.lit(0.0))).alias("burn_ratio"),
    )


def seasonal_residual_outliers(
    events: DataFrame,
    k: float = 3.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Seasonality-aware volume anomaly: per series, compare each day's
    count to its DAY-OF-WEEK mean (the seasonal expectation from
    ``seasonal_profile``'s arithmetic-weekday convention) and flag days
    whose residual exceeds k× the residual standard deviation.

    Exactness discipline: expectations are ratios of exact integers;
    residuals are doubles, so Σr and Σr² fold in DAY order (parallel
    SUM(double) would be accumulation-order-nondeterministic); one sqrt
    at the end.

    Output: (series, n_days, resid_std, n_outliers).
    """
    daily = (
        events.select(
            F.col(type_col).alias("series"), F.to_date(ts_col).alias("day")
        )
        .groupBy("series", "day")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_dow",
            F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")) % 7,
        )
    )
    dow_avg = daily.groupBy("series", "_dow").agg(
        (F.sum("_n").cast("double") / F.count(F.lit(1))).alias("_exp")
    )
    resid = daily.join(dow_avg, ["series", "_dow"]).withColumn(
        "_r", F.col("_n").cast("double") - F.col("_exp")
    )
    # ordered folds for Σr and Σr² (parallel SUM(double) is order-
    # nondeterministic; day-ordered folds are engine-exact)
    def _fold(expr_col):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("o"), expr_col.alias("t")))
        )
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x["t"])

    stats = resid.groupBy("series").agg(
        F.count(F.lit(1)).alias("n_days"),
        _fold(F.col("_r")).alias("_sr"),
        _fold(F.col("_r") * F.col("_r")).alias("_srr"),
        F.collect_list(F.struct("day", "_r")).alias("_rs"),
    )
    n = F.col("n_days").cast("double")
    var = F.col("_srr") / n - (F.col("_sr") / n) * (F.col("_sr") / n)
    std = F.sqrt(F.when(var > 0, var))
    return stats.select(
        "series",
        "n_days",
        std.alias("resid_std"),
        F.when(
            std.isNull(), F.lit(0)
        ).otherwise(
            F.size(
                F.filter(
                    F.col("_rs"),
                    lambda x: F.abs(x["_r"]) > F.lit(float(k)) * std,
                )
            )
        ).cast("long").alias("n_outliers"),
    )
