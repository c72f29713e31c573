"""Persisted sketch store — daily sketch partials as TABLES, the
architecture that makes the round-9 sketch family a pipeline component
rather than query-side math (rounds 9-10).

At 100 TB the distinct-count question is never answered by rescanning
events: the nightly job appends one day's HLL register partial
(≤ m·|metrics| rows — a few KB) next to the gold KPIs, and any later
"distinct users for range/metric X" folds stored registers
(scale-probe ``hll_merge``: exponent 0.01). The reference's
COUNT(DISTINCT) endpoint (backend/app/services/kpi.py:40-43,60-61)
recomputes from events on every call; this store is the same answer
with the data touched exactly once per day.

Round 10 widens the store to the rest of the mergeable suite:
**KMV bottom-k** partials (``update_kmv_store`` / ``overlap_from_store``
— "how many users did BOTH purchase and click this month" from ≤ k
stored rows per (day, metric), the set-algebra question HLL registers
cannot answer) and **Bloom word tables** (``update_bloom_store`` /
``membership_from_store`` — "was this user present in the range", no
false negatives). All three share one write discipline and one
manifest.

Write discipline: each store is a snapshot-committed table
(``sources/snapstore.py``), the same commit path as silver and gold.
Each day is one ``metric_date`` partition value; a day upsert is an
``overwrite_partitions`` commit (put-if-absent log claim, no locks,
no renames), so re-ingesting a day (late events, corrections)
idempotently replaces that day's partials — and ONLY that day's —
while readers see the old snapshot until the claim lands. Each batch
records ``metric_date`` min/max stats, so range reads skip other
days' files at the manifest level. Register max-merge / bottom-k
distinct-union / word bit_or make replays harmless even if a day is
upserted with a superset of its events.

Manifest (round 10, driver ADVICE): the store's sketch parameters
(kind, p / k / m_bits·n_hashes, key column) are persisted once in
``_sketch_manifest.json`` at the store root and validated on every
write AND read — ``distinct_from_store(p=8)`` against a p=12 store now
raises instead of silently computing garbage estimates with the wrong
register count. The manifest is written with the snapshot store's
durable put-if-absent, so two first writers cannot stamp different
parameters.

Only the snapshot log makes data visible: a directory that also holds
older ``metric_date=…`` partition directories (the retired lock+swap
layout) is read as empty until its first commit.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions.sketch import (
    bloom_contains,
    bloom_fold,
    bloom_partial,
    hll_partial,
    hll_raw_estimate,
    hll_reaggregate,
    kmv_fold,
    kmv_intersect,
    kmv_partial,
)
from smartdatapipeline_spark.sources import snapstore as SS

_MANIFEST = "_sketch_manifest.json"


def _read_manifest(store_path: str) -> dict | None:
    path = os.path.join(store_path, _MANIFEST)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _require_manifest(
    store_path: str, kind: str, params: dict, write_if_missing: bool
) -> None:
    """Validate the store's persisted sketch parameters against the
    caller's; raise on ANY mismatch (a p=8 read of a p=12 register
    store computes a negative v_empty — round-10 ADVICE). A legacy
    store without a manifest is accepted as-is on read and stamped on
    the next write. Stamping is put-if-absent: a concurrent first
    writer that won is validated against like any existing manifest."""
    want = {"kind": kind, **params}
    have = _read_manifest(store_path)
    if have is None:
        if not write_if_missing or SS.put_if_absent(
            store_path, _MANIFEST, json.dumps(want).encode("utf-8")
        ):
            return
        have = _read_manifest(store_path)
    if have != want:
        raise ValueError(
            f"sketch store parameter mismatch at {store_path}: "
            f"store was built with {have}, caller asked for {want}"
        )


def _update_store(
    events: DataFrame,
    store_path: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    kind: str,
    params: dict,
    key_col: str,
    ts_col: str,
    only_new_days: bool,
) -> int:
    """Shared writer skeleton for all sketch kinds: manifest check →
    (incremental) skip stored days → partial-sketch the remaining days
    → one ``overwrite_partitions`` commit. No lock and no recovery
    pass: an uncommitted batch is invisible by construction."""
    df = (
        events.filter(F.col(key_col).isNotNull())
        .withColumn("metric_date", F.to_date(F.col(ts_col)))
    )
    _require_manifest(store_path, kind, params, write_if_missing=True)
    if only_new_days and SS.table_version(store_path) > 0:
        spark = events.sparkSession
        have = SS.read_table(spark, store_path).select("metric_date").distinct()
        df = df.join(F.broadcast(have), on="metric_date", how="left_anti")
    days = [r[0] for r in df.select("metric_date").distinct().collect()]
    if not days:
        return 0
    SS.overwrite_partitions(
        partial_fn(df), store_path, "metric_date",
        stats_cols=("metric_date",),
    )
    return len(days)


def _read_store_range(
    spark: SparkSession,
    store_path: str,
    kind: str,
    params: dict,
    start: dt.date | str | None,
    end: dt.date | str | None,
) -> DataFrame:
    """Shared reader: manifest validation + range read pruned at the
    MANIFEST level via the per-batch metric_date min/max stats the
    writer records (non-matching batch dirs never reach the scan).
    Raises a clear error on a store with no commit instead of Spark's
    'unable to infer schema'."""
    _require_manifest(store_path, kind, params, write_if_missing=False)
    if SS.table_version(store_path) == 0:
        raise ValueError(
            f"sketch store at {store_path} has no committed partitions"
        )
    if start is None and end is None:
        return SS.read_table(spark, store_path)
    lo = str(start) if start is not None else None
    hi = str(end) if end is not None else None
    return SS.read_table(
        spark, store_path, column_ranges=[("metric_date", lo, hi)]
    )


# ── HLL register store (round 9) ─────────────────────────────────────


def update_register_store(
    events: DataFrame,
    store_path: str,
    key_col: str = "user_id",
    metric_col: str = "metric",
    ts_col: str = "ts",
    p: int = 8,
    only_new_days: bool = True,
) -> int:
    """Upsert per-(metric_date, metric) HLL register partials for the
    days present in ``events``.

    ``only_new_days=True`` (the nightly-increment mode) skips days that
    already have stored registers — the incremental scan touches only
    the new days' events. ``False`` recomputes every day in ``events``
    (the corrections path), idempotently replacing those partitions.

    Returns the number of day-partitions written.
    """
    return _update_store(
        events,
        store_path,
        lambda df: hll_partial(df, key_col, by=["metric_date", metric_col], p=p),
        kind="hll",
        params={"p": p, "key_col": key_col, "metric_col": metric_col},
        key_col=key_col,
        ts_col=ts_col,
        only_new_days=only_new_days,
    )


def refresh_register_store_from_changes(
    spark: SparkSession,
    silver_root: str,
    store_path: str,
    key_col: str = "user_id",
    metric_col: str = "metric",
    p: int = 8,
) -> dict:
    """Maintain the HLL register store as an INCREMENTAL MATERIALIZED
    VIEW of the silver snapshot table (r11): the silver change feed
    names the touched days, ONLY those days' partials are recomputed
    (manifest-pruned day reads), and a correction that empties a day
    deletes its partition — the same ``refresh_from_changes`` mechanism
    that maintains gold, proving it generalizes to any day-grain
    derived table. Store params are manifest-validated exactly like the
    batch writers."""
    from smartdatapipeline_spark.operators.pipeline import refresh_from_changes

    _require_manifest(
        store_path,
        "hll",
        {"p": p, "key_col": key_col, "metric_col": metric_col},
        write_if_missing=True,
    )

    def agg(affected: DataFrame) -> DataFrame:
        df = (
            affected.filter(F.col(key_col).isNotNull())
            .withColumn("metric_date", F.col("event_date"))
            .drop("event_date")
        )
        return hll_partial(df, key_col, by=["metric_date", metric_col], p=p)

    return refresh_from_changes(
        spark, silver_root, store_path, agg,
        stats_cols=("metric_date",),
    )


def distinct_from_store(
    spark: SparkSession,
    store_path: str,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
    metric_col: str = "metric",
    by_metric: bool = True,
    p: int | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """Distinct-count estimates over ``[start, end]`` (inclusive day
    grain) from STORED registers only — no events scan. Date filters
    prune the store's ``metric_date`` partitions before any fold.

    ``p=None`` reads the precision from the store manifest (the safe
    default); passing an explicit ``p`` raises on mismatch instead of
    silently folding with the wrong register count (round-10 ADVICE).

    Output: per metric (or one global row), the hll_raw_estimate
    columns.
    """
    manifest = _read_manifest(store_path)
    if p is None:
        p = (manifest or {}).get("p", 8)
    reg = _read_store_range(
        spark,
        store_path,
        kind="hll",
        params={"p": p, "key_col": key_col, "metric_col": metric_col},
        start=start,
        end=end,
    )
    keep = [metric_col] if by_metric else []
    folded = hll_reaggregate(
        reg, drop=["metric_date"], by=["metric_date", *keep]
    )
    return hll_raw_estimate(folded, by=keep, p=p)


# ── KMV bottom-k store (round 10) ────────────────────────────────────


def update_kmv_store(
    events: DataFrame,
    store_path: str,
    key_col: str = "user_id",
    metric_col: str = "metric",
    ts_col: str = "ts",
    k: int = 64,
    only_new_days: bool = True,
) -> int:
    """Upsert per-(metric_date, metric) bottom-k partials: the k
    smallest distinct h60 hashes of ``key_col`` per (day, metric) —
    ≤ k rows per group per day, the stored currency that later answers
    distinct-union AND distinct-INTERSECTION questions (audience
    overlap) without any events rescan. Same incremental / corrections
    semantics as `update_register_store`."""
    return _update_store(
        events,
        store_path,
        lambda df: kmv_partial(df, key_col, by=["metric_date", metric_col], k=k),
        kind="kmv",
        params={"k": k, "key_col": key_col, "metric_col": metric_col},
        key_col=key_col,
        ts_col=ts_col,
        only_new_days=only_new_days,
    )


def overlap_from_store(
    spark: SparkSession,
    store_path: str,
    metric_a: str,
    metric_b: str,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
    metric_col: str = "metric",
    k: int | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """Audience-overlap estimate between two metrics over a date range
    from STORED bottom-k partials alone — the `kmv_audience_overlap`
    question answered without rescanning events: each side folds its
    ≤ k-per-day stored rows (`kmv_fold`), then the standard combined-
    sketch intersection (`kmv_intersect`) yields union / Jaccard /
    intersection estimates. Partition pruning bounds the read to the
    range's days.

    Output: one row — (union_n_vals, union_kth_h, union_est, n_match,
    jaccard_est, inter_est)."""
    manifest = _read_manifest(store_path)
    if k is None:
        k = (manifest or {}).get("k", 64)
    reg = _read_store_range(
        spark,
        store_path,
        kind="kmv",
        params={"k": k, "key_col": key_col, "metric_col": metric_col},
        start=start,
        end=end,
    )
    a = kmv_fold(reg.filter(F.col(metric_col) == metric_a), k=k)
    b = kmv_fold(reg.filter(F.col(metric_col) == metric_b), k=k)
    return kmv_intersect(a, b, k=k)


# ── Bloom word store (round 10) ──────────────────────────────────────


def update_bloom_store(
    events: DataFrame,
    store_path: str,
    key_col: str = "user_id",
    metric_col: str = "metric",
    ts_col: str = "ts",
    m_bits: int = 4096,
    n_hashes: int = 4,
    only_new_days: bool = True,
) -> int:
    """Upsert per-(metric_date, metric) Bloom word tables (≤ m/60 rows
    per group per day). Stored daily filters OR-merge into any range's
    membership filter without rescans. Same incremental / corrections
    semantics as `update_register_store`."""
    return _update_store(
        events,
        store_path,
        lambda df: bloom_partial(
            df, key_col, by=["metric_date", metric_col],
            m_bits=m_bits, n_hashes=n_hashes,
        ),
        kind="bloom",
        params={
            "m_bits": m_bits,
            "n_hashes": n_hashes,
            "key_col": key_col,
            "metric_col": metric_col,
        },
        key_col=key_col,
        ts_col=ts_col,
        only_new_days=only_new_days,
    )


def membership_from_store(
    spark: SparkSession,
    store_path: str,
    probes: DataFrame,
    probe_col: str = "user_id",
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
    metric: str | None = None,
    metric_col: str = "metric",
    m_bits: int | None = None,
    n_hashes: int | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """Membership test ("was this key present in the range, optionally
    for one metric") from STORED word tables alone: fold the range's
    daily filters by bit_or (`bloom_fold`), then probe — no false
    negatives, designed false-positive rate, probe side never
    shuffles. Output: (probe_col, might_contain)."""
    manifest = _read_manifest(store_path) or {}
    if m_bits is None:
        m_bits = manifest.get("m_bits", 4096)
    if n_hashes is None:
        n_hashes = manifest.get("n_hashes", 4)
    reg = _read_store_range(
        spark,
        store_path,
        kind="bloom",
        params={
            "m_bits": m_bits,
            "n_hashes": n_hashes,
            "key_col": key_col,
            "metric_col": metric_col,
        },
        start=start,
        end=end,
    )
    if metric is not None:
        reg = reg.filter(F.col(metric_col) == metric)
    folded = bloom_fold(reg)
    return bloom_contains(
        folded, probes, probe_col, m_bits=m_bits, n_hashes=n_hashes
    )


# ── Dyadic-CMS quantile store (round 10) ─────────────────────────────


def update_dyadic_store(
    events: DataFrame,
    store_path: str,
    value_col: str = "value",
    ts_col: str = "ts",
    scale: int = 100,
    levels: int = 20,
    depth: int = 4,
    width: int = 2048,
    metric_col: str | None = None,
    only_new_days: bool = True,
) -> int:
    """Upsert per-day dyadic-CMS quantile partials (≤ levels·depth·width
    cells per day): any later range-quantile question folds stored
    cells by SUM — the quantile analog of the register store. Values
    are pre-scaled to integers by ``scale`` (e.g. cents).
    ``metric_col`` keys an independent grid per (day, metric) — the
    PER-SERIES quantile store the reference's anomaly math consumes
    (backend/app/services/anomaly.py reads per-series distributions).
    Same incremental / corrections semantics as
    `update_register_store`."""
    from smartdatapipeline_spark.functions.sketch import dyadic_cms_partial

    by = ["metric_date"] + ([metric_col] if metric_col else [])

    def _partial(df: DataFrame) -> DataFrame:
        scaled = df.withColumn(
            "_sv", F.floor(F.col(value_col) * scale).cast("long")
        )
        return dyadic_cms_partial(
            scaled, "_sv", levels=levels, depth=depth, width=width, by=by
        )

    return _update_store(
        events,
        store_path,
        _partial,
        kind="dyadic",
        params={
            "scale": scale, "levels": levels, "depth": depth,
            "width": width, "value_col": value_col,
            "metric_col": metric_col,
        },
        key_col=value_col,
        ts_col=ts_col,
        only_new_days=only_new_days,
    )


def _dyadic_manifest(store_path: str) -> dict:
    m = _read_manifest(store_path) or {}
    return {
        "scale": m.get("scale", 100),
        "levels": m.get("levels", 20),
        "depth": m.get("depth", 4),
        "width": m.get("width", 2048),
        "value_col": m.get("value_col", "value"),
        "metric_col": m.get("metric_col"),
    }


def dyadic_cells_from_store(
    spark: SparkSession,
    store_path: str,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
    by_metric: bool = False,
) -> DataFrame:
    """The range's folded cell grid from STORED daily partials —
    cell-wise SUM, partition-pruned. ``by_metric=True`` (on a store
    built with ``metric_col``) keeps one grid per series. This is the
    oracle-able surface; `quantiles_from_store` walks it.
    Output: ([metric,] level, row, cell, n)."""
    params = _dyadic_manifest(store_path)
    reg = _read_store_range(
        spark, store_path, kind="dyadic", params=params,
        start=start, end=end,
    )
    keep = []
    if by_metric:
        if not params["metric_col"]:
            raise ValueError(
                f"dyadic store at {store_path} was built without metric_col"
            )
        keep = [params["metric_col"]]
    return (
        reg.groupBy(*keep, "level", "row", "cell")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def quantiles_from_store(
    spark: SparkSession,
    store_path: str,
    qs: list[float],
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
    by_metric: bool = False,
) -> list[float] | dict[str, list[float]]:
    """Range quantiles (descaled to the original value domain) from
    STORED cells alone — no events rescan. total_n is derived from the
    stored grid itself: every value increments exactly ``depth`` cells
    per level, so Σn over level 0 = depth·N (exact integers, per
    group).

    ``by_metric=True`` returns {metric: [quantile_per_q]} — per-series
    quantiles from one store read, the reference's per-series
    distribution input served without rescans.

    The walk runs on the collected fold (≤ [series ×]
    levels·depth·width cells — the justified-collect class of the
    in-memory walk; series count is dimension-bounded)."""
    from smartdatapipeline_spark.functions.sketch import _dyadic_walk

    params = _dyadic_manifest(store_path)
    scale, levels = params["scale"], params["levels"]
    depth, width = params["depth"], params["width"]
    folded = dyadic_cells_from_store(
        spark, store_path, start=start, end=end, by_metric=by_metric
    )
    mcol = params["metric_col"]
    groups: dict[str | None, dict[tuple[int, int, int], int]] = {}
    lvl0: dict[str | None, int] = {}
    for r in folded.collect():
        g = r[mcol] if by_metric else None
        groups.setdefault(g, {})[(r["level"], r["row"], r["cell"])] = r["n"]
        if r["level"] == 0:
            lvl0[g] = lvl0.get(g, 0) + r["n"]
    if not by_metric:
        total_n = lvl0.get(None, 0) // depth
        if total_n == 0:
            raise ValueError(
                f"dyadic store at {store_path} holds no mass in range"
            )
        ints = _dyadic_walk(groups[None], qs, total_n, levels, depth, width)
        return [v / scale for v in ints]
    out: dict[str, list[float]] = {}
    for g, cells in groups.items():
        total_n = lvl0.get(g, 0) // depth
        if total_n == 0:
            continue
        ints = _dyadic_walk(cells, qs, total_n, levels, depth, width)
        out[g] = [v / scale for v in ints]
    if not out:
        raise ValueError(
            f"dyadic store at {store_path} holds no mass in range"
        )
    return out


# ── Derived range reads (round 10): the store answering MANY questions ─


def rolling_distinct_from_store(
    spark: SparkSession,
    store_path: str,
    start: dt.date | str,
    end: dt.date | str,
    window_days: int = 7,
    metric_col: str = "metric",
    p: int | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """Trailing-``window_days`` distinct estimate for EVERY day in
    [start, end], all from stored registers (round 10) — the dashboard
    "rolling 7-day active users" series that an events-rescan engine
    recomputes per point. Each stored per-day register row serves the
    ≤ window_days output days it falls inside: explode day →
    day+[0, w)·1d, filter to range, bucket-max per (out_day, bucket),
    one raw estimate per day. Register tables are days×m rows, so the
    explode is ×w on a volume-independent input.

    Output: (day, buckets_used, v_empty, z_num, raw_est, small_range)
    — one row per day in [start, end]."""
    manifest = _read_manifest(store_path)
    if p is None:
        p = (manifest or {}).get("p", 8)
    # read a window_days-widened range so early output days see their
    # full trailing window
    widened = (
        F.lit(start).cast("date") - F.expr(f"INTERVAL {window_days - 1} DAYS")
    )
    reg = _read_store_range(
        spark,
        store_path,
        kind="hll",
        params={"p": p, "key_col": key_col, "metric_col": metric_col},
        start=None,
        end=end,
    ).filter(F.col("metric_date") >= widened)
    served = reg.select(
        F.explode(
            F.sequence(
                F.col("metric_date"),
                F.col("metric_date") + F.expr(f"INTERVAL {window_days - 1} DAYS"),
            )
        ).alias("day"),
        "bucket",
        "rho",
    ).filter(
        (F.col("day") >= F.lit(start).cast("date"))
        & (F.col("day") <= F.lit(end).cast("date"))
    )
    folded = served.groupBy("day", "bucket").agg(F.max("rho").alias("rho"))
    return hll_raw_estimate(folded, by=["day"], p=p)


def new_audience_from_store(
    spark: SparkSession,
    store_path: str,
    metric: str,
    prev_start: dt.date | str,
    prev_end: dt.date | str,
    cur_start: dt.date | str,
    cur_end: dt.date | str,
    metric_col: str = "metric",
    k: int | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """"How many of [cur]'s distinct users were NOT active in [prev]"
    for one metric, from stored bottom-k partials alone (round 10) —
    the new-vs-returning split every growth dashboard asks, answered
    by `kmv_difference` over two folded range sketches with no events
    rescan. Output: one row of kmv_difference columns."""
    from smartdatapipeline_spark.functions.sketch import kmv_difference

    manifest = _read_manifest(store_path)
    if k is None:
        k = (manifest or {}).get("k", 64)
    params = {"k": k, "key_col": key_col, "metric_col": metric_col}
    cur = _read_store_range(
        spark, store_path, kind="kmv", params=params,
        start=cur_start, end=cur_end,
    )
    prev = _read_store_range(
        spark, store_path, kind="kmv", params=params,
        start=prev_start, end=prev_end,
    )
    a = kmv_fold(cur.filter(F.col(metric_col) == metric), k=k)
    b = kmv_fold(prev.filter(F.col(metric_col) == metric), k=k)
    return kmv_difference(a, b, k=k)
