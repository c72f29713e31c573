"""Persisted sketch stores (rounds 9-10): incremental daily builds
answer range questions from stored partials alone, idempotently,
through snapshot-store commits."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from smartdatapipeline_spark.functions.sketch import hll_partial, hll_raw_estimate
from smartdatapipeline_spark.operators.sketchstore import (
    distinct_from_store,
    update_register_store,
)
from smartdatapipeline_spark.sources import snapstore as SS


def _events(spark, days, users_per_day=120, metrics=("m1", "m2")):
    rows = []
    for d_i, day in enumerate(days):
        for m_i, m in enumerate(metrics):
            for u in range(users_per_day):
                rows.append(
                    Row(
                        ts=f"{day} 0{u % 9}:00:00",
                        metric=m,
                        user_id=d_i * 40 + m_i * 10_000 + u,
                    )
                )
    return spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))


def _est_rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_incremental_build_matches_direct(spark, tmp_path):
    store = str(tmp_path / "reg_store")
    d12 = _events(spark, ["2024-01-01", "2024-01-02"])
    d3 = _events(spark, ["2024-01-03"])

    assert update_register_store(d12, store) == 2
    # incremental day: only day 3 is scanned/written
    assert update_register_store(d12.unionByName(d3), store) == 1
    # re-run: nothing new, store untouched
    assert update_register_store(d12.unionByName(d3), store) == 0

    # answers from the store == direct sketch of ALL events
    got = distinct_from_store(spark, store, by_metric=True)
    all_ev = d12.unionByName(d3).withColumn("metric_date", F.to_date("ts"))
    want = hll_raw_estimate(
        hll_partial(all_ev, "user_id", by=["metric"]), by=["metric"]
    )
    assert _est_rows(got) == _est_rows(want)


def test_range_filter_prunes_days(spark, tmp_path):
    store = str(tmp_path / "reg_store2")
    ev = _events(spark, ["2024-01-01", "2024-01-02", "2024-01-03"])
    update_register_store(ev, store)
    got = distinct_from_store(
        spark, store, start="2024-01-02", end="2024-01-03", by_metric=False,
    )
    sub = ev.filter(F.to_date("ts") >= F.lit("2024-01-02"))
    want = hll_raw_estimate(hll_partial(sub, "user_id"))
    assert _est_rows(got) == _est_rows(want)


def test_corrections_replace_one_day_only(spark, tmp_path):
    store = str(tmp_path / "reg_store3")
    ev = _events(spark, ["2024-01-01", "2024-01-02"])
    update_register_store(ev, store)

    # day 2 gets corrected data (more users); recompute JUST that day
    extra = _events(spark, ["2024-01-02"], users_per_day=200)
    n = update_register_store(extra, store, only_new_days=False)
    assert n == 1

    got = distinct_from_store(spark, store, by_metric=True)
    truth = (
        ev.filter(F.to_date("ts") == F.lit("2024-01-01")).unionByName(extra)
    )
    want = hll_raw_estimate(
        hll_partial(truth, "user_id", by=["metric"]), by=["metric"]
    )
    assert _est_rows(got) == _est_rows(want)


def test_store_partitioned_by_day(spark, tmp_path):
    """Each committed batch records the days it holds as partition
    values, so day reads prune at the manifest level."""
    store = str(tmp_path / "reg_store4")
    update_register_store(_events(spark, ["2024-01-01", "2024-01-02"]), store)
    assert SS.partition_values(store) == ["2024-01-01", "2024-01-02"]


def test_update_ignores_retired_partition_dirs(spark, tmp_path):
    """A store directory left by the retired lock+swap layout (bare
    ``metric_date=…`` partition dirs and a matching manifest) holds no
    snapshot commit: the first update builds from scratch, and reads
    see only the store's own commits, never the old files."""
    import os

    store = str(tmp_path / "reg_legacy")
    stale = _events(spark, ["2023-12-31", "2024-01-01"], users_per_day=300)
    hll_partial(
        stale.withColumn("metric_date", F.to_date("ts")),
        "user_id",
        by=["metric_date", "metric"],
    ).write.partitionBy("metric_date").parquet(store)
    with open(os.path.join(store, "_sketch_manifest.json"), "w") as f:
        f.write('{"kind": "hll", "p": 8, "key_col": "user_id", '
                '"metric_col": "metric"}')

    ev = _events(spark, ["2024-01-01", "2024-01-02"])
    # both days are written, although 2024-01-01 has an old partition dir
    assert update_register_store(ev, store) == 2
    assert SS.table_version(store) == 1
    assert SS.partition_values(store) == ["2024-01-01", "2024-01-02"]
    got = distinct_from_store(spark, store, by_metric=True)
    want = hll_raw_estimate(
        hll_partial(ev, "user_id", by=["metric"]), by=["metric"]
    )
    assert _est_rows(got) == _est_rows(want)
    # the old files are still on disk, just never read
    assert "metric_date=2023-12-31" in os.listdir(store)


# ── round 10: manifest, empty-dir guard, KMV/Bloom stores ────────────


def test_precreated_empty_dir_treated_as_empty_store(spark, tmp_path):
    """ADVICE r10: a store dir that exists but holds no committed
    partition (pre-created, or a crashed first write) must behave like
    a missing store, not crash the incremental read."""
    import os

    store = str(tmp_path / "reg_pre")
    os.makedirs(store)
    ev = _events(spark, ["2024-01-01"])
    assert update_register_store(ev, store) == 1
    got = distinct_from_store(spark, store, by_metric=True)
    want = hll_raw_estimate(
        hll_partial(ev, "user_id", by=["metric"]), by=["metric"]
    )
    assert _est_rows(got) == _est_rows(want)


def test_reader_on_empty_store_raises_clearly(spark, tmp_path):
    import os

    store = str(tmp_path / "reg_empty")
    os.makedirs(store)
    with pytest.raises(ValueError, match="no committed partitions"):
        distinct_from_store(spark, store)


def test_manifest_p_mismatch_raises(spark, tmp_path):
    """ADVICE r10: the store records its HLL precision; reading or
    re-writing with a different p raises instead of computing garbage
    (negative v_empty) with the wrong register count."""
    store = str(tmp_path / "reg_p12")
    ev = _events(spark, ["2024-01-01"])
    update_register_store(ev, store, p=12)
    with pytest.raises(ValueError, match="parameter mismatch"):
        distinct_from_store(spark, store, p=8)
    with pytest.raises(ValueError, match="parameter mismatch"):
        update_register_store(
            _events(spark, ["2024-01-02"]), store, p=8
        )
    # p=None (default) reads the manifest precision and just works
    got = distinct_from_store(spark, store, by_metric=True)
    want = hll_raw_estimate(
        hll_partial(ev, "user_id", by=["metric"], p=12), by=["metric"], p=12
    )
    assert _est_rows(got) == _est_rows(want)


def test_kmv_store_incremental_matches_direct(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_distinct,
        kmv_fold,
        kmv_partial,
    )
    from smartdatapipeline_spark.operators.sketchstore import update_kmv_store

    store = str(tmp_path / "kmv_store")
    d12 = _events(spark, ["2024-01-01", "2024-01-02"])
    d3 = _events(spark, ["2024-01-03"])
    assert update_kmv_store(d12, store, k=32) == 2
    assert update_kmv_store(d12.unionByName(d3), store, k=32) == 1
    assert update_kmv_store(d12.unionByName(d3), store, k=32) == 0

    stored = SS.read_table(spark, store)
    got = kmv_distinct(
        kmv_fold(stored, by=["metric"], k=32), by=["metric"], k=32
    )
    want = kmv_distinct(
        kmv_partial(d12.unionByName(d3), "user_id", by=["metric"], k=32),
        by=["metric"],
        k=32,
    )
    assert _est_rows(got) == _est_rows(want)


def test_overlap_from_store_matches_direct_intersection(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_intersect,
        kmv_partial,
    )
    from smartdatapipeline_spark.operators.sketchstore import (
        overlap_from_store,
        update_kmv_store,
    )

    store = str(tmp_path / "kmv_ov")
    ev = _events(spark, ["2024-01-01", "2024-01-02", "2024-01-03"])
    update_kmv_store(ev, store, k=32)

    got = overlap_from_store(
        spark, store, "m1", "m2", start="2024-01-02", end="2024-01-03"
    )
    sub = ev.filter(F.to_date("ts") >= F.lit("2024-01-02"))
    a = kmv_partial(sub.filter(F.col("metric") == "m1"), "user_id", k=32)
    b = kmv_partial(sub.filter(F.col("metric") == "m2"), "user_id", k=32)
    want = kmv_intersect(a, b, k=32)
    assert _est_rows(got) == _est_rows(want)


def test_kmv_store_corrections_replace_one_day(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_distinct,
        kmv_fold,
        kmv_partial,
    )
    from smartdatapipeline_spark.operators.sketchstore import update_kmv_store

    store = str(tmp_path / "kmv_corr")
    ev = _events(spark, ["2024-01-01", "2024-01-02"])
    update_kmv_store(ev, store, k=32)
    extra = _events(spark, ["2024-01-02"], users_per_day=200)
    assert update_kmv_store(extra, store, k=32, only_new_days=False) == 1

    stored = SS.read_table(spark, store)
    got = kmv_distinct(
        kmv_fold(stored, by=["metric"], k=32), by=["metric"], k=32
    )
    truth = ev.filter(F.to_date("ts") == F.lit("2024-01-01")).unionByName(extra)
    want = kmv_distinct(
        kmv_partial(truth, "user_id", by=["metric"], k=32), by=["metric"], k=32
    )
    assert _est_rows(got) == _est_rows(want)


def test_bloom_store_membership_no_false_negatives(spark, tmp_path):
    from smartdatapipeline_spark.operators.sketchstore import (
        membership_from_store,
        update_bloom_store,
    )

    store = str(tmp_path / "bloom_store")
    d1 = _events(spark, ["2024-01-01"])
    d2 = _events(spark, ["2024-01-02"])
    assert update_bloom_store(d1, store, m_bits=8192) == 1
    assert update_bloom_store(d1.unionByName(d2), store, m_bits=8192) == 1
    assert update_bloom_store(d1.unionByName(d2), store, m_bits=8192) == 0

    present = (
        d1.unionByName(d2).select("user_id").distinct()
    )
    got = membership_from_store(
        spark, store, present, probe_col="user_id", m_bits=8192
    )
    assert got.filter(~F.col("might_contain")).count() == 0

    # range-pruned probe: a user only in day 2 is absent from day 1's
    # filter unless FPR fires — check the day-1-only fold still has no
    # false negatives for day-1 users
    d1_users = d1.select("user_id").distinct()
    got1 = membership_from_store(
        spark, store, d1_users, probe_col="user_id",
        start="2024-01-01", end="2024-01-01", m_bits=8192,
    )
    assert got1.filter(~F.col("might_contain")).count() == 0


def test_bloom_store_fold_matches_direct_words(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import (
        bloom_fold,
        bloom_partial,
    )
    from smartdatapipeline_spark.operators.sketchstore import update_bloom_store

    store = str(tmp_path / "bloom_words")
    ev = _events(spark, ["2024-01-01", "2024-01-02"])
    update_bloom_store(ev, store)
    got = bloom_fold(SS.read_table(spark, store).drop("metric_date", "metric"))
    want = bloom_partial(ev, "user_id")
    assert _est_rows(got) == _est_rows(want)


def test_dyadic_store_fold_matches_direct_and_quantiles(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import dyadic_cms_partial
    from smartdatapipeline_spark.operators.sketchstore import (
        dyadic_cells_from_store,
        quantiles_from_store,
        update_dyadic_store,
    )

    store = str(tmp_path / "dyadic_store")
    rows = []
    for d_i, day in enumerate(["2024-01-01", "2024-01-02", "2024-01-03"]):
        for u in range(400):
            rows.append(
                Row(ts=f"{day} 06:00:00", value=float((u * u + d_i * 37) % 300))
            )
    ev = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    kw = dict(scale=100, levels=16, depth=4, width=1024)
    assert update_dyadic_store(ev, store, **kw) == 3
    assert update_dyadic_store(ev, store, **kw) == 0  # idempotent

    # folded range cells == direct sketch of the same rows
    sub = ev.filter(F.to_date("ts") >= F.lit("2024-01-02"))
    direct = dyadic_cms_partial(
        sub.withColumn("_sv", F.floor(F.col("value") * 100).cast("long")),
        "_sv", levels=16, depth=4, width=1024,
    )
    got = dyadic_cells_from_store(spark, store, start="2024-01-02")
    assert _est_rows(got) == _est_rows(direct)

    # quantiles from the store: rank error ≤ 5% vs the true range data
    import bisect

    vals = sorted(r["value"] for r in sub.collect())
    n = len(vals)
    for q, ans in zip([0.25, 0.5, 0.9],
                      quantiles_from_store(spark, store, [0.25, 0.5, 0.9],
                                           start="2024-01-02")):
        lo = bisect.bisect_left(vals, ans)
        hi = bisect.bisect_right(vals, ans)
        assert lo - 0.05 * n <= q * n <= hi + 0.05 * n, (q, ans)


def test_dyadic_store_empty_range_raises(spark, tmp_path):
    from smartdatapipeline_spark.operators.sketchstore import (
        quantiles_from_store,
        update_dyadic_store,
    )

    store = str(tmp_path / "dyadic_empty")
    ev = spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00", value=1.0)]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    update_dyadic_store(ev, store)
    with pytest.raises(ValueError, match="no mass"):
        quantiles_from_store(spark, store, [0.5], start="2024-06-01")


# ── round 10: derived range reads (rolling distinct, new audience) ───


def test_kmv_difference_exact_below_k(spark):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_difference,
        kmv_partial,
    )

    a = spark.createDataFrame([Row(k=f"u{i}") for i in range(30)])
    b = spark.createDataFrame([Row(k=f"u{i}") for i in range(20, 50)])
    sa = kmv_partial(a, "k", k=64)
    sb = kmv_partial(b, "k", k=64)
    got = kmv_difference(sa, sb, k=64).collect()[0]
    # |A ∪ B| = 50 < k: the union sketch IS the union, counts exact
    assert got["union_n_vals"] == 50
    assert got["n_only_a"] == 20  # u0..u19
    assert abs(got["diff_est"] - 20.0) < 1e-9
    # subset: A \ A = 0
    got2 = kmv_difference(sa, sa, k=64).collect()[0]
    assert got2["n_only_a"] == 0 and got2["diff_est"] == 0.0


def test_kmv_difference_accuracy_above_k(spark):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_difference,
        kmv_partial,
    )

    # |A|=3000 (0..2999), |B|=3000 (2000..4999) ⇒ |A\B| = 2000
    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(2000, 5000).select(F.col("id").cast("string").alias("k"))
    got = kmv_difference(
        kmv_partial(a, "k", k=256), kmv_partial(b, "k", k=256), k=256
    ).collect()[0]
    # rel err of the ratio estimator at k=256 ~ a few %, assert 20%
    assert abs(got["diff_est"] - 2000) / 2000 < 0.2, got["diff_est"]


def test_rolling_distinct_from_store_matches_direct_windows(spark, tmp_path):
    from smartdatapipeline_spark.operators.sketchstore import (
        rolling_distinct_from_store,
    )

    store = str(tmp_path / "roll_store")
    days = [f"2024-01-{d:02d}" for d in range(1, 11)]
    ev = _events(spark, days, users_per_day=60)
    update_register_store(ev, store)

    got = rolling_distinct_from_store(
        spark, store, start="2024-01-05", end="2024-01-10", window_days=3
    )
    # direct: per output day, sketch the trailing-3-day slice
    import datetime as dt

    rows = []
    for d in range(5, 11):
        day = dt.date(2024, 1, d)
        lo = day - dt.timedelta(days=2)
        sub = ev.filter(
            (F.to_date("ts") >= F.lit(str(lo))) & (F.to_date("ts") <= F.lit(str(day)))
        )
        w = hll_raw_estimate(hll_partial(sub, "user_id")).collect()[0]
        rows.append((str(day), str(w["buckets_used"]), str(w["v_empty"]),
                     str(w["z_num"]), str(w["raw_est"]), str(w["small_range"])))
    want = sorted(rows)
    got_rows = sorted(
        (str(r["day"]), str(r["buckets_used"]), str(r["v_empty"]),
         str(r["z_num"]), str(r["raw_est"]), str(r["small_range"]))
        for r in got.collect()
    )
    assert got_rows == want


def test_new_audience_from_store_matches_direct(spark, tmp_path):
    from smartdatapipeline_spark.functions.sketch import (
        kmv_difference,
        kmv_partial,
    )
    from smartdatapipeline_spark.operators.sketchstore import (
        new_audience_from_store,
        update_kmv_store,
    )

    store = str(tmp_path / "newaud_store")
    days = [f"2024-01-{d:02d}" for d in range(1, 7)]
    ev = _events(spark, days, users_per_day=80)
    update_kmv_store(ev, store, k=32)

    got = new_audience_from_store(
        spark, store, "m1",
        prev_start="2024-01-01", prev_end="2024-01-03",
        cur_start="2024-01-04", cur_end="2024-01-06",
    )
    cur = ev.filter(
        (F.col("metric") == "m1") & (F.to_date("ts") >= F.lit("2024-01-04"))
    )
    prev = ev.filter(
        (F.col("metric") == "m1") & (F.to_date("ts") <= F.lit("2024-01-03"))
    )
    want = kmv_difference(
        kmv_partial(cur, "user_id", k=32), kmv_partial(prev, "user_id", k=32),
        k=32,
    )
    assert _est_rows(got) == _est_rows(want)


def test_dyadic_store_per_metric_quantiles(spark, tmp_path):
    """A store built with metric_col serves PER-SERIES quantiles from
    one read — each series' answers track its own distribution (two
    very different shapes so a cross-series leak fails loudly)."""
    import bisect

    from smartdatapipeline_spark.operators.sketchstore import (
        quantiles_from_store,
        update_dyadic_store,
    )

    store = str(tmp_path / "dyadic_grouped_store")
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        for u in range(500):
            rows.append(Row(ts=f"{day} 06:00:00", metric="wide",
                            value=float((u * u) % 400)))
            rows.append(Row(ts=f"{day} 06:00:00", metric="narrow",
                            value=float(u % 7)))
    ev = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    kw = dict(scale=100, levels=16, depth=4, width=1024, metric_col="metric")
    assert update_dyadic_store(ev, store, **kw) == 2
    got = quantiles_from_store(
        spark, store, [0.5, 0.9], by_metric=True
    )
    assert set(got) == {"wide", "narrow"}
    truth = {
        "wide": sorted(float((u * u) % 400) for u in range(500)) * 2,
        "narrow": sorted(float(u % 7) for u in range(500)) * 2,
    }
    for m, anss in got.items():
        vals = sorted(truth[m])
        n = len(vals)
        for q, ans in zip([0.5, 0.9], anss):
            lo = bisect.bisect_left(vals, ans)
            hi = bisect.bisect_right(vals, ans)
            assert lo - 0.05 * n <= q * n <= hi + 0.05 * n, (m, q, ans)
    assert got["narrow"][1] <= 7.0  # p90 of the narrow series stays narrow


def test_dyadic_store_by_metric_on_global_store_raises(spark, tmp_path):
    from smartdatapipeline_spark.operators.sketchstore import (
        dyadic_cells_from_store,
        update_dyadic_store,
    )

    store = str(tmp_path / "dyadic_global2")
    ev = spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00", value=1.0)]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    update_dyadic_store(ev, store)
    with pytest.raises(ValueError, match="without metric_col"):
        dyadic_cells_from_store(spark, store, by_metric=True)
