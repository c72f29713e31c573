"""Tests for the round-3 batch: PageRank, bloom semi-join, OLS trend,
streaks, conversion lag, seasonal profile, equi-width histogram."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _pagerank_py(edges, iterations=3, damping=0.85, residual=0.15):
    """Driver-side reference: same recursion, same fold order."""
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        contribs = {}
        for s, t in edges:
            contribs.setdefault(t, []).append((s, rank[s] / out[s]))
        nxt = {}
        for n in nodes:
            acc = 0.0
            for _, c in sorted(contribs.get(n, [])):
                acc += c
            nxt[n] = residual + damping * acc
        rank = nxt
    return rank


def test_pagerank_matches_python_recursion(spark):
    from smartdatapipeline_spark.functions.graph import pagerank, symmetrize

    base = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = base + [(b, a) for a, b in base]
    df = spark.createDataFrame(base, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(symmetrize(df), iterations=3).collect()
    }
    want = _pagerank_py(edges)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == want[n], n  # bit-exact: same fold order


def test_pagerank_dangling_node_keeps_residual(spark):
    from smartdatapipeline_spark.functions.graph import pagerank

    # directed 1→2: node 1 has no in-edges, rank stays at residual
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=2).collect()}
    assert got[1] == 0.15
    assert got[2] == 0.15 + 0.85 * 0.15  # node 1's residual fed forward


def test_bloom_semi_join_equals_exact_semi(spark):
    from smartdatapipeline_spark.functions.bloom import bloom_semi_join

    big = spark.createDataFrame(
        [(i, i % 100) for i in range(5000)], "row_id long, k long"
    )
    small = spark.createDataFrame([(7,), (13,), (42,), (13,)], "k long")
    got = bloom_semi_join(big, small, "k", "k").orderBy("row_id").collect()
    want = (
        big.join(small.distinct(), "k", "left_semi").orderBy("row_id").collect()
    )
    assert [r["row_id"] for r in got] == [r["row_id"] for r in want]
    assert len(got) == 150


def test_bloom_prunes_and_never_drops_members(spark):
    from smartdatapipeline_spark.functions.bloom import (
        bloom_semi_join,
        build_bloom_words,
    )

    small = spark.createDataFrame([(k,) for k in range(0, 1000, 7)], "k long")
    words, m = build_bloom_words(small, "k")
    assert m % 64 == 0 and len(words) == m // 64
    assert any(w != 0 for w in words)
    # no false negatives: every member survives the bloom + exact pass
    big = spark.createDataFrame([(k,) for k in range(1000)], "k long")
    kept = {r["k"] for r in bloom_semi_join(big, small, "k", "k").collect()}
    assert kept == set(range(0, 1000, 7))


def test_ols_trend_recovers_exact_line(spark):
    from smartdatapipeline_spark.operators.forecast import ols_trend

    # one event per day, value = 2*x + 1 exactly → slope 2, intercept 1
    rows = [
        (dt.datetime(2024, 1, 1 + x), "m", 2.0 * x + 1.0) for x in range(20)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    r = ols_trend(ev).collect()[0]
    assert r["n_days"] == 20
    assert r["slope"] == 2.0
    assert r["intercept"] == 1.0


def test_ols_trend_single_day_is_null(spark):
    from smartdatapipeline_spark.operators.forecast import ols_trend

    ev = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "m", 5.0)],
        "ts timestamp, event_type string, value double",
    )
    r = ols_trend(ev).collect()[0]
    assert r["slope"] is None and r["intercept"] is None


def test_activity_streaks_islands(spark):
    from smartdatapipeline_spark.operators.behavior import activity_streaks

    def d(day, hour=3):
        return dt.datetime(2024, 1, day, hour)

    rows = (
        # user 1: days 1,2,3 then 5,6 → streaks 3 and 2
        [(1, d(1)), (1, d(1, 9)), (1, d(2)), (1, d(3)), (1, d(5)), (1, d(6))]
        # user 2: single day
        + [(2, d(10))]
    )
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["user_id"]: r for r in activity_streaks(ev).collect()}
    assert got[1]["active_days"] == 5
    assert got[1]["n_streaks"] == 2
    assert got[1]["longest_streak"] == 3
    assert got[2]["active_days"] == 1 and got[2]["longest_streak"] == 1


def test_conversion_lag_strictly_after_first_view(spark):
    from smartdatapipeline_spark.operators.behavior import conversion_lag

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, at(0), "view"),
        (1, at(100), "purchase"),   # lag 100
        (1, at(50), "purchase"),    # earlier purchase still after view → 50
        (2, at(10), "purchase"),    # purchase BEFORE the first view: no conv
        (2, at(20), "view"),
        (3, at(0), "view"),         # never converts
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = conversion_lag(ev).collect()[0]
    assert r["n_from"] == 3
    assert r["n_converted"] == 1
    assert r["min_lag_s"] == 50 and r["max_lag_s"] == 50
    assert r["conversion_rate"] == 1.0 / 3.0


def test_seasonal_profile_flat_series_has_unit_index(spark):
    from smartdatapipeline_spark.operators.temporal import seasonal_profile

    # 14 consecutive days, 3 events each → every dow index = 1.0
    rows = [
        (dt.datetime(2024, 1, 1 + i, h), "m")
        for i in range(14)
        for h in (1, 2, 3)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = seasonal_profile(ev).collect()
    assert len(out) == 7
    assert {r["dow"] for r in out} == set(range(7))
    for r in out:
        assert r["n_days"] == 2 and r["seasonal_index"] == 1.0
    # 2024-01-01 is a Monday → dow 0 present
    assert all(0 <= r["dow"] <= 6 for r in out)


def test_equi_width_histogram_buckets(spark):
    from smartdatapipeline_spark.functions.sketch import equi_width_histogram

    ev = spark.createDataFrame(
        [(float(v),) for v in range(100)], "value double"
    )
    out = {r["bucket"]: r for r in equi_width_histogram(ev, "value", 10).collect()}
    assert set(out) == set(range(10))
    for b, r in out.items():
        assert r["n"] == 10
        assert r["lo"] == b * 9.9
        assert r["sum_value"] == float(sum(range(10 * b, 10 * b + 10)))
    # max value lands in the LAST bucket, not bucket 10
    assert out[9]["n"] == 10


def test_equi_width_histogram_degenerate_constant(spark):
    from smartdatapipeline_spark.functions.sketch import equi_width_histogram

    ev = spark.createDataFrame([(5.0,)] * 7, "value double")
    out = equi_width_histogram(ev, "value", 10).collect()
    assert len(out) == 1
    assert out[0]["bucket"] == 0 and out[0]["n"] == 7


def test_loops_pin_at_most_their_result(spark):
    """connected_components and pagerank release each superseded
    checkpoint once the next one is materialized: after the result is
    materialized and its plan caches released, a call leaves at most
    ONE more persistent RDD (the result's own checkpoint), at the
    function level and through the registry queries built on them.
    bfs_hops is exempt: its result is the union of its checkpoints."""
    import __spark_entry__ as E
    from smartdatapipeline_spark.cachetrack import release_plan_caches
    from smartdatapipeline_spark.functions import graph as G
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc

    def pinned():
        return set(jsc.getPersistentRDDs().keySet())

    # a 40-edge path: CC needs several rounds, so several checkpoints
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    nodes = spark.range(41).withColumnRenamed("id", "node")
    qs = E.queries()
    calls = {
        "connected_components": lambda: G.connected_components(edges, nodes),
        "pagerank": lambda: G.pagerank(edges, iterations=5),
        **{
            name: (lambda name=name: qs[name](spark, SF_SMALL))
            for name in ("dup_clusters", "canonical_docs", "graph_pagerank")
        },
    }
    for name, call in calls.items():
        before = pinned()
        out = call()
        out.collect()
        release_plan_caches(out)
        grown = pinned() - before
        assert len(grown) <= 1, (name, sorted(grown))
        if name == "connected_components":
            assert G.LAST_CC_ROUNDS >= 3


def test_cc_restores_session_partitions_and_labels_unchanged(spark):
    from smartdatapipeline_spark.functions.graph import connected_components

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20, 30)], "node long")
    got = {
        (r["node"], r["cluster"])
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (30, 30)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_pagerank_and_bfs_restore_session_partitions(spark):
    """The loops leave session conf as they found it."""
    from smartdatapipeline_spark.functions.graph import bfs_hops, pagerank

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    ranks = pagerank(edges, iterations=2)
    assert ranks.count() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    seeds = spark.createDataFrame([(1,)], "node long")
    hops = bfs_hops(edges, seeds, max_hops=3)
    assert {(r["node"], r["hops"]) for r in hops.collect()} == {
        (1, 0),
        (2, 1),
        (3, 1),
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
