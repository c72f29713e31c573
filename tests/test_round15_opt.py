"""Round-15 optimization wave 1: scale-adaptive shuffle partitions for
the iterative graph loops (r14 VERDICT next-round #1).

``session.loop_shuffle_partitions`` mirrors ``stream_state_partitions``:
the loop body's per-round shuffles run at a partition count derived
from the loop-invariant frame's row volume (1 per 262,144 rows, capped
at the core count) instead of inheriting the batch-sized session
default — the measured cause of canonical_docs anti-scaling (15.1 s @32c vs
8.3 s @8c on identical code). ``loop_partitions`` is the set/restore
context manager every loop (CC, PageRank, BFS) wraps its body in.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions import graph as G
from smartdatapipeline_spark.session import loop_partitions, loop_shuffle_partitions


def test_loop_partitions_scale_with_rows(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOOP_PARTS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    # small frames don't pay for reducers they can't feed
    assert loop_shuffle_partitions(0) == 1
    assert loop_shuffle_partitions(5_000) == 1
    assert loop_shuffle_partitions(262_144) == 1
    assert loop_shuffle_partitions(262_145) == 2
    # linear growth: 1 partition per 256k rows …
    assert loop_shuffle_partitions(16 * 262_144) == 16
    # … until the core count caps it (a 10^10-edge graph saturates)
    assert loop_shuffle_partitions(64 * 262_144) == 32
    assert loop_shuffle_partitions(10**10) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert loop_shuffle_partitions(10**10) == 8


def test_loop_partitions_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOOP_PARTS", "13")
    assert loop_shuffle_partitions(10) == 13
    assert loop_shuffle_partitions(10**10) == 13


def test_loop_partitions_context_sets_and_restores(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOOP_PARTS", raising=False)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with loop_partitions(spark, 100) as parts:
        assert parts == loop_shuffle_partitions(100)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with loop_partitions(spark, 100):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_cc_restores_session_partitions_and_labels_unchanged(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20, 30)], "node long")
    got = {
        (r["node"], r["cluster"])
        for r in G.connected_components(edges, nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (30, 30)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_layout_salt_threshold():
    from smartdatapipeline_spark.functions.skew import layout_salt

    # near-uniform key: hottest key ≪ a partition's share — no salt
    assert layout_salt(top1_share=1e-4, num_partitions=32) == 0
    # 20% hot key on 32 partitions: 6.4× a partition's share — salt
    assert layout_salt(top1_share=0.20, num_partitions=32) == 8
    assert layout_salt(top1_share=0.20, num_partitions=32, salt=16) == 16
    # the same 20% key on 8 partitions is only 1.6× — plain layout holds
    assert layout_salt(top1_share=0.20, num_partitions=8) == 0


def test_salted_layout_bounds_hot_key(spark):
    """r14 VERDICT #8: synthetic 20% hot user — the salted layout must
    bound the largest partition (the task-time proxy) while the plain
    hash layout concentrates the hot key on one partition; row multiset
    identical either way."""
    from smartdatapipeline_spark.functions.skew import salted_layout

    n = 10_000
    df = spark.range(n).select(
        F.when(F.col("id") % 5 == 0, F.lit(7))
        .otherwise(F.col("id"))
        .alias("user_id"),
        F.col("id").alias("ts"),
    )

    def part_counts(frame):
        return [
            r["c"]
            for r in frame.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]

    plain = part_counts(salted_layout(df, 8, "user_id", salt=0, salt_from="ts"))
    salted = part_counts(salted_layout(df, 8, "user_id", salt=8, salt_from="ts"))
    # plain: one partition owns at least the whole hot key (2000 rows)
    assert max(plain) >= n // 5
    # salted: hot key spread — max partition bounded near the mean
    assert max(salted) < (n // 5)
    assert max(salted) <= 3 * (n // 8)
    # same rows either way (layout is not observable)
    base = sorted(r["user_id"] for r in df.collect())
    got = sorted(
        r["user_id"]
        for r in salted_layout(df, 8, "user_id", salt=8, salt_from="ts").collect()
    )
    assert got == base


def test_pagerank_and_bfs_restore_session_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    ranks = G.pagerank(edges, iterations=2)
    assert ranks.count() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    seeds = spark.createDataFrame([(1,)], "node long")
    hops = G.bfs_hops(edges, seeds, max_hops=3)
    assert {(r["node"], r["hops"]) for r in hops.collect()} == {
        (1, 0),
        (2, 1),
        (3, 1),
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
