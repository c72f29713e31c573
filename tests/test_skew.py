"""Skew handling: the salted layout for hot keys (``functions/skew.py``)."""
from __future__ import annotations

from pyspark.sql import functions as F


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
    """Synthetic 20% hot user — the salted layout must
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
