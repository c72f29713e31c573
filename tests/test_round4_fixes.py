"""Regression tests for the round-3 ADVICE findings (all 5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.functions import dedup as DD
from smartdatapipeline_spark.functions.similarity import sign_bucket
from smartdatapipeline_spark.operators import temporal as T
from smartdatapipeline_spark.operators.behavior import attribution_linear

TS = dt.datetime


def test_dedup_pipeline_honors_non_default_id_col(spark):
    """ADVICE medium: is_representative referenced F.col(id_col) on a
    frame whose column is literally 'doc_id' — any non-default id_col
    raised AnalysisException."""
    df = spark.createDataFrame(
        [(1, "the same text here"), (2, "the same text here"), (3, "unique one")],
        "item_id bigint, text string",
    )
    out = DD.dedup_pipeline(df, id_col="item_id")
    rows = {r["item_id"]: r for r in out.collect()}
    release_plan_caches(out)
    assert set(out.columns) == {"item_id", "cluster", "is_representative"}
    assert rows[1]["is_representative"] and not rows[2]["is_representative"]
    assert rows[1]["cluster"] == rows[2]["cluster"] == 1
    assert rows[3]["is_representative"]


def test_range_join_degenerate_and_subsecond_intervals(spark):
    """ADVICE low: end <= start raised in sequence(); an interval
    shorter than 1 s starting on a bucket boundary also raised. Now:
    degenerate matches nothing, sub-second interval still matches."""
    ev = spark.createDataFrame(
        [(TS(2024, 1, 1, 0, 0, 0),), (TS(2024, 1, 1, 12, 0, 0),)], "ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            # degenerate: end == start — must match nothing, not raise
            ("deg", TS(2024, 1, 1, 6, 0, 0), TS(2024, 1, 1, 6, 0, 0)),
            # inverted: end < start — must match nothing, not raise
            ("inv", TS(2024, 1, 2), TS(2024, 1, 1)),
            # sub-second interval starting exactly on the day boundary:
            # [00:00:00.000, 00:00:00.500) covers the midnight event
            ("tiny", TS(2024, 1, 1, 0, 0, 0), TS(2024, 1, 1, 0, 0, 0, 500000)),
            # normal day interval covers both events
            ("day", TS(2024, 1, 1), TS(2024, 1, 2)),
        ],
        "name string, start timestamp, end timestamp",
    )
    got = T.range_join_bucketed(ev, iv, left_ts="ts", start="start", end="end")
    by_name: dict[str, int] = {}
    for r in got.collect():
        by_name[r["name"]] = by_name.get(r["name"], 0) + 1
    assert "deg" not in by_name and "inv" not in by_name
    assert by_name["tiny"] == 1
    assert by_name["day"] == 2


def test_sign_bucket_short_vector_no_ansi_raise(spark):
    """ADVICE low: element_at past the end raised under ANSI; F.get is
    null-safe — missing dims contribute 0 bits."""
    df = spark.createDataFrame(
        [([1.0, -1.0],), ([1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0],)],
        "v array<double>",
    )
    rows = df.select(sign_bucket(F.col("v"), nbits=8).alias("b")).collect()
    assert rows[0]["b"] == 1  # only bit 0 set; dims 2..7 absent -> 0
    assert rows[1]["b"] == 0b11111101


def test_attribution_linear_channel_cap(spark):
    """ADVICE low / judge #7: unbounded per-channel plan width. The
    distinct-collect is now limited and over-cap raises; an explicit
    channels list bypasses discovery."""
    rows = [(1, TS(2024, 1, 1, 0, 0, i), f"ch{i}") for i in range(5)]
    rows.append((1, TS(2024, 1, 1, 0, 30, 0), "purchase"))
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    with pytest.raises(ValueError, match="max_channels"):
        attribution_linear(ev, max_channels=3)
    # explicit channel list: no discovery collect, subset semantics
    got = {
        r["channel"]: r["total_credit"]
        for r in attribution_linear(ev, channels=["ch0", "ch1"]).collect()
    }
    assert got["ch0"] == pytest.approx(0.5)
    assert got["ch1"] == pytest.approx(0.5)


def test_minhash_caches_released(spark):
    """ADVICE low: signature caches pinned for app lifetime. After
    release_plan_caches, no RDD from this plan stays persisted."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = DD.minhash_candidate_pairs(df)
    assert out.count() >= 0
    assert set(jsc.getPersistentRDDs().keySet()) - before, (
        "minhash plan should read its signature cache"
    )
    release_plan_caches(out)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    # idempotent
    release_plan_caches(out)
