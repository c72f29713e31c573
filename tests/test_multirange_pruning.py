"""Multi-predicate manifest stats pruning (r14; r13 VERDICT #4).

``read_table(column_ranges=[(x, lo, hi), (y, lo, hi)])`` ANDs the
ranges: an entry must intersect EVERY predicate to be listed to Spark,
so an (x, y)-z-ordered (or slice-partitioned) table prunes on both
dimensions in one read — previously only one (col, lo, hi) triple was
accepted and the second dimension was a row filter only.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.sources import snapstore as SS


def _grid(spark, id_lo, id_hi, v_lo, v_hi):
    rows = [
        (i, "d1", float(v))
        for i in range(id_lo, id_hi)
        for v in range(v_lo, v_hi, 5)
    ]
    return spark.createDataFrame(rows, "id int, day string, value double")


@pytest.fixture()
def quadrants(spark, tmp_path):
    """Four batches with pairwise-disjoint (id, value) stat boxes."""
    root = str(tmp_path / "t")
    SS.append(_grid(spark, 0, 10, 0, 10), root, "day", stats_cols=("id", "value"))
    SS.append(_grid(spark, 0, 10, 10, 20), root, "day", stats_cols=("id", "value"))
    SS.append(_grid(spark, 10, 20, 0, 10), root, "day", stats_cols=("id", "value"))
    SS.append(_grid(spark, 10, 20, 10, 20), root, "day", stats_cols=("id", "value"))
    return root


def _survivors(root, ranges):
    return len(SS._snapshot_for_read(root, None, None, ranges)[1])


def test_anded_ranges_prune_more_than_either(spark, quadrants):
    root = quadrants
    only_id = _survivors(root, [("id", 0, 9)])
    only_val = _survivors(root, [("value", 0.0, 9.0)])
    both = _survivors(root, [("id", 0, 9), ("value", 0.0, 9.0)])
    assert only_id == 2 and only_val == 2 and both == 1
    got = SS.read_table(
        spark, root, column_ranges=[("id", 0, 9), ("value", 0.0, 9.0)]
    )
    assert len(got.inputFiles()) < len(SS.read_table(spark, root).inputFiles())
    rows = sorted((r["id"], r["value"]) for r in got.collect())
    assert rows == [(i, float(v)) for i in range(10) for v in range(0, 10, 5)]


def test_ranges_compose_with_single_and_rows_filtered(spark, quadrants):
    # the ranges AND together on rows inside surviving batches too
    got = SS.read_table(
        spark, quadrants,
        column_ranges=[("id", 12, 14), ("value", 10.0, 15.0)],
    )
    rows = sorted((r["id"], r["value"]) for r in got.collect())
    assert rows == [(i, v) for i in range(12, 15) for v in (10.0, 15.0)]


def test_open_bounds_and_unknown_stats_conservative(spark, quadrants):
    # open upper bound; a column with no recorded stats never prunes
    got = SS.read_table(
        spark, quadrants, column_ranges=[("id", 15, None), ("day", None, "zzz")]
    )
    assert sorted(set(r["id"] for r in got.collect())) == list(range(15, 20))


def test_ranges_combine_with_where_null(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d1", None), (11, "d1", 11.0)],
        "id int, day string, value double",
    )
    SS.append(df, root, "day", stats_cols=("id", "value"))
    SS.append(_grid(spark, 20, 30, 0, 10), root, "day", stats_cols=("id", "value"))
    got = SS.read_table(
        spark, root, column_ranges=[("id", 0, 10)], where_null="value"
    )
    assert [r["id"] for r in got.collect()] == [2]
    # the fully-populated batch was pruned by its zero null count
    # (inputFiles lists PART files — count distinct batch dirs)
    import os

    assert len({os.path.dirname(f) for f in got.inputFiles()}) == 1


def test_mismatched_ranges_yield_empty_frame(spark, quadrants):
    got = SS.read_table(
        spark, quadrants, column_ranges=[("id", 0, 9), ("value", 100.0, 200.0)]
    )
    assert got.count() == 0
    assert got.columns == ["id", "day", "value"]
