"""Round-14 second wave: partition-scoped OPTIMIZE, ANALYZE stats
backfill, CHECK constraints, and multi-range delete pruning.

- ``compact(partition_values=…)`` — the Delta ``OPTIMIZE … WHERE``
  form: maintenance rewrites only the named partitions' batches.
- ``analyze_table`` — ``ANALYZE TABLE … COMPUTE STATISTICS FOR
  COLUMNS``: manifest stats backfilled with zero data movement, CDC-
  transparent, enabling pruning on tables ingested before the stats
  discipline.
- ``add/drop_check_constraint`` — Delta CHECK constraints: writes
  reject violating batches at the storage layer (TRUE-or-NULL passes,
  FALSE violates), validated inside the write's existing stats
  aggregate.
- ``delete_where(prune=[(col, lo, hi), …])`` — ANDed candidate
  pruning, symmetric with ``read_table(column_ranges=…)``.
"""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.sources import snapstore as SS


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, d, float(v)) for i, d, v in rows], "id int, day string, value double"
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _data_paths(root):
    _, live, _ = SS._snapshot(root)
    return {e["path"] for e in live if not SS._is_dv(e)}


# ------------------------------------------------- OPTIMIZE WHERE


def test_compact_partition_scoped(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(3):  # three small d1 batches + two d2 batches
        SS.append(_frame(spark, [(b * 10 + i, "d1", i) for i in range(3)]), root, "day")
    for b in range(2):
        SS.append(_frame(spark, [(100 + b * 10 + i, "d2", i) for i in range(3)]), root, "day")
    before = _data_paths(root)
    d2_before = {
        e["path"]
        for e in SS._snapshot(root)[1]
        if e.get("values") == ["d2"]
    }
    v = SS.compact(spark, root, partition_values=["d1"])
    after = _data_paths(root)
    # d2 batches untouched byte-for-byte; d1's three merged into one
    assert d2_before <= after
    assert len(after) == len(d2_before) + 1
    assert len(before - after) == 3
    assert _ids(SS.read_table(spark, root)) == sorted(
        [b * 10 + i for b in range(3) for i in range(3)]
        + [100 + b * 10 + i for b in range(2) for i in range(3)]
    )
    # logically empty
    assert SS.table_changes(spark, root, v - 1, v).count() == 0


def test_compact_partition_scope_composes_with_small_only(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(500)]), root, "day")
    SS.append(_frame(spark, [(1000, "d1", 1)]), root, "day")
    SS.append(_frame(spark, [(1001, "d1", 2)]), root, "day")
    SS.append(_frame(spark, [(2000, "d2", 1)]), root, "day")
    before = _data_paths(root)
    SS.compact(spark, root, partition_values=["d1"], small_only_rows=10)
    after = _data_paths(root)
    # the two small d1 batches merged; big d1 anchor and small d2 untouched
    assert len(before & after) == 2
    assert len(after) == 3 and len(before) == 4
    assert _ids(SS.read_table(spark, root)) == list(range(500)) + [
        1000, 1001, 2000
    ]


def test_compact_partition_scope_rejects_zorder(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    with pytest.raises(ValueError, match="partition_values"):
        SS.compact(spark, root, partition_values=["d1"], zorder_by=("id", "value"))


# ------------------------------------------------------- ANALYZE


def test_analyze_backfills_stats_without_rewrite(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(10)]), root, "day")
    SS.append(_frame(spark, [(i, "d2", i) for i in range(100, 110)]), root, "day")
    assert all(
        not (e.get("stats") or {}).get("id") for e in SS._snapshot(root)[1]
    )
    before = _data_paths(root)
    v = SS.analyze_table(spark, root, ("id",))
    assert _data_paths(root) == before  # zero data movement
    _, live, _ = SS._snapshot(root)
    stats = {e["path"]: e["stats"]["id"] for e in live}
    assert {(s["min"], s["max"]) for s in stats.values()} == {(0, 9), (100, 109)}
    # pruning now bites
    narrow = SS._snapshot_for_read(root, None, None, [("id", 0, 9)])[1]
    assert len(narrow) == 1
    assert _ids(SS.read_table(spark, root, column_ranges=[("id", 0, 9)])) == list(range(10))
    # CDC-transparent
    assert SS.table_changes(spark, root, v - 1, v).count() == 0
    # idempotent: nothing left to do
    assert SS.analyze_table(spark, root, ("id",)) == v


def test_analyze_across_checkpoint_no_duplicates(spark, tmp_path):
    """The analyze re-add of a checkpointed path must REPLACE the
    checkpoint row in the Arrow read path, not duplicate the batch."""
    root = str(tmp_path / "t")
    for i in range(SS._CHECKPOINT_INTERVAL):
        SS.append(_frame(spark, [(i, f"d{i}", i)]), root, "day")
    assert SS._list_log(root)[1], "expected a checkpoint"
    SS.analyze_table(spark, root, ("id",))
    got = _ids(SS.read_table(spark, root))
    assert got == list(range(SS._CHECKPOINT_INTERVAL))  # no dups
    narrow = SS.read_table(spark, root, column_ranges=[("id", 2, 3)])
    assert _ids(narrow) == [2, 3]


def test_analyze_preserves_existing_and_reserved_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(
        _frame(spark, [(i, "d1", i) for i in range(50)]),
        root, "day", stats_cols=("value",),
    )
    SS.compact(spark, root, zorder_by=("id", "value"))
    _, live0, _ = SS._snapshot(root)
    z0 = {e["path"]: e["stats"]["__zorder__"] for e in live0}
    SS.analyze_table(spark, root, ("id", "value"))
    _, live1, _ = SS._snapshot(root)
    for e in live1:
        assert e["stats"]["__zorder__"] == z0[e["path"]]  # reserved kept
        assert "id" in e["stats"] and "value" in e["stats"]


def test_analyze_dv_covered_stats_are_superset(spark, tmp_path):
    """Stats describe RAW file contents — DV-deleted rows included — a
    superset envelope that is always prune-safe."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(10)]), root, "day")
    SS.delete_where(spark, root, "id = 9", mode="dv")
    SS.analyze_table(spark, root, ("id",))
    _, live, _ = SS._snapshot(root)
    data = [e for e in live if not SS._is_dv(e)]
    assert data[0]["stats"]["id"]["max"] == 9  # raw envelope
    # the deleted row stays deleted through the analyzed read
    assert _ids(SS.read_table(spark, root, column_ranges=[("id", 5, 9)])) == [5, 6, 7, 8]


# ---------------------------------------------------- CHECK constraints


def test_constraint_rejects_violating_append(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    SS.add_check_constraint(spark, root, "value_nonneg", "value >= 0")
    with pytest.raises(SS.ConstraintViolationError, match="value_nonneg"):
        SS.append(_frame(spark, [(2, "d2", -5)]), root, "day")
    assert _ids(SS.read_table(spark, root)) == [1]  # nothing landed
    SS.append(_frame(spark, [(3, "d3", 3)]), root, "day")
    assert _ids(SS.read_table(spark, root)) == [1, 3]
    # drop: the gate opens
    SS.drop_check_constraint(root, "value_nonneg")
    SS.append(_frame(spark, [(4, "d4", -1)]), root, "day")
    assert _ids(SS.read_table(spark, root)) == [1, 3, 4]


def test_constraint_null_passes_sql_semantics(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    SS.add_check_constraint(spark, root, "v_pos", "value > 0")
    withnull = spark.createDataFrame(
        [(2, "d2", None)], "id int, day string, value double"
    )
    SS.append(withnull, root, "day")  # NULL evaluation passes CHECK
    assert _ids(SS.read_table(spark, root)) == [1, 2]


def test_constraint_add_validates_existing_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", -3)]), root, "day")
    with pytest.raises(SS.ConstraintViolationError, match="existing"):
        SS.add_check_constraint(spark, root, "v_nonneg", "value >= 0")
    assert SS.table_constraints(root) == {}
    # validate=False forces it on (future writes gated, history grandfathered)
    SS.add_check_constraint(spark, root, "v_nonneg", "value >= 0", validate=False)
    assert SS.table_constraints(root) == {"v_nonneg": "value >= 0"}


def test_constraint_gates_merge_and_overwrite(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    SS.add_check_constraint(spark, root, "v_nonneg", "value >= 0")
    with pytest.raises(SS.ConstraintViolationError):
        SS.merge(_frame(spark, [(1, "d1", -9)]), root, keys=["id"],
                 when_matched="update", partition_col="day")
    with pytest.raises(SS.ConstraintViolationError):
        SS.overwrite_partitions(_frame(spark, [(5, "d1", -1)]), root, "day")
    assert {r["value"] for r in SS.read_table(spark, root).collect()} == {1.0}


def test_constraints_survive_checkpoint_and_log_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    SS.add_check_constraint(spark, root, "v_nonneg", "value >= 0")
    for i in range(SS._CHECKPOINT_INTERVAL * 2):
        SS.append(_frame(spark, [(10 + i, f"x{i}", i)]), root, "day")
    SS.vacuum_log(root, keep_versions=2)
    assert SS.table_constraints(root) == {"v_nonneg": "value >= 0"}
    with pytest.raises(SS.ConstraintViolationError):
        SS.append(_frame(spark, [(99, "d9", -1)]), root, "day")


def test_constraint_idempotent_re_add_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    v1 = SS.add_check_constraint(spark, root, "c1", "value >= 0")
    assert SS.add_check_constraint(spark, root, "c1", "value >= 0") == v1
    # time-travel resolution: before the constraint there was none
    assert SS.table_constraints(root, version=v1 - 1) == {}
    assert SS.table_constraints(root, version=v1) == {"c1": "value >= 0"}


# ------------------------------------------- delete_where multi-prune


def test_delete_where_multi_range_prune(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(
        spark.createDataFrame(
            [(i, "d1", float(v)) for i in range(10) for v in (1, 20)],
            "id int, day string, value double",
        ),
        root, "day", stats_cols=("id", "value"),
    )
    SS.append(
        spark.createDataFrame(
            [(i, "d2", float(v)) for i in range(100, 110) for v in (1, 20)],
            "id int, day string, value double",
        ),
        root, "day", stats_cols=("id", "value"),
    )
    before = _data_paths(root)
    SS.delete_where(
        spark, root, "id = 105 AND value = 20",
        prune=[("id", 105, 105), ("value", 20.0, 20.0)],
    )
    after = _data_paths(root)
    # only the d2 batch was touched
    assert len(before & after) == 1
    got = SS.read_table(spark, root)
    assert got.filter("id = 105").count() == 1  # the value=1 row stays
    assert got.count() == 39
