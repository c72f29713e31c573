"""DV-targeted purge — the Delta ``REORG TABLE … APPLY (PURGE)`` analog
(r14; r13 VERDICT #2/#3).

``purge_deletion_vectors`` rewrites ONLY the data files carrying live
deletion-vector positions, folding every sidecar, leaving all other
files untouched byte-for-byte — bounding the takedown-to-physical-
deletion window that the partial-compact-only posture left unbounded
(big anchors kept their sidecars until a FULL OPTIMIZE).
``scheduler.snapshot_maintenance_job`` fires it when ``dv_debt``
crosses its thresholds.
"""
from __future__ import annotations

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


def test_purge_rewrites_only_covered_files(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(10)]), root, "day")
    SS.append(_frame(spark, [(i, "d2", i) for i in range(10, 20)]), root, "day")
    SS.append(_frame(spark, [(i, "d3", i) for i in range(20, 30)]), root, "day")
    before = _data_paths(root)
    SS.delete_where(spark, root, "id = 25", mode="dv")
    v_dv = SS.table_version(root)
    v = SS.purge_deletion_vectors(spark, root)
    assert v > v_dv
    # zero live DVs; exactly ONE data file replaced, the other two intact
    assert SS.dv_debt(root) == {"positions": 0, "sidecars": 0, "covered_files": 0}
    after = _data_paths(root)
    assert len(before & after) == 2 and len(after - before) == 1
    assert _ids(SS.read_table(spark, root)) == [i for i in range(30) if i != 25]
    # the purge is logically empty: CDC across it emits nothing
    assert SS.table_changes(spark, root, v_dv, v).count() == 0
    # time travel still sees the pre-purge (DV-applied) state
    assert _ids(SS.read_table(spark, root, version=v_dv)) == [
        i for i in range(30) if i != 25
    ]


def test_purge_noop_without_dvs(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    v = SS.table_version(root)
    assert SS.purge_deletion_vectors(spark, root) == v


def test_purge_preserves_zorder_pruning(spark, tmp_path):
    """A purged z-batch keeps its __zorder__ envelope (still a valid
    superset) and its column stats — range reads prune and stay
    correct after the purge."""
    root = str(tmp_path / "t")
    SS.append(
        _frame(spark, [(i, f"d{i % 3}", i) for i in range(300)]),
        root, "day", stats_cols=("id",),
    )
    SS.compact(spark, root, target_batches=4, zorder_by=("id", "value"))
    SS.delete_where(spark, root, "id = 42", prune=("id", 42, 42), mode="dv")
    SS.purge_deletion_vectors(spark, root)
    _, live, _ = SS._snapshot(root)
    assert not [e for e in live if SS._is_dv(e)]
    # every live batch still carries a z envelope
    assert all((e["stats"] or {}).get("__zorder__") for e in live)
    got = _ids(SS.read_table(spark, root, column_ranges=[("id", 40, 49)]))
    assert got == [i for i in range(40, 50) if i != 42]
    # pruning still bites: the narrow range reads fewer files than all
    narrow = SS._snapshot_for_read(root, None, None, [("id", 40, 49)])[1]
    assert len(narrow) < len(live)


def test_purge_bounds_anchor_sla_after_partial_compact(spark, tmp_path):
    """The r13 posture kept sidecars on big anchors through partial
    compacts (physical deletion waited for a FULL OPTIMIZE); the purge
    clears exactly that debt, and the anchor's bytes no longer hold the
    deleted row."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(1000)]), root, "day")
    SS.append(_frame(spark, [(2000, "d2", 1), (2001, "d2", 2)]), root, "day")
    SS.delete_where(spark, root, "id IN (5, 2000)", mode="dv")
    SS.compact(spark, root, small_only_rows=10)
    assert SS.dv_debt(root)["sidecars"] == 1  # anchor sidecar survived
    SS.purge_deletion_vectors(spark, root)
    assert SS.dv_debt(root)["sidecars"] == 0
    # physical proof: no live parquet byte holds id=5 anymore
    _, live, _ = SS._snapshot(root)
    raw = spark.read.parquet(
        *[os.path.join(root, e["path"]) for e in live]
    )
    assert raw.filter(F.col("id").isin(5, 2000)).count() == 0
    assert _ids(SS.read_table(spark, root)) == [
        i for i in range(1000) if i != 5
    ] + [2001]


def test_purge_drops_stale_sidecars(spark, tmp_path):
    """A sidecar whose target file is already dead (partition deleted)
    is stale — the purge drops it without rewriting anything."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1), (2, "d1", 2)]), root, "day")
    SS.append(_frame(spark, [(3, "d2", 3)]), root, "day")
    SS.delete_where(spark, root, "id = 2", mode="dv")
    SS.delete_partitions(spark, root, "day", ["d1"])  # kills the target
    assert SS.dv_debt(root)["sidecars"] == 1
    assert SS.dv_debt(root)["covered_files"] == 0
    before = _data_paths(root)
    SS.purge_deletion_vectors(spark, root)
    assert SS.dv_debt(root)["sidecars"] == 0
    assert _data_paths(root) == before  # nothing rewritten
    assert _ids(SS.read_table(spark, root)) == [3]


def test_purge_idempotency_key_replays(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(5)]), root, "day")
    SS.delete_where(spark, root, "id = 3", mode="dv")
    v = SS.purge_deletion_vectors(spark, root, idempotency_key="purge-1")
    assert SS.purge_deletion_vectors(spark, root, idempotency_key="purge-1") == v
    assert SS.table_version(root) == v


def test_maintenance_trigger_fires_on_debt(spark, tmp_path):
    """Below both thresholds: no purge commit. Above: the purge lands
    inside the housekeeping run and the debt drops to zero."""
    from smartdatapipeline_spark.plans.scheduler import (
        snapshot_maintenance_job,
    )

    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(1000)]), root, "day")
    SS.append(_frame(spark, [(2000, "d2", 0)]), root, "day")
    SS.delete_where(spark, root, "id IN (1, 2)", mode="dv")
    # partial-compact posture so the compact pass keeps the anchor DV
    below = snapshot_maintenance_job(
        spark, [root], small_only_rows=10, grace_sec=0.0,
        purge_dv_above_positions=10, purge_dv_above_covered_files=16,
    )()
    assert "dv_purged_to_version" not in below[root]
    assert below[root]["dv_debt"]["positions"] == 2
    above = snapshot_maintenance_job(
        spark, [root], small_only_rows=10, grace_sec=0.0,
        purge_dv_above_positions=1, purge_dv_above_covered_files=16,
    )()
    assert "dv_purged_to_version" in above[root]
    assert SS.dv_debt(root)["positions"] == 0
    assert _ids(SS.read_table(spark, root)) == [
        i for i in range(1000) if i not in (1, 2)
    ] + [2000]
