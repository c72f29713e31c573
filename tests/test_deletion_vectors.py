"""Deletion vectors — merge-on-read DELETE (r13; r12 VERDICT #2).

``delete_where(..., mode="dv")`` commits a tiny (_file, _pos) position
sidecar instead of rewriting hit files (Delta deletion vectors /
Iceberg position deletes). Semantics must be IDENTICAL to the
copy-on-write path: reads, pruned reads, CDC emission, time travel,
vacuum; the next compact folds sidecars into a clean rewrite.
Reference parity: the same row-targeted corrections the reference
issues as ORM deletes (backend/app/services, takedown endpoints) at
takedown frequency — where rewriting a 1 GB file per 1-row delete is
the scale ceiling.
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


@pytest.fixture()
def store(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _frame(spark, [(i, f"d{i % 3}", i) for i in range(20)])
    SS.append(df, root, "day", stats_cols=("id",))
    SS.append(_frame(spark, [(100, "d9", 1)]), root, "day", stats_cols=("id",))
    return root


def test_dv_delete_read_and_no_rewrite(spark, store):
    _, live0, _ = SS._snapshot(store)
    v = SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    info = SS.commit_info(store, v)
    # no file rewritten, no data batch added — one sidecar only
    assert info["removed_files"] == 0 and info["added_rows"] == 0
    assert info["dv_rows"] == 5  # 0,5,10,15,100
    assert _ids(SS.read_table(spark, store)) == [i for i in range(20) if i % 5]
    # every original data batch still live under its original path
    _, live1, _ = SS._snapshot(store)
    data1 = {e["path"] for e in live1 if not SS._is_dv(e)}
    assert {e["path"] for e in live0} <= data1


def test_dv_matches_cow_bit_for_bit(spark, tmp_path):
    rows = [(i, f"d{i % 4}", i * 1.5) for i in range(50)]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for root in (a, b):
        SS.append(_frame(spark, rows[:30]), root, "day", stats_cols=("id",))
        SS.append(_frame(spark, rows[30:]), root, "day", stats_cols=("id",))
    SS.delete_where(spark, a, "id % 7 = 0", mode="cow")
    SS.delete_where(spark, b, "id % 7 = 0", mode="dv")
    va = sorted(map(tuple, SS.read_table(spark, a).collect()))
    vb = sorted(map(tuple, SS.read_table(spark, b).collect()))
    assert va == vb


def test_dv_pruned_read_still_applies(spark, store):
    SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    pr = _ids(SS.read_table(spark, store, partition_values=["d0"]))
    assert pr == [i for i in range(20) if i % 3 == 0 and i % 5]
    cr = _ids(SS.read_table(spark, store, column_ranges=[("id", 0, 9)]))
    assert cr == [i for i in range(10) if i % 5]


def test_dv_null_semantics_keep_row(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", None), (3, "d1", 3.0)],
        "id int, day string, value double",
    )
    SS.append(df, root, "day")
    SS.delete_where(spark, root, "value > 5", mode="dv")
    # NULL evaluation keeps the row, same as SQL DELETE and the cow path
    assert _ids(SS.read_table(spark, root)) == [2, 3]


def test_dv_second_delete_never_reemits(spark, store):
    v1 = SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    v2 = SS.delete_where(spark, store, "id % 2 = 0", mode="dv")
    ch = SS.table_changes(spark, store, v1, v2)
    dels = _ids(ch.filter(F.col("_change_type") == "delete"))
    # 100 and 0/10 are already gone — only the NEW deletions surface
    assert dels == [i for i in range(20) if i % 2 == 0 and i % 5 != 0]
    assert ch.filter(F.col("_change_type") == "insert").count() == 0


def test_dv_cdc_exact_deletes(spark, store):
    v0 = SS.table_version(store)
    v1 = SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    ch = SS.table_changes(spark, store, v0, v1)
    assert _ids(ch.filter(F.col("_change_type") == "delete")) == [0, 5, 10, 15, 100]
    assert ch.filter(F.col("_change_type") == "insert").count() == 0


def test_dv_bootstrap_changes_apply_dvs(spark, store):
    SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    boot = SS.table_changes(spark, store, 0)
    assert _ids(boot) == [i for i in range(20) if i % 5]
    assert boot.filter(F.col("_change_type") != "insert").count() == 0


def test_dv_compact_folds_sidecars(spark, store):
    SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    v_dv = SS.table_version(store)
    v_c = SS.compact(spark, store)
    assert v_c == v_dv + 1  # a single-batch table with DVs still purges
    _, live, _ = SS._snapshot(store)
    assert not [e for e in live if SS._is_dv(e)]
    assert _ids(SS.read_table(spark, store)) == [i for i in range(20) if i % 5]
    # the fold is logically empty
    assert SS.table_changes(spark, store, v_dv, v_c).count() == 0


def test_dv_partial_compact_keeps_anchor_sidecars(spark, tmp_path):
    """A DV targeting a BIG batch survives a small-only compact (the
    partial pass must not silently fold it without rewriting its
    target); DVs whose targets were all rewritten are dropped."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(1000)]), root, "day")
    SS.append(_frame(spark, [(2000, "d2", 1), (2001, "d2", 2)]), root, "day")
    SS.append(_frame(spark, [(3000, "d3", 3)]), root, "day")
    SS.delete_where(spark, root, "id IN (5, 2000)", mode="dv")
    SS.compact(spark, root, small_only_rows=10)
    _, live, _ = SS._snapshot(root)
    dvs = [e for e in live if SS._is_dv(e)]
    # the sidecar still covers the big batch (id=5), so it stays live
    assert len(dvs) == 1
    got = _ids(SS.read_table(spark, root))
    assert 5 not in got and 2000 not in got and 3000 in got
    # full compact then folds everything
    SS.compact(spark, root)
    _, live2, _ = SS._snapshot(root)
    assert not [e for e in live2 if SS._is_dv(e)]
    assert _ids(SS.read_table(spark, root)) == got


def test_dv_time_travel_and_as_of(spark, store):
    v_before = SS.table_version(store)
    SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    tt = _ids(SS.read_table(spark, store, version=v_before))
    assert tt == sorted(list(range(20)) + [100])


def test_dv_merge_does_not_resurrect_or_block(spark, store):
    SS.delete_where(spark, store, "id = 4", mode="dv")
    # merge(ignore): key 4 was DELETED — the incoming row must INSERT
    SS.merge(
        _frame(spark, [(4, "d1", 99), (3, "d0", 99)]),
        store, keys=["id"], when_matched="ignore", partition_col="day",
    )
    got = {(r["id"], r["value"]) for r in SS.read_table(spark, store).collect()}
    assert (4, 99.0) in got  # re-inserted
    assert (3, 3.0) in got and (3, 99.0) not in got  # live key 3 ignored


def test_dv_merge_update_rewrite_folds_positions(spark, store):
    SS.delete_where(spark, store, "id = 6", mode="dv")
    # update touches the file holding id=6; the rewrite must not
    # resurrect it
    SS.merge(
        _frame(spark, [(7, "d1", 77)]),
        store, keys=["id"], when_matched="update", partition_col="day",
    )
    got = _ids(SS.read_table(spark, store))
    assert 6 not in got and 7 in got


def test_dv_overwrite_residue_excludes_deleted(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1), (2, "d2", 2), (3, "d2", 3)]), root, "day")
    SS.delete_where(spark, root, "id = 3", mode="dv")
    # overwrite d1: the batch holding d2 rows is rewritten as residue —
    # id=3 must stay deleted
    SS.overwrite_partitions(_frame(spark, [(10, "d1", 10)]), root, "day")
    assert _ids(SS.read_table(spark, root)) == [2, 10]


def test_dv_delete_prune_stats_skip(spark, tmp_path):
    """The dv probe honors the same manifest pruning as cow: files
    whose key-range stats cannot match are never opened."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(100)]), root, "day",
              stats_cols=("id",))
    SS.append(_frame(spark, [(i, "d2", i) for i in range(1000, 1100)]), root, "day",
              stats_cols=("id",))
    SS.delete_where(spark, root, "id = 1050", prune=("id", 1050, 1050), mode="dv")
    _, live, _ = SS._snapshot(root)
    dv = next(e for e in live if SS._is_dv(e))
    tgt_dirs = {os.path.dirname(t) for t in SS._dv_targets(dv)}
    lo_batch = next(
        e["path"] for e in live
        if not SS._is_dv(e) and (e["stats"] or {}).get("id", {}).get("max") == 99
    )
    assert lo_batch not in tgt_dirs
    assert _ids(SS.read_table(spark, root, column_ranges=[("id", 1040, 1060)])) == [
        i for i in range(1040, 1061) if i != 1050
    ]


def test_dv_idempotency_key_replays(spark, store):
    v = SS.delete_where(spark, store, "id = 8", mode="dv", idempotency_key="k1")
    v2 = SS.delete_where(spark, store, "id = 8", mode="dv", idempotency_key="k1")
    assert v == v2
    assert _ids(SS.read_table(spark, store)).count(8) == 0
    # only one sidecar landed
    _, live, _ = SS._snapshot(store)
    assert len([e for e in live if SS._is_dv(e)]) == 1


def test_dv_vacuum_protects_sidecars(spark, store):
    SS.delete_where(spark, store, "id % 5 = 0", mode="dv")
    deleted = SS.vacuum(store, keep_versions=1, grace_sec=0.0)
    _, live, _ = SS._snapshot(store)
    dv = next(e for e in live if SS._is_dv(e))
    assert dv["path"] not in deleted
    assert _ids(SS.read_table(spark, store)) == [i for i in range(20) if i % 5]


def test_dv_streaming_source_emits_exact_deltas(spark, tmp_path):
    """The snapshot change stream replays a DV delete as exact delete
    rows (position-selected), and a later file remove never re-emits
    the DV-deleted positions — signed netting equals the final state."""
    from smartdatapipeline_spark.streaming.snapsource import (
        SnapshotChangeDataSource,
    )

    spark.dataSource.register(SnapshotChangeDataSource)
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, f"d{i % 2}", i) for i in range(10)]), root, "day")
    SS.delete_where(spark, root, "id IN (2, 3)", mode="dv")
    SS.delete_partitions(spark, root, "day", ["d1"])  # removes files w/ dv'd id=3
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("startingVersion", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    net = (
        got.withColumn("_sign", F.when(F.col("_change_type") == "insert", 1).otherwise(-1))
        .groupBy("id")
        .agg(F.sum("_sign").alias("s"))
        .filter(F.col("s") > 0)
    )
    assert _ids(net) == _ids(SS.read_table(spark, root))
    # the dv'd rows were deleted EXACTLY once
    twice = (
        got.filter(F.col("_change_type") == "delete")
        .groupBy("id").count().filter(F.col("count") > 1)
    )
    assert twice.count() == 0


def test_dv_rejects_unknown_mode(spark, store):
    with pytest.raises(ValueError, match="mode"):
        SS.delete_where(spark, store, "id = 1", mode="nope")
