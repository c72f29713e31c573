"""Incremental z-order maintenance (r13; r12 VERDICT #1):
``compact(zorder_by=…, small_only_rows=N)`` z-keys ONLY the day's new
small batches on the lattice the last full ZORDER pass recorded, splits
them at the existing z-batches' extents, and leaves the big z-batches
untouched byte-for-byte — nightly maintenance on a z-ordered production
table costs O(day's ingest), not a full rewrite.
"""
from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.sources import snapstore as SS


def _mk_rows(seed, n, lo=0.0, hi=100.0):
    rnd = random.Random(seed)
    return [
        (f"2024-01-{1 + i % 4:02d}", float(rnd.uniform(lo, hi)), float(rnd.uniform(lo, hi)))
        for i in range(n)
    ]


def _batch_files(root, entry):
    d = os.path.join(root, entry["path"])
    return {
        f: os.stat(os.path.join(d, f)).st_mtime_ns
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }


def _setup_zordered(spark, root, n_anchor=4000, n_day=3):
    """Full z-compact over a base corpus, then n_day small appends."""
    base = spark.createDataFrame(_mk_rows(7, n_anchor), "d string, x double, y double")
    for i in range(4):
        SS.append(
            base.filter((F.crc32(F.concat_ws("|", "d", "x", "y")) % 4) == i),
            root, "d", stats_cols=("x", "y"),
        )
    SS.compact(spark, root, target_batches=4, zorder_by=("x", "y"))
    day_rows = []
    for j in range(n_day):
        rows = _mk_rows(100 + j, 120)
        day_rows.extend(rows)
        SS.append(
            spark.createDataFrame(rows, "d string, x double, y double"),
            root, "d", stats_cols=("x", "y"),
        )
    return base, day_rows


def test_full_zorder_records_lattice_metadata(spark, tmp_path):
    root = str(tmp_path / "t")
    _setup_zordered(spark, root, n_day=0)
    _, live, _ = SS._snapshot(root)
    zb = [e for e in live if (e["stats"] or {}).get("__zorder__")]
    assert len(zb) == len(live) and 2 <= len(zb) <= 4
    for e in zb:
        zm = e["stats"]["__zorder__"]
        assert zm["cols"] == ["x", "y"] and zm["bits"] == 8
        assert set(zm["domain"]) == {"x", "y"}
        assert zm["z"][0] <= zm["z"][1]
    # extents are disjoint in z-space (they came from one range split)
    exts = sorted(tuple(e["stats"]["__zorder__"]["z"]) for e in zb)
    for (a0, a1), (b0, b1) in zip(exts, exts[1:]):
        assert a1 < b0


def test_partial_zorder_leaves_anchors_untouched(spark, tmp_path):
    root = str(tmp_path / "t")
    base, day_rows = _setup_zordered(spark, root)
    _, live0, _ = SS._snapshot(root)
    anchors0 = [e for e in live0 if (e["stats"] or {}).get("__zorder__")]
    smalls0 = [e for e in live0 if not (e["stats"] or {}).get("__zorder__")]
    assert anchors0 and len(smalls0) == 3
    before = {e["path"]: _batch_files(root, e) for e in anchors0}

    v0 = SS.table_version(root)
    v = SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=500)
    assert v == v0 + 1

    _, live1, _ = SS._snapshot(root)
    paths1 = {e["path"] for e in live1}
    # every anchor still live under its original path, bytes untouched
    for e in anchors0:
        assert e["path"] in paths1
        assert _batch_files(root, e) == before[e["path"]]
    # the small ingest batches are gone
    assert not ({e["path"] for e in smalls0} & paths1)
    # contents preserved exactly
    got = sorted((r["d"], r["x"], r["y"]) for r in SS.read_table(spark, root).collect())
    want = sorted([(d, x, y) for d, x, y in base.collect()] + day_rows)
    assert got == want
    # CDC across the partial pass is empty (compact is logically empty)
    assert SS.table_changes(spark, root, v0, v).count() == 0


def test_partial_zorder_preserves_column_pruning(spark, tmp_path):
    """Post-partial-pass, a narrow predicate on either clustered column
    still skips most batches at the manifest level — the new small
    sub-batches carry envelopes nested in their anchors'."""
    root = str(tmp_path / "t")
    _setup_zordered(spark, root)
    SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=500)
    _, live, _ = SS._snapshot(root)

    def listed(col, lo, hi):
        return [e for e in live if SS._stats_intersect(e, col, lo, hi)]

    assert len(listed("x", 10.0, 12.0)) < len(live)
    assert len(listed("y", 90.0, 92.0)) < len(live)
    # pruned read returns exactly the filtered rows
    narrow = SS.read_table(spark, root, column_ranges=[("x", 10.0, 12.0)])
    full = SS.read_table(spark, root).filter(
        (F.col("x") >= 10.0) & (F.col("x") <= 12.0)
    )
    assert narrow.count() == full.count()
    # and reads strictly fewer files than the unpruned scan
    assert len(narrow.inputFiles()) < len(SS.read_table(spark, root).inputFiles())


def test_partial_zorder_sub_batches_carry_metadata(spark, tmp_path):
    """New sub-batches record their own z metadata on the SAME domain,
    so a grown sub-batch anchors future incremental passes."""
    root = str(tmp_path / "t")
    _setup_zordered(spark, root)
    _, live0, _ = SS._snapshot(root)
    dom0 = next(
        e["stats"]["__zorder__"]["domain"]
        for e in live0
        if (e["stats"] or {}).get("__zorder__")
    )
    SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=500)
    _, live1, _ = SS._snapshot(root)
    subs = [
        e
        for e in live1
        if (e["stats"] or {}).get("__zorder__") and e["rows"] <= 500
    ]
    assert subs
    for e in subs:
        assert e["stats"]["__zorder__"]["domain"] == dom0
    # a second day of ingest + a second partial pass works on top
    rows = _mk_rows(999, 150)
    SS.append(
        spark.createDataFrame(rows, "d string, x double, y double"),
        root, "d", stats_cols=("x", "y"),
    )
    v0 = SS.table_version(root)
    SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=500)
    assert SS.table_changes(spark, root, v0, SS.table_version(root)).count() == 0


def test_partial_zorder_bootstrap_without_anchors(spark, tmp_path):
    """A table that was never fully z-ordered: the partial pass
    bootstraps — z-keys the smalls on their own domain and splits into
    target_batches ranges, recording the lattice for future passes."""
    root = str(tmp_path / "t")
    for j in range(3):
        rows = _mk_rows(200 + j, 150)
        SS.append(
            spark.createDataFrame(rows, "d string, x double, y double"),
            root, "d", stats_cols=("x", "y"),
        )
    n_before = SS.read_table(spark, root).count()
    SS.compact(
        spark, root, target_batches=2, zorder_by=("x", "y"), small_only_rows=500
    )
    _, live, _ = SS._snapshot(root)
    assert all((e["stats"] or {}).get("__zorder__") for e in live)
    assert SS.read_table(spark, root).count() == n_before


def test_partial_zorder_noop_when_nothing_small(spark, tmp_path):
    root = str(tmp_path / "t")
    _setup_zordered(spark, root, n_day=0)
    v0 = SS.table_version(root)
    assert SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=10) == v0


def test_scheduler_maintenance_runs_incremental_zorder(spark, tmp_path):
    """The nightly maintenance cron body accepts zorder_by +
    small_only_rows together (r13) — the production posture for a
    z-ordered table (reference anchor: the maintenance cron slot
    backend/app/scheduler/setup.py:22-77 that plans/scheduler.py
    wires)."""
    from smartdatapipeline_spark.plans.scheduler import snapshot_maintenance_job

    root = str(tmp_path / "t")
    _setup_zordered(spark, root)
    _, live0, _ = SS._snapshot(root)
    anchors0 = {e["path"] for e in live0 if (e["stats"] or {}).get("__zorder__")}
    job = snapshot_maintenance_job(
        spark, [root], small_only_rows=500, zorder_by=("x", "y"),
        grace_sec=86_400.0,
    )
    res = job()
    assert "compacted_to_version" in res[root]
    _, live1, _ = SS._snapshot(root)
    assert anchors0 <= {e["path"] for e in live1}  # anchors untouched
    assert all((e["stats"] or {}).get("__zorder__") for e in live1)


def test_partial_zorder_out_of_domain_values_clamp(spark, tmp_path):
    """New rows OUTSIDE the recorded domain clamp to edge lattice cells
    — they land in the extreme extent; correctness (reads, pruning
    conservatism) never depends on the nesting."""
    root = str(tmp_path / "t")
    base, _ = _setup_zordered(spark, root, n_day=0)
    rows = [("2024-01-05", 250.0, -40.0), ("2024-01-05", -10.0, 300.0)]
    SS.append(
        spark.createDataFrame(rows, "d string, x double, y double"),
        root, "d", stats_cols=("x", "y"),
    )
    SS.compact(spark, root, zorder_by=("x", "y"), small_only_rows=500)
    got = sorted((r["d"], r["x"], r["y"]) for r in SS.read_table(spark, root).collect())
    want = sorted([(d, x, y) for d, x, y in base.collect()] + rows)
    assert got == want
    # the out-of-domain read still finds its rows (stats are the batch's
    # own min/max, which DO cover the outliers)
    hi = SS.read_table(spark, root, column_ranges=[("x", 200.0, 300.0)])
    assert hi.count() == 1
