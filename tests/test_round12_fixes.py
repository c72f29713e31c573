"""Round 12: row-level MERGE INTO + DELETE WHERE on the snapshot
table, compact-transparent batch CDC, AS OF timestamp time travel,
and the r11-ADVICE crash-safety/grain fixes to the CDC refresh."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.sources import snapstore as SS


def _frame(spark, rows):
    """rows: (id, day, value)."""
    return spark.createDataFrame(
        [(i, d, float(v)) for i, d, v in rows], "id int, day string, value double"
    )


def _rows(df):
    return sorted(map(tuple, df.select("id", "day", "value").collect()))


# --------------------------------------------------------------- MERGE INTO


def test_merge_ignore_matches_antijoin_append(spark, tmp_path):
    """merge(ignore) == the pipeline's read→anti-join→append dance,
    bit-exactly — the reference's ON CONFLICT DO NOTHING at the
    storage layer (backend/app/services/ingestion.py:214-227)."""
    root = str(tmp_path / "t")
    base = _frame(spark, [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)])
    SS.append(base, root, "day")
    inc = _frame(spark, [(2, "d1", 99), (3, "d2", 99), (4, "d2", 40), (5, "d3", 50)])
    v = SS.merge(inc, root, keys=["id"], when_matched="ignore", partition_col="day")
    got = _rows(SS.read_table(spark, root))
    # matched keys 2,3 dropped (old values kept); 4,5 inserted
    assert got == _rows(base.unionByName(_frame(spark, [(4, "d2", 40), (5, "d3", 50)])))
    info = SS.commit_info(root, v)
    assert info["kind"] == "merge" and info["added_rows"] == 2
    assert info["removed_files"] == 0  # ignore never rewrites a file


def test_merge_update_replaces_matched_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20)]), root, "day")
    SS.append(_frame(spark, [(3, "d2", 30), (4, "d2", 40)]), root, "day")
    inc = _frame(spark, [(2, "d1", 99), (5, "d1", 50)])
    SS.merge(inc, root, keys=["id"], when_matched="update", partition_col="day")
    got = _rows(SS.read_table(spark, root))
    assert got == [
        (1, "d1", 10.0),
        (2, "d1", 99.0),
        (3, "d2", 30.0),
        (4, "d2", 40.0),
        (5, "d1", 50.0),
    ]
    # only the d1 batch was rewritten — the d2 batch's file is untouched
    kinds = [(h["kind"], h["replaced"]) for h in SS.history(root)]
    assert kinds[-1] == ("merge", ["d1"])


def test_merge_update_prunes_by_key_stats(spark, tmp_path):
    """Files whose recorded key range cannot intersect the incoming
    batch are never read NOR rewritten — the O(overlap) scale path."""
    root = str(tmp_path / "t")
    SS.append(
        _frame(spark, [(i, "d1", i) for i in range(100, 110)]),
        root, "day", stats_cols=("id",),
    )
    SS.append(
        _frame(spark, [(i, "d1", i) for i in range(200, 210)]),
        root, "day", stats_cols=("id",),
    )
    before = {e["path"] for e in SS._snapshot(root)[1]}
    SS.merge(
        _frame(spark, [(205, "d1", 0), (300, "d1", 0)]),
        root, keys=["id"], when_matched="update", partition_col="day",
    )
    after = {e["path"] for e in SS._snapshot(root)[1]}
    # the 100-109 batch survived untouched; the 200-209 batch was rewritten
    low_batch = [p for p in before if p in after]
    assert len(low_batch) == 1
    got = _rows(SS.read_table(spark, root))
    assert (205, "d1", 0.0) in got and (300, "d1", 0.0) in got
    assert (205, "d1", 205.0) not in got
    assert sum(1 for r in got if r[0] == 105) == 1


def test_merge_partition_scoped_matching(spark, tmp_path):
    """With partition_col set, a key matches only WITHIN the incoming
    batch's partitions — a same-key row in an untouched partition is
    neither updated nor deduped against (the documented contract that
    keeps merge O(batch-partitions))."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (1, "d2", 20)]), root, "day")
    SS.merge(
        _frame(spark, [(1, "d1", 99)]),
        root, keys=["id"], when_matched="update", partition_col="day",
    )
    got = _rows(SS.read_table(spark, root))
    assert got == [(1, "d1", 99.0), (1, "d2", 20.0)]


def test_merge_null_keys_never_match(spark, tmp_path):
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(None, "d1", 1.0), (2, "d1", 2.0)], "id int, day string, value double"
    )
    SS.append(base, root, "day")
    inc = spark.createDataFrame(
        [(None, "d1", 9.0)], "id int, day string, value double"
    )
    SS.merge(inc, root, keys=["id"], when_matched="update", partition_col="day")
    got = sorted(SS.read_table(spark, root).select("value").rdd.map(lambda r: r[0]).collect())
    # NULL never matches: both null-key rows present, row 2 untouched
    assert got == [1.0, 2.0, 9.0]


def test_merge_into_empty_table_appends(spark, tmp_path):
    root = str(tmp_path / "t")
    inc = _frame(spark, [(1, "d1", 1)])
    SS.merge(inc, root, keys=["id"], when_matched="ignore", partition_col="day")
    assert _rows(SS.read_table(spark, root)) == [(1, "d1", 1.0)]


def test_merge_idempotency_key_replays(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    inc = _frame(spark, [(1, "d1", 99), (2, "d1", 20)])
    v1 = SS.merge(inc, root, keys=["id"], when_matched="update",
                  partition_col="day", idempotency_key="m1")
    v2 = SS.merge(inc, root, keys=["id"], when_matched="update",
                  partition_col="day", idempotency_key="m1")
    assert v1 == v2 == SS.table_version(root)
    assert _rows(SS.read_table(spark, root)) == [(1, "d1", 99.0), (2, "d1", 20.0)]


def test_merge_conflicts_with_concurrent_same_partition_append(spark, tmp_path):
    """An append landing in the merge's claimed partitions between its
    snapshot and its commit could hold the very keys the merge deduped
    against — the merge must fail, not silently double-apply."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    inc = _frame(spark, [(2, "d1", 20)])

    orig = SS._try_claim
    state = {"raced": False}

    def racy_claim(r, version, payload):
        if not state["raced"] and payload.get("kind") == "merge":
            state["raced"] = True
            SS.append(_frame(spark, [(2, "d1", 777)]), root, "day")
        return orig(r, version, payload)

    SS._try_claim = racy_claim
    try:
        with pytest.raises(SS.ConcurrentWriteError):
            SS.merge(inc, root, keys=["id"], when_matched="ignore",
                     partition_col="day")
    finally:
        SS._try_claim = orig


def test_merge_proceeds_past_disjoint_append(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    inc = _frame(spark, [(2, "d1", 20)])

    orig = SS._try_claim
    state = {"raced": False}

    def racy_claim(r, version, payload):
        if not state["raced"] and payload.get("kind") == "merge":
            state["raced"] = True
            SS.append(_frame(spark, [(9, "d9", 90)]), root, "day")
        return orig(r, version, payload)

    SS._try_claim = racy_claim
    try:
        SS.merge(inc, root, keys=["id"], when_matched="ignore", partition_col="day")
    finally:
        SS._try_claim = orig
    got = _rows(SS.read_table(spark, root))
    assert got == [(1, "d1", 10.0), (2, "d1", 20.0), (9, "d9", 90.0)]


def test_merge_cdc_feed_nets_to_table_state(spark, tmp_path):
    """table_changes across an update-merge reports the NET row changes
    — moved (rewritten-unchanged) rows cancel, matched rows surface as
    delete(old)+insert(new)."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20)]), root, "day")
    SS.merge(
        _frame(spark, [(2, "d1", 99), (3, "d1", 30)]),
        root, keys=["id"], when_matched="update", partition_col="day",
    )
    ch = SS.table_changes(spark, root, 1, 2)
    got = sorted(
        map(tuple, ch.select("id", "day", "value", "_change_type").collect())
    )
    assert got == [
        (2, "d1", 20.0, "delete"),
        (2, "d1", 99.0, "insert"),
        (3, "d1", 30.0, "insert"),
    ]


# -------------------------------------------------------------- DELETE WHERE


def test_delete_where_removes_only_matching_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20)]), root, "day")
    SS.append(_frame(spark, [(3, "d2", 30), (4, "d2", 40)]), root, "day")
    SS.delete_where(spark, root, "id = 2 OR value >= 40")
    assert _rows(SS.read_table(spark, root)) == [(1, "d1", 10.0), (3, "d2", 30.0)]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate evaluation KEEPS the row."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1", None), (2, "d1", 5.0)], "id int, day string, value double"
    )
    SS.append(df, root, "day")
    SS.delete_where(spark, root, "value > 1")
    got = sorted(map(tuple, SS.read_table(spark, root).select("id").collect()))
    assert got == [(1,)]


def test_delete_where_rewrites_only_files_with_matches(spark, tmp_path):
    """The GDPR path at scale: with key stats recorded, a single-user
    takedown rewrites only the files whose id range covers the user."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(10)]),
              root, "day", stats_cols=("id",))
    SS.append(_frame(spark, [(i, "d1", i) for i in range(100, 110)]),
              root, "day", stats_cols=("id",))
    before = {e["path"] for e in SS._snapshot(root)[1]}
    SS.delete_where(spark, root, "id = 105", prune=("id", 105, 105))
    after = {e["path"] for e in SS._snapshot(root)[1]}
    assert len(before & after) == 1  # the 0-9 file survived untouched
    got = [r[0] for r in SS.read_table(spark, root).select("id").collect()]
    assert 105 not in got and len(got) == 19


def test_delete_where_no_match_is_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    v = SS.table_version(root)
    assert SS.delete_where(spark, root, "id = 999") == v
    assert SS.table_version(root) == v


def test_delete_where_idempotent_retry(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20)]), root, "day")
    v1 = SS.delete_where(spark, root, "id = 1", idempotency_key="gdpr-1")
    v2 = SS.delete_where(spark, root, "id = 1", idempotency_key="gdpr-1")
    assert v1 == v2 and _rows(SS.read_table(spark, root)) == [(2, "d1", 20.0)]


def test_delete_where_cdc_emits_deletes_only(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)]),
              root, "day")
    SS.delete_where(spark, root, "id <= 2")
    ch = SS.table_changes(spark, root, 1, 2)
    got = sorted(map(tuple, ch.select("id", "_change_type").collect()))
    assert got == [(1, "delete"), (2, "delete")]


def test_delete_where_vacuum_keeps_current_files(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d1", 20)]), root, "day")
    SS.delete_where(spark, root, "id = 1")
    deleted = SS.vacuum(root, keep_versions=1, grace_sec=0.0)
    # the pre-delete batch is reclaimable; the residue batch survives
    assert len(deleted) == 1
    assert _rows(SS.read_table(spark, root)) == [(2, "d1", 20.0)]


# ------------------------------------------------- compact-transparent CDC


def test_table_changes_skips_compact_spanning_window(spark, tmp_path):
    """A refresh window spanning scheduled compaction reads ZERO compact
    files — the r11 'compact right after refresh' footgun is gone."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")          # v1
    SS.append(_frame(spark, [(2, "d2", 20)]), root, "day")          # v2
    SS.compact(spark, root)                                          # v3
    SS.append(_frame(spark, [(3, "d3", 30)]), root, "day")          # v4
    ch = SS.table_changes(spark, root, 2, 4)
    got = sorted(map(tuple, ch.select("id", "_change_type").collect()))
    assert got == [(3, "insert")]
    # the plan read ONLY v4's batch — no compact output, no pre-window files
    files = ch.inputFiles()
    v4_adds = [
        a["path"]
        for a in SS._read_json(
            os.path.join(SS._log_path(root), SS._vname(4)))["actions"]
        if a["op"] == "add"
    ]
    assert files and all(any(p in f for p in v4_adds) for f in files)


def test_table_changes_pure_compact_window_is_empty_and_cheap(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(i, "d1", i) for i in range(50)]), root, "day")
    SS.append(_frame(spark, [(i, "d2", i) for i in range(50, 100)]), root, "day")
    SS.compact(spark, root)
    ch = SS.table_changes(spark, root, 2, 3)
    assert ch.count() == 0
    assert ch.inputFiles() == []  # no data files read at all


def test_table_changes_across_overwrite_and_compact(spark, tmp_path):
    """Mixed window: overwrite of d1 + compaction + append — the feed
    still nets to the logical delta, reading no full-table rewrite."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10), (2, "d2", 20)]), root, "day")  # v1
    SS.overwrite_partitions(_frame(spark, [(1, "d1", 99)]), root, "day")   # v2
    SS.compact(spark, root)                                                 # v3
    SS.append(_frame(spark, [(3, "d3", 30)]), root, "day")                 # v4
    ch = SS.table_changes(spark, root, 1, 4)
    got = sorted(map(tuple, ch.select("id", "value", "_change_type").collect()))
    assert got == [
        (1, 10.0, "delete"),
        (1, 99.0, "insert"),
        (3, 30.0, "insert"),
    ]


# --------------------------------------------------- AS OF timestamp travel


def test_read_table_as_of_timestamp(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    t_between = SS.history(root)[-1]["timestamp"] + 0.001
    SS.append(_frame(spark, [(2, "d2", 20)]), root, "day")
    assert _rows(SS.read_table(spark, root, as_of=t_between)) == [(1, "d1", 10.0)]
    # datetime and ISO-string operands resolve identically
    as_dt = dt.datetime.fromtimestamp(t_between)
    assert _rows(SS.read_table(spark, root, as_of=as_dt)) == [(1, "d1", 10.0)]
    assert _rows(
        SS.read_table(spark, root, as_of=as_dt.isoformat())
    ) == [(1, "d1", 10.0)]
    # a future timestamp resolves to the latest version
    assert len(_rows(SS.read_table(spark, root, as_of=t_between + 9e5))) == 2


def test_table_changes_by_timestamp_window(spark, tmp_path):
    """'changes since last night' without version bookkeeping: the
    window bounds resolve through recorded commit times."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    t1 = SS.history(root)[-1]["timestamp"]
    SS.append(_frame(spark, [(2, "d2", 20)]), root, "day")
    ch = SS.table_changes(spark, root, from_ts=t1 + 1e-4)
    got = sorted(map(tuple, ch.select("id", "_change_type").collect()))
    assert got == [(2, "insert")]
    # a from_ts before the first commit bootstraps from version 0
    ch0 = SS.table_changes(spark, root, from_ts=t1 - 100.0)
    assert ch0.count() == 2
    with pytest.raises(ValueError):
        SS.table_changes(spark, root, from_version=1, from_ts=t1)


def test_as_of_before_first_commit_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    t0 = SS.history(root)[0]["timestamp"]
    with pytest.raises(SS.NoSuchTableError):
        SS.resolve_as_of(root, t0 - 10.0)
    with pytest.raises(ValueError):
        SS.read_table(spark, root, version=1, as_of=t0)


# ------------------------------------------------------- r11 ADVICE closes


def test_compact_zorder_on_emptied_table_is_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    SS.delete_partitions(spark, root, "day", ["d1"])
    v = SS.table_version(root)
    assert SS.compact(spark, root, zorder_by=("id", "value")) == v


def test_stream_schema_from_emptied_table(spark, tmp_path):
    """A stream can start over a fully-emptied table whose log retains
    replayable history — schema comes from a retained batch."""
    from smartdatapipeline_spark.streaming.snapsource import (
        SnapshotChangeDataSource,
    )

    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    SS.delete_partitions(spark, root, "day", ["d1"])
    src = SnapshotChangeDataSource({"root": root})
    names = [f.name for f in src.schema().fields]
    assert names == ["id", "day", "value", "_change_type", "_commit_version"]


def test_refresh_crash_between_data_and_delete_heals_on_retry(spark, tmp_path):
    """The r12 ADVICE crash window: data commit lands, the process dies
    before the emptied-day delete. Progress must NOT advance, and the
    retry must finish the delete."""
    from smartdatapipeline_spark.operators import pipeline as P

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ev = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1), "m", 10.0, 1),
            (dt.datetime(2025, 1, 2), "m", 5.0, 1),
        ],
        "ts timestamp, metric string, value double, source_id int",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev, silver, "event_date")
    P.refresh_gold_from_changes(spark, silver, gold)
    assert P.last_refreshed_silver_version(gold) == 1
    # correction empties day 2 in silver
    SS.delete_partitions(spark, silver, "event_date", ["2025-01-02"])

    orig = SS.delete_partitions

    def crashing_delete(*a, **k):
        raise RuntimeError("simulated crash before cleanup")

    SS.delete_partitions = crashing_delete
    try:
        with pytest.raises(RuntimeError):
            P.refresh_gold_from_changes(spark, silver, gold)
    finally:
        SS.delete_partitions = orig
    # progress did NOT advance past the crash
    assert P.last_refreshed_silver_version(gold) == 1
    # the retry completes the delete and only then advances progress
    r = P.refresh_gold_from_changes(spark, silver, gold)
    assert r["deleted_days"] == 1
    assert P.last_refreshed_silver_version(gold) == 2
    days = [str(r[0]) for r in SS.read_table(spark, gold).select("metric_date").collect()]
    assert days == ["2025-01-01"]


def test_refresh_grain_mismatch_raises_without_mapping(spark, tmp_path):
    """A weekly-grain aggregate under the default identity contract must
    fail loudly BEFORE anything lands (r12 ADVICE: it used to silently
    mis-target the emptied-day delete)."""
    from smartdatapipeline_spark.operators.pipeline import refresh_from_changes

    silver = str(tmp_path / "silver")
    dest = str(tmp_path / "weekly")
    ev = spark.createDataFrame(
        # a Tuesday: its ISO week starts 2025-01-06 ≠ the day itself
        [(dt.datetime(2025, 1, 7), "m", 1.0)],
        "ts timestamp, metric string, value double",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev, silver, "event_date")

    def weekly(df):
        return df.groupBy(
            F.date_trunc("week", "ts").cast("date").cast("string").alias("week")
        ).agg(F.sum("value").alias("v"))

    with pytest.raises(ValueError, match="grain"):
        refresh_from_changes(
            spark, silver, dest, weekly, dest_partition_col="week"
        )
    assert SS.table_version(dest) == 0  # nothing landed


def test_refresh_coarser_grain_with_mapping(spark, tmp_path):
    """day→ISO-week mapping: a refresh touching ONE day of a week
    recomputes the WHOLE week (slice expansion via the manifest), and a
    correction emptying the week's only data deletes its partition."""
    from smartdatapipeline_spark.operators.pipeline import refresh_from_changes

    silver = str(tmp_path / "silver")
    dest = str(tmp_path / "weekly")

    def week_of(day_str):
        d = dt.date.fromisoformat(day_str)
        return (d - dt.timedelta(days=d.weekday())).isoformat()

    def weekly(df):
        return df.groupBy(
            F.date_trunc("week", "ts").cast("date").cast("string").alias("week")
        ).agg(
            F.sum("value").alias("v"), F.count(F.lit(1)).alias("n")
        )

    def refresh():
        return refresh_from_changes(
            spark, silver, dest, weekly,
            dest_partition_col="week", src_to_dest=week_of,
        )

    ev1 = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 6), "m", 1.0),   # Mon, week 01-06
            (dt.datetime(2025, 1, 7), "m", 2.0),   # Tue, week 01-06
            (dt.datetime(2025, 1, 13), "m", 4.0),  # Mon, week 01-13
        ],
        "ts timestamp, metric string, value double",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev1, silver, "event_date")
    refresh()
    got = sorted(map(tuple, SS.read_table(spark, dest).select("week", "v", "n").collect()))
    assert got == [("2025-01-06", 3.0, 2), ("2025-01-13", 4.0, 1)]

    # a later batch touches ONLY Wednesday of week 01-06: the recompute
    # must still cover Mon+Tue (slice expansion), not just the new day
    ev2 = spark.createDataFrame(
        [(dt.datetime(2025, 1, 8), "m", 8.0)],
        "ts timestamp, metric string, value double",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev2, silver, "event_date")
    refresh()
    got = sorted(map(tuple, SS.read_table(spark, dest).select("week", "v", "n").collect()))
    assert got == [("2025-01-06", 11.0, 3), ("2025-01-13", 4.0, 1)]

    # correction empties week 01-13 entirely → its partition vanishes
    SS.delete_partitions(spark, silver, "event_date", ["2025-01-13"])
    r = refresh()
    assert r["deleted_days"] == 1
    got = sorted(map(tuple, SS.read_table(spark, dest).select("week", "v", "n").collect()))
    assert got == [("2025-01-06", 11.0, 3)]


def test_refresh_window_spanning_compact_reads_no_compact_files(spark, tmp_path):
    """The scheduler runs nightly refresh AND nightly compaction; a
    refresh window that spans a silver compact must cost O(changed
    files), not an O(table) diff."""
    from smartdatapipeline_spark.operators import pipeline as P

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ev = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1), "m", 10.0, 1),
            (dt.datetime(2025, 1, 2), "m", 5.0, 1),
        ],
        "ts timestamp, metric string, value double, source_id int",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev, silver, "event_date")
    P.refresh_gold_from_changes(spark, silver, gold)
    SS.compact(spark, silver)  # maintenance lands INSIDE the next window
    ev2 = spark.createDataFrame(
        [(dt.datetime(2025, 1, 3), "m", 7.0, 1)],
        "ts timestamp, metric string, value double, source_id int",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev2, silver, "event_date")
    r = P.refresh_gold_from_changes(spark, silver, gold)
    assert r["refreshed_days"] == 1  # only the new day recomputed
    rows = sorted(
        (str(r[0]), r[1]) for r in
        SS.read_table(spark, gold).select("metric_date", "value_sum").collect()
    )
    assert rows == [("2025-01-01", 10.0), ("2025-01-02", 5.0), ("2025-01-03", 7.0)]


def test_truncated_log_without_parquet_checkpoint_raises(spark, tmp_path):
    """A log vacuumed above v1 replays only from a parquet checkpoint.
    With that checkpoint lost, or present only in the pre-r12 JSON
    format (no longer read), every snapshot reader raises
    NoSuchTableError instead of replaying the retained tail as if it
    were the whole table, and no write lands over it."""
    import json

    root = str(tmp_path / "t")
    n = SS._CHECKPOINT_INTERVAL * 2 + 5  # checkpoints at 10 and 20
    for i in range(n):
        SS.append(_frame(spark, [(i, f"d{i}", i)]), root, "day")
    SS.vacuum_log(root, keep_versions=5)
    commits, cps = SS._list_log(root)
    assert commits[0] == cps[-1] == SS._CHECKPOINT_INTERVAL * 2
    pq_path = os.path.join(
        root, "_log", f"{cps[-1]:0{SS._V_WIDTH}d}.checkpoint.parquet"
    )
    json_path = pq_path[: -len(".parquet")] + ".json"
    os.rename(pq_path, pq_path + ".hide")
    readers = (
        lambda: SS._snapshot(root),
        lambda: SS._snapshot_meta(root),
        lambda: SS._snapshot_for_read(root, None, None, None),
        lambda: SS.read_table(spark, root),
    )
    for legacy in (True, False):
        if legacy:
            with open(json_path, "w") as f:
                json.dump({"version": cps[-1], "live": [], "txn_keys": []}, f)
        elif os.path.exists(json_path):
            os.unlink(json_path)
        for read in readers:
            with pytest.raises(SS.NoSuchTableError, match="checkpoint"):
                read()
    with pytest.raises(SS.NoSuchTableError, match="checkpoint"):
        SS.append(_frame(spark, [(99, "d99", 99)]), root, "day")
    assert SS.table_version(root) == n
    # the checkpoint back in place, the table reads whole again
    os.rename(pq_path + ".hide", pq_path)
    assert len(_rows(SS.read_table(spark, root))) == n


def test_streaming_merge_sink_dedups_across_batches_exactly_once(spark, tmp_path):
    """snapshot_merge_sink (r12): a file-source stream whose micro-
    batches OVERLAP in keys (at-least-once upstream) lands each key
    once — storage-layer ON CONFLICT DO NOTHING, no dropDuplicates
    state — and a replayed epoch is a no-op via its idempotency key."""
    import json as _json

    from smartdatapipeline_spark.streaming.snapsink import snapshot_merge_sink

    inp = tmp_path / "in"
    inp.mkdir()
    # three chunks with overlapping keys: k0-k5, k3-k8, k6-k11
    chunks = [
        [{"d": f"2025-02-{(i % 3) + 1:02d}", "k": f"k{i}", "v": i}
         for i in range(lo, hi)]
        for lo, hi in ((0, 6), (3, 9), (6, 12))
    ]
    for i, chunk in enumerate(chunks):
        with open(inp / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    schema = "d string, k string, v long"
    sink = snapshot_merge_sink(
        root, app_id="t-merge", keys=["k"], when_matched="ignore",
        partition_col="d",
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(inp))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted((r["k"], r["v"]) for r in SS.read_table(spark, root).collect())
    assert got == sorted((f"k{i}", i) for i in range(12))  # each key once
    # engine retry of a committed epoch: no-op
    v = SS.table_version(root)
    sink(spark.createDataFrame([("2025-02-01", "k0", 0)], schema), 0)
    assert SS.table_version(root) == v
    # update-mode twin: a later batch re-keys k0 to a new value in place
    upd = snapshot_merge_sink(
        root, app_id="t-merge-upd", keys=["k"], when_matched="update",
        partition_col="d",
    )
    upd(spark.createDataFrame([("2025-02-01", "k0", 999)], schema), 0)
    vals = dict(
        (r["k"], r["v"]) for r in SS.read_table(spark, root).collect()
    )
    assert vals["k0"] == 999 and len(vals) == 12


def test_partial_compaction_rewrites_only_small_files(spark, tmp_path):
    """OPTIMIZE with small_only_rows bin-packs ONLY the small batches —
    last night's compaction output is untouched, so nightly maintenance
    costs O(new small files), not O(table)."""
    root = str(tmp_path / "t")
    big = _frame(spark, [(i, "d0", i) for i in range(500)])
    SS.append(big, root, "day")
    for i in range(4):  # four small per-batch appends (the steady flow)
        SS.append(_frame(spark, [(1000 + i, f"d{i + 1}", i)]), root, "day")
    before = _rows(SS.read_table(spark, root))
    big_path = next(e["path"] for e in SS._snapshot(root)[1] if e["rows"] == 500)
    v = SS.compact(spark, root, target_batches=1, small_only_rows=100)
    live = SS._snapshot(root)[1]
    assert big_path in {e["path"] for e in live}  # big batch untouched
    assert len(live) == 2  # big + one packed batch
    assert _rows(SS.read_table(spark, root)) == before
    # logically empty: CDC across the partial compact is empty
    assert SS.table_changes(spark, root, v - 1, v).count() == 0
    # conflict claim covers only the small batches' partitions
    c = SS._read_json(os.path.join(root, "_log", SS._vname(v)))
    assert set(c["replaced"]) == {"d1", "d2", "d3", "d4"}
    # nothing small left: the next partial OPTIMIZE is a no-op
    assert SS.compact(spark, root, target_batches=1, small_only_rows=100) == v


def test_partial_compaction_with_zorder_now_supported(spark, tmp_path):
    """r13 superseded the r12 exclusivity: compact(zorder_by,
    small_only_rows) is the INCREMENTAL z-order pass (r12 VERDICT #1,
    tests/test_zorder_incremental.py). Here: the combined call is
    accepted and is a logical no-op on contents."""
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1), (2, "d1", 2)]), root, "day")
    v = SS.compact(spark, root, zorder_by=("id", "value"), small_only_rows=10)
    assert v == 2
    assert _rows(SS.read_table(spark, root)) == [(1, "d1", 1.0), (2, "d1", 2.0)]


def test_vacuum_log_bounds_commit_log(spark, tmp_path):
    """r12 log retention: commits below the newest checkpoint ≤
    (latest − keep) are deleted; every retained version reads exactly
    as before, older versions stop being addressable (the bounded-
    retention contract, same as data vacuum)."""
    root = str(tmp_path / "t")
    n = SS._CHECKPOINT_INTERVAL * 2 + 5  # 25 commits, checkpoints at 10, 20
    for i in range(n):
        SS.append(
            _frame(spark, [(i, f"d{i}", i)]), root, "day",
            idempotency_key=f"b{i}",
        )
    before = _rows(SS.read_table(spark, root))
    deleted = SS.vacuum_log(root, keep_versions=5)
    # base = newest checkpoint ≤ 20: commits 1..19 and checkpoint 10 gone
    assert deleted and f"{1:020d}.json" in deleted
    commits, cps = SS._list_log(root)
    assert commits[0] == SS._CHECKPOINT_INTERVAL * 2
    assert _rows(SS.read_table(spark, root)) == before
    # retained versions still time-travel; vacuumed ones raise
    assert len(_rows(SS.read_table(spark, root, version=commits[0]))) == 20
    with pytest.raises(SS.NoSuchTableError):
        SS.read_table(spark, root, version=5)
    # change feed within retention still works
    ch = SS.table_changes(spark, root, n - 2, n)
    assert ch.count() == 2
    # idempotency keys survive through the checkpoint fold
    assert SS.append(
        _frame(spark, [(99, "d99", 99)]), root, "day", idempotency_key="b3"
    ) == SS.table_version(root)
    assert (99,) not in {
        (r[0],) for r in SS.read_table(spark, root).select("id").collect()
    }


def test_change_window_into_vacuumed_log_raises(spark, tmp_path):
    """A CDC window reaching below the vacuumed log must fail loudly —
    silently skipping truncated commits would drop their changes."""
    root = str(tmp_path / "t")
    n = SS._CHECKPOINT_INTERVAL * 2 + 5
    for i in range(n):
        SS.append(_frame(spark, [(i, f"d{i}", i)]), root, "day")
    SS.vacuum_log(root, keep_versions=5)
    base = SS._list_log(root)[0][0]
    with pytest.raises(SS.NoSuchTableError, match="vacuumed"):
        SS.table_changes(spark, root, base - 5, n)
    # windows within retention (start ≥ base-1) still resolve
    assert SS.table_changes(spark, root, base - 1, base + 1).count() == 2
    # bootstrap (from_version=0) stays valid — it reads the live set
    assert SS.table_changes(spark, root, 0).count() == n


def test_vacuum_log_noop_without_eligible_checkpoint(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(5):  # below the checkpoint interval — nothing to base on
        SS.append(_frame(spark, [(i, f"d{i}", i)]), root, "day")
    assert SS.vacuum_log(root, keep_versions=2) == []
    assert len(SS.history(root)) == 5


def test_refresh_progress_survives_log_vacuum(spark, tmp_path):
    """Progress rides the idempotency-key set, which checkpoints fold
    forward — truncating the gold log must not reset the CDC refresh
    to a from-version-0 bootstrap."""
    from smartdatapipeline_spark.operators import pipeline as P

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ev = spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), "m", 10.0, 1)],
        "ts timestamp, metric string, value double, source_id int",
    ).withColumn("event_date", F.to_date("ts"))
    SS.append(ev, silver, "event_date")
    P.refresh_gold_from_changes(spark, silver, gold)
    # pad gold's log past a checkpoint, then truncate it
    for i in range(SS._CHECKPOINT_INTERVAL + 2):
        SS.commit_marker(gold, "pad", f"pad:{i}")
    SS.vacuum_log(gold, keep_versions=2)
    assert P.last_refreshed_silver_version(gold) == 1
    r = P.refresh_gold_from_changes(spark, silver, gold)
    assert (r["from_version"], r["refreshed_days"]) == (1, 0)


def test_resolve_partition_col_from_checkpoint_after_log_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 1)]), root, "day")
    for i in range(SS._CHECKPOINT_INTERVAL + 3):
        SS.commit_marker(root, "pad", f"pad:{i}")
    SS.vacuum_log(root, keep_versions=2)
    # the retained log tail holds no add actions — the checkpoint does
    assert SS.resolve_partition_col(root) == "day"


def test_commit_marker_and_history_timestamps(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_frame(spark, [(1, "d1", 10)]), root, "day")
    v = SS.commit_marker(root, "custom-mark", "job:42")
    h = SS.history(root)
    assert h[-1]["version"] == v and h[-1]["kind"] == "custom-mark"
    assert h[-1]["n_actions"] == 0
    assert all(hh["timestamp"] > 0 for hh in h)
    assert h[0]["timestamp"] <= h[-1]["timestamp"]
    # marker replays idempotently
    assert SS.commit_marker(root, "custom-mark", "job:42") == v
