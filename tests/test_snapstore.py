"""Snapshot-committed table (sources/snapstore.py): commit protocol,
snapshot isolation, copy-on-write residues, concurrency, crash sims,
checkpoints, idempotency, vacuum."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.sources import snapstore as SS


def _df(spark, rows):
    return spark.createDataFrame(rows, "d string, k string, v long")


def _rows(df):
    return sorted((r["d"], r["k"], r["v"]) for r in df.collect())


def test_append_read_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    v2 = SS.append(_df(spark, [("2024-01-02", "b", 2)]), root, "d")
    assert (v1, v2) == (1, 2)
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "a", 1),
        ("2024-01-02", "b", 2),
    ]
    assert SS.table_version(root) == 2


def test_empty_append_is_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    assert SS.append(_df(spark, []), root, "d") == 0
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    assert SS.append(_df(spark, []), root, "d") == 1
    assert SS.table_version(root) == 1


def test_overwrite_replaces_only_targeted_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1), ("2024-01-02", "b", 2)]), root, "d")
    SS.append(_df(spark, [("2024-01-03", "c", 3)]), root, "d")
    SS.overwrite_partitions(_df(spark, [("2024-01-02", "B", 20)]), root, "d")
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "a", 1),
        ("2024-01-02", "B", 20),
        ("2024-01-03", "c", 3),
    ]


def test_copy_on_write_residue(spark, tmp_path):
    """An entry holding BOTH a replaced and an untouched partition loses
    only the replaced rows — the residue is rewritten in the same
    commit."""
    root = str(tmp_path / "t")
    SS.append(
        _df(spark, [("2024-01-01", "a", 1), ("2024-01-02", "b", 2), ("2024-01-03", "c", 3)]),
        root,
        "d",
    )
    v = SS.overwrite_partitions(_df(spark, [("2024-01-02", "B", 20)]), root, "d")
    assert v == 2
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "a", 1),
        ("2024-01-02", "B", 20),
        ("2024-01-03", "c", 3),
    ]
    # the original 3-partition batch is fully removed from the live set
    _, live, _ = SS._snapshot(root)
    for e in live:
        assert set(e["values"]) <= {"2024-01-01", "2024-01-02", "2024-01-03"}
        assert "2024-01-02" not in e["values"] or e["rows"] == 1


def test_overwrite_deletes_partition_rows_that_vanish(spark, tmp_path):
    """Overwriting a partition with FEWER rows (a correction shrinking
    the day) must not resurrect old rows."""
    root = str(tmp_path / "t")
    SS.append(
        _df(spark, [("2024-01-01", "a", 1), ("2024-01-01", "b", 2)]), root, "d"
    )
    SS.overwrite_partitions(_df(spark, [("2024-01-01", "only", 9)]), root, "d")
    assert _rows(SS.read_table(spark, root)) == [("2024-01-01", "only", 9)]


def test_time_travel_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    SS.overwrite_partitions(_df(spark, [("2024-01-01", "a", 100)]), root, "d")
    assert _rows(SS.read_table(spark, root, version=1)) == [("2024-01-01", "a", 1)]
    assert _rows(SS.read_table(spark, root, version=2)) == [("2024-01-01", "a", 100)]
    h = SS.history(root)
    assert [x["kind"] for x in h] == ["append", "overwrite_partitions"]
    assert h[1]["replaced"] == ["2024-01-01"]


def test_manifest_level_pruning(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    SS.append(_df(spark, [("2024-01-02", "b", 2)]), root, "d")
    df = SS.read_table(spark, root, partition_values=["2024-01-02"])
    assert _rows(df) == [("2024-01-02", "b", 2)]
    # only ONE batch dir reaches the scan
    files = {
        os.path.dirname(r[0])
        for r in df.withColumn("_f", F.input_file_name()).select("_f").collect()
    }
    assert len(files) == 1


def test_uncommitted_batch_is_invisible(spark, tmp_path):
    """Crash sim: a data dir written without its commit file never
    appears in any snapshot."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    orphan = SS._write_batch(_df(spark, [("2024-01-09", "zz", 99)]), root, "d")
    assert orphan is not None  # written, never committed
    assert _rows(SS.read_table(spark, root)) == [("2024-01-01", "a", 1)]


def test_torn_tmp_commit_is_ignored(spark, tmp_path):
    """Crash sim: a writer that died before claiming leaves only a
    .tmp- file in the log — readers and later committers ignore it."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    with open(os.path.join(root, "_log", ".tmp-deadbeef"), "w") as f:
        f.write('{"version": 99')  # truncated JSON
    assert SS.table_version(root) == 1
    assert SS.append(_df(spark, [("2024-01-02", "b", 2)]), root, "d") == 2


def test_concurrent_appends_all_land(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "seed", 0)]), root, "d")
    errs: list[Exception] = []

    def go(i):
        try:
            SS.append(_df(spark, [(f"2024-02-{i + 1:02d}", f"w{i}", i)]), root, "d")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=go, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert SS.table_version(root) == 5
    assert SS.read_table(spark, root).count() == 5


def test_concurrent_same_partition_overwrite_conflicts(spark, tmp_path):
    """Two overwrites of the SAME partition racing: exactly one lands,
    the loser raises ConcurrentWriteError (its recompute is stale)."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    start = threading.Barrier(2)
    outcomes: list[str] = []
    lock = threading.Lock()

    def go(tag, val):
        df = _df(spark, [("2024-01-01", tag, val)])
        start.wait()
        try:
            SS.overwrite_partitions(df, root, "d")
            with lock:
                outcomes.append("ok")
        except SS.ConcurrentWriteError:
            with lock:
                outcomes.append("conflict")

    ts = [
        threading.Thread(target=go, args=("x", 10)),
        threading.Thread(target=go, args=("y", 20)),
    ]
    [t.start() for t in ts]
    [t.join() for t in ts]
    # both may serialize cleanly (no race observed) or one conflicts —
    # but never a torn/merged table: the final snapshot is exactly one
    # writer's batch
    rows = _rows(SS.read_table(spark, root))
    assert rows in ([("2024-01-01", "x", 10)], [("2024-01-01", "y", 20)])
    assert sorted(outcomes) in (["ok", "ok"], ["conflict", "ok"])


def test_disjoint_overwrite_retries_past_append(spark, tmp_path):
    """An overwrite losing the version race to an append on OTHER
    partitions retries and lands (no false conflict)."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1), ("2024-01-05", "e", 5)]), root, "d")

    real_claim = SS._try_claim
    raced = {"done": False}

    def claim_with_interloper(r, version, payload):
        if not raced["done"] and payload["kind"] == "overwrite_partitions":
            raced["done"] = True
            # an append to a DIFFERENT partition steals this version
            interloper = SS._write_batch(
                _df(spark, [("2024-03-01", "z", 9)]), r, "d"
            )
            real_claim(
                r,
                version,
                {
                    "version": version,
                    "kind": "append",
                    "actions": [interloper],
                    "replaced": [],
                    "idempotency_key": None,
                    "writer": "interloper",
                },
            )
        return real_claim(r, version, payload)

    SS._try_claim = claim_with_interloper
    try:
        v = SS.overwrite_partitions(_df(spark, [("2024-01-01", "A", 10)]), root, "d")
    finally:
        SS._try_claim = real_claim
    assert v == 3  # lost v2 to the interloper, landed as v3
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "A", 10),
        ("2024-01-05", "e", 5),
        ("2024-03-01", "z", 9),
    ]


def test_idempotency_key_prevents_double_apply(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [("2024-01-01", "a", 1)])
    v1 = SS.append(df, root, "d", idempotency_key="job-1")
    v2 = SS.append(df, root, "d", idempotency_key="job-1")  # retry of same job
    assert (v1, v2) == (1, 1)
    assert SS.read_table(spark, root).count() == 1
    v3 = SS.overwrite_partitions(df, root, "d", idempotency_key="job-2")
    v4 = SS.overwrite_partitions(df, root, "d", idempotency_key="job-2")
    assert v3 == v4 == 2


def test_checkpoint_replay_equivalence(spark, tmp_path):
    """Past the checkpoint interval, every snapshot reader built from the
    newest checkpoint + tail equals a from-scratch replay: the live set,
    the commit path's (version, keys) and a pruned read plan. Both sides
    of the checkpoint hold a deletion-vector sidecar and a data entry
    whose stats JSON contains the literal ``"__dv__"``."""
    root = str(tmp_path / "t")

    def add(i, k):
        d = f"2024-01-{i + 1:02d}"
        SS.append(
            _df(spark, [(d, k, i), (d, f"x{i}", 100 + i)]), root, "d",
            idempotency_key=f"b{i}", stats_cols=("k", "v"),
        )

    add(0, "__dv__")
    for i in range(1, SS._CHECKPOINT_INTERVAL - 2):
        add(i, f"k{i}")
    SS.delete_where(spark, root, "v = 103", mode="dv")
    add(SS._CHECKPOINT_INTERVAL - 2, f"k{SS._CHECKPOINT_INTERVAL - 2}")
    _, cps = SS._list_log(root)
    assert cps, "expected a checkpoint to have been written"
    add(20, "__dv__")
    SS.delete_where(spark, root, "v = 105", mode="dv")
    want = {"2024-01-01", "2024-01-04", "2024-01-06", "2024-01-21"}

    def views():
        return (
            SS._snapshot(root),
            SS._snapshot_meta(root),
            SS._snapshot_for_read(root, None, want, [("v", 0, 100)]),
        )

    shown = views()
    _, pruned, total, _, dvs = shown[2]
    assert len(dvs) == 2 and total == len(shown[0][1]) - 2
    assert {e["stats"]["k"]["min"] for e in pruned} >= {"__dv__", "k3", "k5"}
    # force a from-scratch replay by hiding the checkpoints
    cp_paths = [
        os.path.join(root, "_log", f"{c:0{SS._V_WIDTH}d}.checkpoint.parquet")
        for c in cps
    ]
    for p in cp_paths:
        os.rename(p, p + ".hide")
    try:
        assert SS._list_log(root)[1] == []
        hidden = views()
    finally:
        for p in cp_paths:
            os.rename(p + ".hide", p)
    assert shown == hidden


def test_vacuum_removes_orphans_keeps_retained(spark, tmp_path):
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    SS.overwrite_partitions(_df(spark, [("2024-01-01", "a", 2)]), root, "d")
    SS.overwrite_partitions(_df(spark, [("2024-01-01", "a", 3)]), root, "d")
    orphan = SS._write_batch(_df(spark, [("2024-09-09", "x", 0)]), root, "d")
    # grace_sec=0 so freshly-written dirs are eligible
    deleted = SS.vacuum(root, keep_versions=2, grace_sec=0.0)
    assert orphan["path"] in deleted  # crashed-writer garbage reclaimed
    # v2 and v3 still readable (retention=2), v1's batch may be gone
    assert _rows(SS.read_table(spark, root, version=2)) == [("2024-01-01", "a", 2)]
    assert _rows(SS.read_table(spark, root, version=3)) == [("2024-01-01", "a", 3)]


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(SS.NoSuchTableError):
        SS.read_table(spark, str(tmp_path / "nope"))


def test_null_partition_value_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(None, "a", 1)], "d string, k string, v long")
    with pytest.raises(ValueError, match="NULL"):
        SS.overwrite_partitions(df, root, "d")


def test_commit_files_are_complete_json(spark, tmp_path):
    """The claim primitive guarantees a commit file never exists with
    partial contents — every committed file parses."""
    root = str(tmp_path / "t")
    for i in range(3):
        SS.append(_df(spark, [(f"2024-01-0{i + 1}", "k", i)]), root, "d")
    log = os.path.join(root, "_log")
    for n in os.listdir(log):
        if n.endswith(".json"):
            with open(os.path.join(log, n)) as f:
                json.load(f)  # must not raise


def test_pipeline_snapshot_store_matches_parquet(spark, tmp_path):
    """ingest_and_refresh lands the SAME silver and gold contents as the
    plain-parquet reference computation (clean → anti-join dedup →
    parquet silver → daily KPIs over all of silver) across two
    overlapping batches (dup drop + scoped gold refresh included)."""
    from smartdatapipeline_spark.operators.kpi import run_daily_kpis
    from smartdatapipeline_spark.operators.pipeline import ingest_and_refresh
    from smartdatapipeline_spark.sources import ingest as I
    from smartdatapipeline_spark.sources import readers as R

    p1 = str(tmp_path / "a.csv")
    open(p1, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T01:00:00Z,20,m\n"
        "bad-ts,99,m\n"
    )
    p2 = str(tmp_path / "b.csv")
    open(p2, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-02T00:00:00Z,5,m\n"
    )
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    pq = str(tmp_path / "silver_parquet")
    for i, p in enumerate((p1, p2)):
        ingest_and_refresh(spark, R.read_csv(spark, p), silver, gold)
        clean = I.clean_rows(R.read_csv(spark, p)).withColumn(
            "source_id", F.lit(1)
        )
        valid = clean.filter("_warn IS NULL").drop("_warn")
        existing = spark.read.parquet(pq) if i else None
        to_insert, _ = I.upsert_clean_events(valid, existing)
        to_insert.localCheckpoint(eager=True).write.mode("append").parquet(pq)

    silver_pq = spark.read.parquet(pq)
    silver_ss = SS.read_table(spark, silver)
    scols = sorted(silver_pq.columns)
    assert sorted(map(tuple, silver_pq.select(*scols).collect())) == sorted(
        map(tuple, silver_ss.select(*scols).collect())
    )
    gold_pq = run_daily_kpis(silver_pq)
    gold_ss = SS.read_table(spark, gold)
    cols = sorted(gold_pq.columns)
    assert sorted(gold_ss.columns) == cols
    assert sorted(map(tuple, gold_pq.select(*cols).collect())) == sorted(
        map(tuple, gold_ss.select(*cols).collect())
    )
    # gold saw one scoped overwrite per batch, each followed by its
    # refresh-progress marker: the day-1 correction did NOT rewrite
    # day 2 and vice versa
    h = [x for x in SS.history(gold) if x["kind"] == "overwrite_partitions"]
    assert len(h) == 2
    assert h[0]["replaced"] == ["2025-01-01"]
    # batch 2's day-1 row was a duplicate ⇒ after dedup only day 2 is
    # touched, and the refresh correctly scopes to it alone
    assert h[1]["replaced"] == ["2025-01-02"]


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """foreachBatch into the snapshot table: a file-source stream lands
    every micro-batch once; a simulated engine RETRY of an epoch (the
    at-least-once failure mode) is a no-op via its idempotency key, so
    contents equal the batch read of the same input exactly."""
    import json as _json

    from smartdatapipeline_spark.streaming.snapsink import (
        snapshot_append_sink,
        snapshot_upsert_sink,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    rows = [
        {"d": f"2025-02-{(i % 3) + 1:02d}", "k": f"k{i}", "v": i} for i in range(12)
    ]
    for i, chunk in enumerate([rows[:4], rows[4:8], rows[8:]]):
        with open(inp / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    schema = "d string, k string, v long"
    sink = snapshot_append_sink(root, app_id="t-stream", partition_col="d")
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

    got = sorted(
        (r["d"], r["k"], r["v"]) for r in SS.read_table(spark, root).collect()
    )
    want = sorted((r["d"], r["k"], r["v"]) for r in rows)
    assert got == want

    # engine retry sim: re-run an already-committed epoch's batch fn
    retry_df = spark.createDataFrame([("2025-02-01", "k0", 0)], schema)
    v_before = SS.table_version(root)
    sink(retry_df, 0)  # batch_id 0 already committed by the stream
    assert SS.table_version(root) == v_before
    assert SS.read_table(spark, root).count() == len(rows)

    # upsert sink twin: per-day counts, partition overwrite, same key rules
    root2 = str(tmp_path / "snap2")
    up = snapshot_upsert_sink(
        root2,
        app_id="t-up",
        partition_col="d",
        transform=lambda df: df.groupBy("d").count(),
    )
    all_df = spark.createDataFrame([(r["d"], r["k"], r["v"]) for r in rows], schema)
    up(all_df, 0)
    up(all_df, 0)  # retry: no-op
    assert SS.table_version(root2) == 1
    cnt = {r["d"]: r["count"] for r in SS.read_table(spark, root2).collect()}
    assert cnt == {"2025-02-01": 4, "2025-02-02": 4, "2025-02-03": 4}


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Additive schema evolution: a later append carries a NEW column
    (gated behind allow_new_columns=True since r14 — an unflagged drift
    raises); merge_schema=True reads the union (old batches NULL), and
    time-travel to v1 still returns the original schema."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    wide = spark.createDataFrame(
        [("2024-01-02", "b", 2, "eu")], "d string, k string, v long, region string"
    )
    with pytest.raises(SS.SchemaMismatchError, match="region"):
        SS.append(wide, root, "d")
    SS.append(wide, root, "d", allow_new_columns=True)
    out = SS.read_table(spark, root, merge_schema=True)
    assert sorted(out.columns) == ["d", "k", "region", "v"]
    rows = {r["k"]: r["region"] for r in out.collect()}
    assert rows == {"a": None, "b": "eu"}
    v1 = SS.read_table(spark, root, version=1)
    assert sorted(v1.columns) == ["d", "k", "v"]


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model check: a seeded random sequence of append /
    overwrite_partitions / overwrite_table ops against a dict-of-rows
    reference model — after every op the snapshot equals the model,
    and every historical version stays re-readable and equal to its
    recorded model state."""
    import random

    rng = random.Random(20251008)
    days = [f"2024-03-{d:02d}" for d in range(1, 6)]
    root = str(tmp_path / "t")
    model: dict[str, list] = {}  # day -> rows
    history: list[list] = []  # version -> sorted rows
    seq = 0

    def flat(m):
        return sorted(t for rows in m.values() for t in rows)

    for step in range(12):
        op = rng.choice(["append", "overwrite", "overwrite", "table"] )
        nrows = rng.randint(1, 4)
        batch = []
        for _ in range(nrows):
            d = rng.choice(days)
            batch.append((d, f"k{seq}", seq))
            seq += 1
        df = _df(spark, batch)
        if op == "append":
            SS.append(df, root, "d")
            for t in batch:
                model.setdefault(t[0], []).append(t)
        elif op == "overwrite":
            SS.overwrite_partitions(df, root, "d")
            touched = {t[0] for t in batch}
            for d in touched:
                model[d] = []
            for t in batch:
                model.setdefault(t[0], []).append(t)
        else:
            SS.overwrite_table(df, root, "d")
            model = {}
            for t in batch:
                model.setdefault(t[0], []).append(t)
        history.append(flat(model))
        assert _rows(SS.read_table(spark, root)) == flat(model), f"step {step} ({op})"

    # every retained version replays to its recorded state (time travel)
    for v, want in enumerate(history, start=1):
        got = _rows(SS.read_table(spark, root, version=v))
        assert got == want, f"version {v}"


def test_table_changes_cdc(spark, tmp_path):
    """Change feed between versions: an overwrite's logical delta only
    — rows moved by a residue rewrite cancel out (no file-churn
    noise); appends are pure inserts; v1->v3 composes."""
    root = str(tmp_path / "t")
    # v1: one batch straddling three days (forces a residue on v2)
    SS.append(
        _df(spark, [("2024-01-01", "a", 1), ("2024-01-02", "b", 2), ("2024-01-03", "c", 3)]),
        root,
        "d",
    )
    # v2: correct day 2 only
    SS.overwrite_partitions(_df(spark, [("2024-01-02", "B", 20)]), root, "d")
    ch = SS.table_changes(spark, root, 1, 2).collect()
    got = sorted((r["d"], r["k"], r["v"], r["_change_type"]) for r in ch)
    assert got == [
        ("2024-01-02", "B", 20, "insert"),
        ("2024-01-02", "b", 2, "delete"),
    ]
    # v3: plain append
    SS.append(_df(spark, [("2024-01-04", "e", 4)]), root, "d")
    ch23 = sorted(
        (r["d"], r["k"], r["_change_type"])
        for r in SS.table_changes(spark, root, 2, 3).collect()
    )
    assert ch23 == [("2024-01-04", "e", "insert")]
    # composition v1->v3
    ch13 = sorted(
        (r["d"], r["k"], r["_change_type"])
        for r in SS.table_changes(spark, root, 1, 3).collect()
    )
    assert ch13 == [
        ("2024-01-02", "B", "insert"),
        ("2024-01-02", "b", "delete"),
        ("2024-01-04", "e", "insert"),
    ]
    # identity: no changes between a version and itself
    assert SS.table_changes(spark, root, 2, 2).count() == 0


def test_compact_is_logical_noop(spark, tmp_path):
    """OPTIMIZE-style compaction: live batches collapse to one, table
    contents are unchanged, the change feed across the compaction is
    EMPTY, and pre-compaction versions still time-travel."""
    root = str(tmp_path / "t")
    for i in range(4):
        SS.append(_df(spark, [(f"2024-01-{i + 1:02d}", f"k{i}", i)]), root, "d")
    before = _rows(SS.read_table(spark, root))
    _, live_before, _ = SS._snapshot(root)
    assert len(live_before) == 4
    v = SS.compact(spark, root)
    assert v == 5
    _, live_after, _ = SS._snapshot(root)
    assert len(live_after) == 1
    assert _rows(SS.read_table(spark, root)) == before
    assert SS.table_changes(spark, root, 4, 5).count() == 0  # logical no-op
    assert _rows(SS.read_table(spark, root, version=2)) == before[:2]
    # idempotent maintenance: nothing left to compact
    assert SS.compact(spark, root) == 5
    # vacuum reclaims the four pre-compaction batches past retention
    deleted = SS.vacuum(root, keep_versions=1, grace_sec=0.0)
    assert len(deleted) == 4
    assert _rows(SS.read_table(spark, root)) == before


def test_column_stats_data_skipping(spark, tmp_path):
    """Manifest column stats (Iceberg-style): per-entry min/max on a
    non-partition column skip non-intersecting batches at read time;
    entries written WITHOUT stats are conservatively read."""
    root = str(tmp_path / "t")
    SS.append(
        _df(spark, [("2024-01-01", "lo", 5), ("2024-01-01", "lo2", 9)]),
        root, "d", stats_cols=("v",),
    )
    SS.append(
        _df(spark, [("2024-01-02", "hi", 100), ("2024-01-02", "hi2", 200)]),
        root, "d", stats_cols=("v",),
    )
    SS.append(_df(spark, [("2024-01-03", "nostats", 50)]), root, "d")
    # manifest carries the ranges
    _, live, _ = SS._snapshot(root)
    stats = sorted(
        (e["stats"]["v"]["min"], e["stats"]["v"]["max"])
        for e in live if e.get("stats")
    )
    assert stats == [(5, 9), (100, 200)]
    # range [0, 20]: the hi batch is SKIPPED at the manifest, the
    # stats-less batch is read (conservative) and filtered
    df = SS.read_table(spark, root, column_ranges=[("v", 0, 20)])
    assert _rows(df) == [("2024-01-01", "lo", 5), ("2024-01-01", "lo2", 9)]
    # the scan's file list (not just surviving rows): lo batch +
    # stats-less batch; the hi batch never reaches the plan
    dirs = {os.path.dirname(f) for f in df.inputFiles()}
    assert len(dirs) == 2
    # unbounded-low range
    assert _rows(SS.read_table(spark, root, column_ranges=[("v", 100, None)])) == [
        ("2024-01-02", "hi", 100),
        ("2024-01-02", "hi2", 200),
    ]


# ------------------------------------------------------- r11: TOCTOU + liveness


def test_commit_scans_window_between_build_and_claim(spark, tmp_path):
    """r11 ADVICE (high): a commit landing BETWEEN the caller's
    action-build snapshot and _commit's own snapshot must be
    conflict-scanned — otherwise the first claim succeeds with stale
    removes and the interloper's rows survive inside a "replaced"
    partition (a torn/merged table)."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")  # v1
    # Stale actions built against v1: remove v1's file, add a new batch.
    _, live_v1, _ = SS._snapshot(root, 1)
    stale_add = SS._write_batch(_df(spark, [("2024-01-01", "stale", 99)]), root, "d")
    stale_actions = [stale_add] + [
        {"op": "remove", "path": e["path"]} for e in live_v1
    ]
    # Interloper lands v2 in the TOCTOU window (before _commit is called).
    SS.overwrite_partitions(_df(spark, [("2024-01-01", "fresh", 2)]), root, "d")
    with pytest.raises(SS.ConcurrentWriteError):
        SS._commit(
            root, stale_actions, "overwrite_partitions", {"2024-01-01"},
            None, base_v=1,
        )
    # The interloper's write is intact — nothing stale ever claimed.
    assert _rows(SS.read_table(spark, root)) == [("2024-01-01", "fresh", 2)]


def test_commit_recomputes_for_nonconflicting_window_commit(spark, tmp_path):
    """A NON-conflicting commit in the build→claim window (append to a
    different partition) triggers recompute against the fresh live set
    before the first claim, then lands."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")  # v1
    new_add = SS._write_batch(_df(spark, [("2024-01-01", "A", 10)]), root, "d")
    _, live_v1, _ = SS._snapshot(root, 1)
    SS.append(_df(spark, [("2024-02-01", "z", 9)]), root, "d")  # v2 in window
    calls = []

    def recompute(live):
        calls.append(sorted(e["path"] for e in live))
        removes = [e for e in live if SS._values_intersect(e, {"2024-01-01"})]
        return [new_add] + [{"op": "remove", "path": e["path"]} for e in removes]

    v = SS._commit(
        root,
        [new_add] + [{"op": "remove", "path": e["path"]} for e in live_v1],
        "overwrite_partitions",
        {"2024-01-01"},
        None,
        recompute=recompute,
        base_v=1,
    )
    assert v == 3
    assert len(calls) == 1  # recomputed once, against the v2 live set
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "A", 10),
        ("2024-02-01", "z", 9),
    ]


def test_residue_move_does_not_conflict_disjoint_overwrite(spark, tmp_path):
    """r10's conservative corner, now exact: writer A's overwrite of D1
    rewrites a shared batch's D2 rows into a residue (a pure MOVE).
    Writer B overwriting only D2 concurrently must NOT spuriously
    conflict — it recomputes against the residue entry and lands."""
    root = str(tmp_path / "t")
    # one batch holding BOTH partitions, so A's overwrite creates a residue
    SS.append(
        _df(spark, [("2024-01-01", "a", 1), ("2024-01-02", "b", 2)]), root, "d"
    )
    real_claim = SS._try_claim
    raced = {"done": False}

    def claim_with_interloper(r, version, payload):
        if not raced["done"] and payload["kind"] == "overwrite_partitions":
            raced["done"] = True  # set FIRST: the interloper claims too
            SS.overwrite_partitions(_df(spark, [("2024-01-01", "A", 10)]), r, "d")
        return real_claim(r, version, payload)

    SS._try_claim = claim_with_interloper
    try:
        SS.overwrite_partitions(_df(spark, [("2024-01-02", "B", 20)]), root, "d")
    finally:
        SS._try_claim = real_claim
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "A", 10),
        ("2024-01-02", "B", 20),
    ]


def test_disjoint_overwrites_both_land(spark, tmp_path):
    """r11 ADVICE (medium): an intervening overwrite's REMOVE actions
    must not poison the conflict scan as touch-everything — two
    overwrites of fully disjoint partitions both land (one retries)."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d")
    SS.append(_df(spark, [("2024-01-02", "b", 2)]), root, "d")
    real_claim = SS._try_claim
    raced = {"done": False}

    def claim_with_interloper(r, version, payload):
        if not raced["done"] and payload["kind"] == "overwrite_partitions":
            raced["done"] = True
            SS.overwrite_partitions(_df(spark, [("2024-01-01", "A", 10)]), r, "d")
        return real_claim(r, version, payload)

    SS._try_claim = claim_with_interloper
    try:
        v = SS.overwrite_partitions(_df(spark, [("2024-01-02", "B", 20)]), root, "d")
    finally:
        SS._try_claim = real_claim
    assert v >= 3
    assert _rows(SS.read_table(spark, root)) == [
        ("2024-01-01", "A", 10),
        ("2024-01-02", "B", 20),
    ]


def test_pruned_read_of_existing_table_returns_empty(spark, tmp_path):
    """r11 ADVICE (low): pruning that matches nothing on a VALID table
    returns an empty frame with the table's schema — NoSuchTableError
    is reserved for genuinely absent tables/versions."""
    root = str(tmp_path / "t")
    SS.append(_df(spark, [("2024-01-01", "a", 1)]), root, "d", stats_cols=("v",))
    empty = SS.read_table(spark, root, partition_values=["2030-12-31"])
    assert empty.count() == 0
    assert empty.columns == ["d", "k", "v"]
    empty2 = SS.read_table(spark, root, column_ranges=[("v", 100, 200)])
    assert empty2.count() == 0 and empty2.columns == ["d", "k", "v"]
    with pytest.raises(SS.NoSuchTableError):
        SS.read_table(spark, str(tmp_path / "nope"))


def test_emptied_table_reads_empty_with_its_schema(spark, tmp_path):
    """A table whose partitions were all deleted reads as zero rows with
    its original schema, at the latest version and at an older emptied
    one. The deletion-vector sidecar that outlives the partition delete
    is never taken as the schema source."""
    root = str(tmp_path / "t")
    SS.append(
        _df(spark, [("2024-01-01", "a", 1), ("2024-01-02", "b", 2)]), root, "d"
    )
    v_emptied = SS.delete_partitions(spark, root, "d", ["2024-01-01", "2024-01-02"])
    SS.append(_df(spark, [("2024-01-03", "c", 3), ("2024-01-03", "d", 4)]), root, "d")
    SS.delete_where(spark, root, "v = 4", mode="dv")
    SS.delete_partitions(spark, root, "d", ["2024-01-03"])
    assert SS.dv_debt(root)["sidecars"] == 1
    want = _df(spark, []).schema
    for version in (None, v_emptied):
        empty = SS.read_table(spark, root, version=version)
        assert empty.schema == want
        assert empty.count() == 0


def test_optimize_zorder_enables_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER (r11): ingest-order batches each span the full
    value range (a column range skips nothing); after a z-ordered
    compact, each rewritten batch holds one tight z-range, so a narrow
    predicate on EITHER clustered column prunes most batches at the
    manifest level — contents unchanged, CDC across it empty."""
    import random

    rnd = random.Random(7)
    rows = [
        (f"2024-01-{1 + i % 4:02d}", float(rnd.uniform(0, 100)), float(rnd.uniform(0, 100)))
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "d string, x double, y double")
    root = str(tmp_path / "t")
    # 4 ingest-order appends, stats tracked — every batch spans [0,100]
    for i in range(4):
        SS.append(
            df.filter((F.crc32(F.concat_ws("|", "d", "x", "y")) % 4) == i),
            root, "d", stats_cols=("x", "y"),
        )
    v_before = SS.table_version(root)
    _, live0, _ = SS._snapshot(root)

    def listed(live, col, lo, hi):
        return [e for e in live if SS._stats_intersect(e, col, lo, hi)]

    assert len(listed(live0, "x", 10.0, 12.0)) == 4  # nothing skips

    v = SS.compact(spark, root, target_batches=8, zorder_by=("x", "y"))
    assert v == v_before + 1
    _, live1, _ = SS._snapshot(root)
    assert 2 <= len(live1) <= 8
    # a narrow x-range now intersects only a minority of batches
    assert len(listed(live1, "x", 10.0, 12.0)) < len(live1)
    assert len(listed(live1, "y", 90.0, 92.0)) < len(live1)

    # logically a no-op: contents equal, change feed empty
    got = sorted(
        (r["d"], r["x"], r["y"]) for r in SS.read_table(spark, root).collect()
    )
    assert got == sorted((d, x, y) for d, x, y in rows)
    assert SS.table_changes(spark, root, v_before, v).count() == 0
    # the pruned read returns exactly the filtered rows
    narrow = SS.read_table(spark, root, column_ranges=[("x", 10.0, 12.0)])
    assert narrow.count() == sum(1 for _, x, _ in rows if 10.0 <= x <= 12.0)


def test_model_based_with_delete_and_zorder_compact(spark, tmp_path):
    """r11 model check extended to the new ops: random append /
    overwrite / delete_partitions / compact(zorder_by) sequences track
    a dict-of-rows model exactly; compact steps are logical no-ops
    (model unchanged, CDC across them empty) and deletes remove whole
    day partitions. Versions may advance by >1 per op (residue batches
    ride the same commit), so the model is checked against the LATEST
    snapshot after every op, and time travel is checked against the
    per-op recorded version."""
    import random

    rng = random.Random(20260816)
    days = [f"2024-03-{d:02d}" for d in range(1, 6)]
    root = str(tmp_path / "t")
    model: dict[str, list] = {}
    checkpoints: list[tuple[int, list]] = []
    seq = 0

    def flat(m):
        return sorted(t for rows in m.values() for t in rows)

    SS.append(_df(spark, [(days[0], "seed", -1)]), root, "d")
    model[days[0]] = [(days[0], "seed", -1)]

    for step in range(14):
        op = rng.choice(["append", "overwrite", "delete", "compact"])
        if op in ("append", "overwrite"):
            batch = []
            for _ in range(rng.randint(1, 4)):
                d = rng.choice(days)
                batch.append((d, f"k{seq}", seq))
                seq += 1
            df = _df(spark, batch)
            if op == "append":
                SS.append(df, root, "d")
                for t in batch:
                    model.setdefault(t[0], []).append(t)
            else:
                SS.overwrite_partitions(df, root, "d")
                for d in {t[0] for t in batch}:
                    model[d] = []
                for t in batch:
                    model.setdefault(t[0], []).append(t)
        elif op == "delete":
            d = rng.choice(days)
            SS.delete_partitions(spark, root, "d", [d])
            model.pop(d, None)
        else:
            v0 = SS.table_version(root)
            SS.compact(spark, root, target_batches=2, zorder_by=("v", "v"))
            v1 = SS.table_version(root)
            if v1 > v0:
                assert SS.table_changes(spark, root, v0, v1).count() == 0
        want = flat(model)
        if want:
            assert _rows(SS.read_table(spark, root)) == want, f"step {step} ({op})"
        else:
            empty = SS.read_table(spark, root)
            assert empty.count() == 0, f"step {step} ({op})"
        checkpoints.append((SS.table_version(root), want))

    for v, want in checkpoints:
        if not want:
            continue
        assert _rows(SS.read_table(spark, root, version=v)) == want, f"v{v}"


def test_optimize_zorder_three_columns(spark, tmp_path):
    """k-way OPTIMIZE ZORDER (r11): clustering on THREE columns gives
    manifest-level skipping on narrow predicates of EACH of them."""
    import random

    rnd = random.Random(11)
    rows = [
        (
            "2024-01-01",
            float(rnd.uniform(0, 100)),
            float(rnd.uniform(0, 100)),
            float(rnd.uniform(0, 100)),
        )
        for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "d string, x double, y double, w double")
    root = str(tmp_path / "t")
    for i in range(3):
        SS.append(
            df.filter((F.crc32(F.concat_ws("|", "x", "y", "w")) % 3) == i),
            root, "d", stats_cols=("x", "y", "w"),
        )
    SS.compact(spark, root, target_batches=8, zorder_by=("x", "y", "w"))
    _, live, _ = SS._snapshot(root)

    def listed(col):
        return len([e for e in live if SS._stats_intersect(e, col, 5.0, 8.0)])

    assert 2 <= len(live) <= 8
    for col in ("x", "y", "w"):
        assert listed(col) < len(live), col
    got = sorted(
        (r["d"], r["x"], r["y"], r["w"])
        for r in SS.read_table(spark, root).collect()
    )
    assert got == sorted(rows)
