"""CDC-driven incremental KPI refresh (r10 VERDICT #1): gold is
recomputed from silver's CHANGE FEED — only touched day partitions,
via manifest-pruned reads — and must equal the full batch recompute
in every flow: multi-batch ingest, decoupled multi-writer appends,
idempotent retries, and corrections that empty a day entirely."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from smartdatapipeline_spark.operators.kpi import run_daily_kpis
from smartdatapipeline_spark.operators.pipeline import (
    ingest_and_refresh,
    last_refreshed_silver_version,
    refresh_gold_from_changes,
)
from smartdatapipeline_spark.sources import snapstore as SS


def _silver_batch(spark, rows):
    """rows: (iso_ts, metric, value, source_id)."""
    data = [
        (dt.datetime.fromisoformat(ts), m, float(v), s) for ts, m, v, s in rows
    ]
    return spark.createDataFrame(
        data, "ts timestamp, metric string, value double, source_id int"
    ).withColumn("event_date", F.to_date("ts"))


def _gold_rows(spark, root):
    return sorted(
        map(tuple, SS.read_table(spark, root).select(
            "metric_date", "source_id", "metric",
            "value_sum", "value_avg", "value_count",
        ).collect())
    )


def _full_rows(silver_df):
    return sorted(
        map(tuple, run_daily_kpis(silver_df.drop("event_date")).select(
            "metric_date", "source_id", "metric",
            "value_sum", "value_avg", "value_count",
        ).collect())
    )


def test_refresh_from_changes_equals_full_recompute(spark, tmp_path):
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    b1 = _silver_batch(spark, [
        ("2025-01-01T00:00:00", "m", 10, 1),
        ("2025-01-01T06:00:00", "m", 20, 1),
        ("2025-01-02T00:00:00", "m", 5, 1),
    ])
    b2 = _silver_batch(spark, [
        ("2025-01-02T12:00:00", "m", 7, 1),     # adds to an existing day
        ("2025-01-03T00:00:00", "n", 1, 1),     # new day, new metric
    ])
    SS.append(b1, silver, "event_date")
    r1 = refresh_gold_from_changes(spark, silver, gold)
    assert (r1["from_version"], r1["silver_version"]) == (0, 1)
    assert r1["refreshed_days"] == 2
    assert _gold_rows(spark, gold) == _full_rows(SS.read_table(spark, silver))

    SS.append(b2, silver, "event_date")
    r2 = refresh_gold_from_changes(spark, silver, gold)
    # window starts where the last refresh ended — tracked in the log
    assert (r2["from_version"], r2["silver_version"]) == (1, 2)
    assert r2["refreshed_days"] == 2  # 01-02 (re-agg) + 01-03 (new)
    assert _gold_rows(spark, gold) == _full_rows(SS.read_table(spark, silver))
    # day 01-01 was NOT rewritten by the second refresh; the refresh's
    # LAST commit is the action-free progress marker (r12 crash-safety:
    # progress advances only after data + cleanup have both landed)
    h = SS.history(gold)
    assert h[-1]["kind"] == "refresh-mark"
    assert h[-1]["idempotency_key"] == "cdc-refresh:2"
    assert h[-2]["replaced"] == ["2025-01-02", "2025-01-03"]
    assert last_refreshed_silver_version(gold) == 2


def test_refresh_is_idempotent_and_noop_when_current(spark, tmp_path):
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    SS.append(
        _silver_batch(spark, [("2025-01-01T00:00:00", "m", 10, 1)]),
        silver, "event_date",
    )
    refresh_gold_from_changes(spark, silver, gold)
    v_gold = SS.table_version(gold)
    # nothing new in silver ⇒ no-op, no commit
    r = refresh_gold_from_changes(spark, silver, gold)
    assert r["refreshed_days"] == 0 and SS.table_version(gold) == v_gold
    # a crashed-and-retried refresh of the SAME window replays via its
    # idempotency key: force from_version back and re-run
    r2 = refresh_gold_from_changes(spark, silver, gold, from_version=0)
    assert SS.table_version(gold) == v_gold  # key replay — no new commit
    assert r2["silver_version"] == 1


def test_refresh_deletes_day_emptied_by_correction(spark, tmp_path):
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    SS.append(_silver_batch(spark, [
        ("2025-01-01T00:00:00", "m", 10, 1),
        ("2025-01-02T00:00:00", "m", 5, 1),
    ]), silver, "event_date")
    refresh_gold_from_changes(spark, silver, gold)
    assert len(_gold_rows(spark, gold)) == 2
    # correction: day 01-02 was bogus — delete it from silver entirely
    SS.delete_partitions(spark, silver, "event_date", ["2025-01-02"])
    r = refresh_gold_from_changes(spark, silver, gold)
    assert r["deleted_days"] == 1
    rows = _gold_rows(spark, gold)
    assert len(rows) == 1 and str(rows[0][0]) == "2025-01-01"
    assert rows == _full_rows(SS.read_table(spark, silver))


def test_ingest_and_refresh_incremental_matches_batch_mode(spark, tmp_path):
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
        "2025-01-01T00:00:00Z,10,m\n"      # dup of batch 1 ⇒ dropped
        "2025-01-02T00:00:00Z,5,m\n"
    )
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ingest_and_refresh(spark, R.read_csv(spark, p1), silver, gold)
    ingest_and_refresh(spark, R.read_csv(spark, p2), silver, gold)
    # batch mode: the whole of gold recomputed from the whole of silver
    assert _gold_rows(spark, gold) == _full_rows(SS.read_table(spark, silver))
    # the refreshes recorded their progress in the gold log
    assert last_refreshed_silver_version(gold) == 2


def test_ingest_and_refresh_rejects_removed_paths(spark, tmp_path):
    """The lock+swap parquet sink and the full-silver gold recompute are
    gone: asking for either raises a ValueError naming the removed path
    before anything is read or written."""
    import pytest

    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    raw = spark.range(1)
    with pytest.raises(ValueError, match="lock\\+swap parquet sink was removed"):
        ingest_and_refresh(spark, raw, silver, gold, store="parquet")
    with pytest.raises(ValueError, match="full-silver gold recompute was removed"):
        ingest_and_refresh(spark, raw, silver, gold, incremental=False)
    assert not (tmp_path / "silver").exists() and not (tmp_path / "gold").exists()


def test_ingest_and_refresh_releases_its_checkpoint(spark, tmp_path):
    """The anti-join output is localCheckpointed (the refreshByPath
    self-read guard) and must be unpersisted before the call returns,
    not whenever a JVM GC lets the ContextCleaner find it. No GC is
    forced here. Compared against the RDDs persisted before the call,
    so caches other tests hold on the shared session do not count."""
    from smartdatapipeline_spark.sources import readers as R

    p = str(tmp_path / "a.csv")
    open(p, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-02T00:00:00Z,5,m\n"
    )
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    # the second call inserts nothing and returns early
    for _ in range(2):
        ingest_and_refresh(spark, R.read_csv(spark, p), silver, gold)
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert len(_gold_rows(spark, gold)) == 2


def test_hll_store_as_incremental_materialized_view(spark, tmp_path):
    """refresh_from_changes generalizes past gold: the HLL register
    store maintained from the silver change feed equals the direct
    batch sketch of the CURRENT silver — including after a correction
    that empties a day (its partition vanishes from the store)."""
    from smartdatapipeline_spark.functions.sketch import (
        hll_partial,
        hll_raw_estimate,
    )
    from smartdatapipeline_spark.operators.sketchstore import (
        distinct_from_store,
        refresh_register_store_from_changes,
    )

    silver = str(tmp_path / "silver")
    store = str(tmp_path / "hllmv")
    b1 = _silver_batch(spark, [
        ("2025-01-01T00:00:00", "m", 1, 1),
        ("2025-01-01T01:00:00", "m", 2, 2),
        ("2025-01-02T00:00:00", "m", 3, 3),
    ])
    SS.append(b1, silver, "event_date")
    r1 = refresh_register_store_from_changes(
        spark, silver, store, key_col="source_id"
    )
    assert r1["refreshed_days"] == 2

    b2 = _silver_batch(spark, [
        ("2025-01-02T12:00:00", "m", 4, 9),   # more users on an existing day
        ("2025-01-03T00:00:00", "m", 5, 4),
    ])
    SS.append(b2, silver, "event_date")
    r2 = refresh_register_store_from_changes(
        spark, silver, store, key_col="source_id"
    )
    assert r2["refreshed_days"] == 2 and r2["from_version"] == 1

    def want():
        cur = SS.read_table(spark, silver).withColumn(
            "metric_date", F.col("event_date")
        )
        return sorted(
            tuple(map(str, r))
            for r in hll_raw_estimate(
                hll_partial(cur.filter(F.col("source_id").isNotNull()),
                            "source_id", by=["metric"], p=8),
                by=["metric"], p=8,
            ).collect()
        )

    def got():
        return sorted(
            tuple(map(str, r))
            for r in distinct_from_store(
                spark, store, key_col="source_id", by_metric=True,
            ).collect()
        )

    assert got() == want()
    # correction: delete day 01-02 from silver; the view must drop it
    SS.delete_partitions(spark, silver, "event_date", ["2025-01-02"])
    r3 = refresh_register_store_from_changes(
        spark, silver, store, key_col="source_id"
    )
    assert r3["deleted_days"] == 1
    store_days = {
        str(r["metric_date"])
        for r in SS.read_table(spark, store).select("metric_date").collect()
    }
    assert "2025-01-02" not in store_days
    assert got() == want()


def test_quarantine_dead_letter_table(spark, tmp_path):
    """Rejected rows are EVIDENCE, not log lines: with quarantine_path
    set, every invalid row lands in the dead-letter table with its
    rejection reason, and the valid pipeline is byte-identical to a run
    without quarantine."""
    from smartdatapipeline_spark.sources import readers as R

    p = str(tmp_path / "a.csv")
    open(p, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "bad-ts,99,m\n"
        "2025-01-02T00:00:00Z,not-a-number,m\n"
    )
    silver, gold = str(tmp_path / "s"), str(tmp_path / "g")
    dlq = str(tmp_path / "q")
    stats = ingest_and_refresh(
        spark, R.read_csv(spark, p), silver, gold, quarantine_path=dlq,
    )
    assert stats["quarantined_rows"] == 2
    q = SS.read_table(spark, dlq)
    rows = {(r["reason"] is not None) for r in q.collect()}
    assert q.count() == 2 and rows == {True}
    reasons = sorted(r["reason"] for r in q.select("reason").collect())
    assert len(reasons) == 2 and all(reasons)
    # no-quarantine run unchanged
    silver2, gold2 = str(tmp_path / "s2"), str(tmp_path / "g2")
    stats2 = ingest_and_refresh(spark, R.read_csv(spark, p), silver2, gold2)
    assert "quarantined_rows" not in stats2
    assert _gold_rows(spark, gold2) == _gold_rows(spark, gold)
