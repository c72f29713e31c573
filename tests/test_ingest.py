"""Ingestion-path tests mirroring the reference's ingestion_upload suite
(SURVEY §5): CSV/JSON/NDJSON parsing, synonym projection, coercion,
validation reasons, dedup, stats."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from smartdatapipeline_spark.sources import ingest as I
from smartdatapipeline_spark.sources import readers as R
from smartdatapipeline_spark.sources import sinks as S
from smartdatapipeline_spark.sources import snapstore as SS


@pytest.fixture()
def tmpfile(tmp_path):
    def write(name: str, content: str | bytes) -> str:
        p = tmp_path / name
        mode = "wb" if isinstance(content, bytes) else "w"
        with open(p, mode) as f:
            f.write(content)
        return str(p)

    return write


def test_csv_bom_and_blank_lines(spark, tmpfile):
    """S1: utf-8-sig BOM + blank lines tolerated (ingestion.py:53-62)."""
    path = tmpfile(
        "a.csv",
        b"\xef\xbb\xbftimestamp,value,metric\n2025-01-01T00:00:00Z,4,m\n\n2025-01-01T01:00:00Z,5,m\n",
    )
    clean = I.clean_rows(R.read_csv(spark, path))
    rows = clean.collect()
    assert len(rows) == 2
    assert all(r["_warn"] is None for r in rows)
    assert rows[0]["value"] == 4.0


def test_synonym_keys_and_default_metric(spark, tmpfile):
    """P1: time/amount/name synonyms; default_metric fallback (F2)."""
    path = tmpfile("b.csv", "Time,Amount,Name\n2025-01-02,7,orders\n2025-01-03,8,\n")
    clean = I.clean_rows(R.read_csv(spark, path), default_metric="events_total")
    rows = sorted(clean.collect(), key=lambda r: r["ts"])
    assert rows[0]["metric"] == "orders" and rows[0]["value"] == 7.0
    assert rows[1]["metric"] == "events_total"  # empty -> default


def test_validation_reason_strings(spark, tmpfile):
    """P4: exact reason strings + counts (ingestion.py:143-168)."""
    path = tmpfile(
        "c.csv",
        "timestamp,value\ngarbage,1\n2025-01-01,notnum\n2025-01-02,3\n",
    )
    clean = I.clean_rows(R.read_csv(spark, path))  # no metric col, no default
    warns = sorted(r["_warn"] for r in clean.collect() if r["_warn"])
    assert warns == [
        "Invalid/missing numeric value (value)",
        "Invalid/missing timestamp (timestamp)",
        "Missing metric and no default_metric provided",
    ]


def test_json_array_and_ndjson_with_bad_line(spark, tmpfile):
    """S2: array via multiLine; NDJSON bad line -> parse-error warning."""
    arr = tmpfile(
        "d.json",
        '[{"timestamp": "2025-08-13T00:00:00Z", "value": 4, "metric": "events_total"},'
        ' {"timestamp": "2025-08-13T01:00:00Z", "value": 5, "metric": "events_total"}]',
    )
    rows = I.clean_rows(R.read_json_auto(spark, arr)).collect()
    assert len(rows) == 2 and all(r["_warn"] is None for r in rows)
    # golden from reference UAT: same-day sum=9, avg=4.5, count=2
    assert sum(r["value"] for r in rows) == 9.0

    nd = tmpfile(
        "e.ndjson",
        '{"timestamp": "2025-01-01", "value": 1, "metric": "m"}\n'
        "this is not json\n"
        '{"timestamp": "2025-01-02", "value": 2, "metric": "m"}\n',
    )
    clean = I.clean_rows(R.read_json_auto(spark, nd)).collect()
    warns = [r["_warn"] for r in clean if r["_warn"]]
    assert warns == ["JSON parse error in NDJSON line"]
    assert sum(1 for r in clean if r["_warn"] is None) == 2


def test_csv_header_validation(spark, tmpfile):
    ok_path = tmpfile("f.csv", "timestamp,value\n2025-01-01,1\n")
    assert R.csv_header_ok(spark, ok_path) == (True, None)
    bad = tmpfile("g.csv", "when,how_much\n2025-01-01,1\n")
    assert R.csv_header_ok(spark, bad) == (False, "MISSING_COLUMNS")


def test_infer_source_name_precedence(spark):
    """S5: a ``source`` field in the data wins, then the query
    parameter, then 'default' (reference routers/ingest.py:224-246)."""
    with_src = spark.createDataFrame(
        [("web", 1.0), (None, 2.0)], "Source string, value double"
    )
    got = R.infer_source_name(with_src, "param").orderBy("value").collect()
    assert [r["source_name"] for r in got] == ["web", "param"]
    plain = spark.createDataFrame([(1.0,)], "value double")
    assert [
        R.infer_source_name(plain, p).first()["source_name"]
        for p in ("param", None, "")
    ] == ["param", "default", "default"]


def test_write_bronze_appends(spark, tmp_path):
    """S7: bronze is append-only — a second write adds to the first."""
    path = str(tmp_path / "bronze")
    S.write_bronze(spark.createDataFrame([(1, "a")], "id int, v string"), path)
    S.write_bronze(spark.createDataFrame([(2, "b")], "id int, v string"), path)
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b")]


def test_strict_preflight_rejects_file_with_any_bad_row(spark, tmpfile):
    path = tmpfile("h.csv", "timestamp,value\n2025-01-01,1\nbad,2\n")
    clean = I.clean_rows(R.read_csv(spark, path))
    assert R.strict_csv_has_bad_rows(clean) is True


def test_upsert_dedup_and_duplicate_count(spark):
    """S8/J4: in-batch dedup + anti-join vs existing; duplicates counted."""
    t0 = dt.datetime(2025, 1, 1)
    batch = spark.createDataFrame(
        [
            Row(source_id=1, ts=t0, metric="m", value=1.0),
            Row(source_id=1, ts=t0, metric="m", value=1.0),  # in-batch dup
            Row(source_id=1, ts=t0 + dt.timedelta(hours=1), metric="m", value=2.0),
            Row(source_id=1, ts=t0 + dt.timedelta(hours=2), metric="m", value=3.0),
        ]
    )
    existing = spark.createDataFrame(
        [Row(source_id=1, ts=t0 + dt.timedelta(hours=1), metric="m", value=2.0)]
    )
    to_insert, _ = I.upsert_clean_events(batch, existing)
    inserted = to_insert.count()
    assert inserted == 2  # t0 and t0+2h
    duplicates = batch.count() - inserted
    assert duplicates == 2  # one in-batch dup + one pre-existing


def test_get_or_create_sources_ids_stable(spark):
    existing = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    names = spark.createDataFrame([Row(name="b"), Row(name="c"), Row(name="d")])
    out = {r["name"]: r["id"] for r in I.get_or_create_sources(spark, existing, names).collect()}
    assert out == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_ingest_stats_contract(spark, tmpfile):
    path = tmpfile(
        "i.csv",
        "timestamp,value,metric\n"
        "2025-01-01T05:00:00Z,1,beta\n"
        "2025-01-02T06:00:00Z,2,alpha\n"
        "bad,3,alpha\n",
    )
    stats = I.ingest_stats_from_clean(I.clean_rows(R.read_csv(spark, path)))
    assert stats["ingested_rows"] == 2
    assert stats["skipped_rows"] == 1
    assert stats["metrics"] == ["alpha", "beta"]
    assert stats["metric"] == "beta"  # earliest-ts stand-in for first-seen
    assert stats["warnings"] == ["Invalid/missing timestamp (timestamp)"]
    assert stats["min_ts"].startswith("2025-01-01T05:00:00")


def test_kpi_recompute_scope_quirk(spark, tmpfile):
    """Pins the reference's surface asymmetry: the /upload endpoint
    recomputes KPIs for ONLY the first metric (routers/upload.py:96-102)
    while /ingest recomputes ALL metrics seen (routers/ingest.py:183-189)
    — a multi-metric upload leaves later metrics' gold stale."""
    path = tmpfile(
        "q.csv",
        "timestamp,value,metric\n"
        "2025-01-01T05:00:00Z,1,beta\n"
        "2025-01-02T06:00:00Z,2,alpha\n",
    )
    stats = I.ingest_stats_from_clean(I.clean_rows(R.read_csv(spark, path)))
    # ingest path: every metric in the batch
    assert I.kpi_recompute_scope(stats, "ingest") == ["alpha", "beta"]
    # upload path: first metric only (min-by-ts), alpha's gold stays stale
    assert I.kpi_recompute_scope(stats, "upload") == ["beta"]
    # empty batch: nothing to recompute on either surface
    empty = {"metric": None, "metrics": []}
    assert I.kpi_recompute_scope(empty, "ingest") == []
    assert I.kpi_recompute_scope(empty, "upload") == []
    with pytest.raises(ValueError):
        I.kpi_recompute_scope(stats, "bulk")


def test_end_to_end_file_to_gold(spark, tmpfile, tmp_path):
    """§7.1 minimum slice: CSV -> clean -> dedup -> silver -> daily KPI ->
    gold partition overwrite -> read back golden values."""
    from smartdatapipeline_spark.operators import kpi as K

    path = tmpfile(
        "j.csv",
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T01:00:00Z,20,m\n"
        "2025-01-01T02:00:00Z,30,m\n"
        "2025-01-02T00:00:00Z,40,m\n",
    )
    clean = I.clean_rows(R.read_csv(spark, path)).filter("_warn IS NULL")
    clean = clean.withColumn("source_id", __import__("pyspark").sql.functions.lit(1))
    to_insert, _ = I.upsert_clean_events(clean.drop("_warn"), None)
    silver = str(tmp_path / "silver")
    SS.append(to_insert, silver)
    gold = K.run_daily_kpis(SS.read_table(spark, silver))
    gold_path = str(tmp_path / "gold")
    SS.overwrite_partitions(gold, gold_path, "metric_date")
    out = {r["metric_date"]: r for r in SS.read_table(spark, gold_path).collect()}
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 60.0
    assert out[dt.date(2025, 1, 1)]["value_avg"] == 20.0
    assert out[dt.date(2025, 1, 1)]["value_count"] == 3
    assert out[dt.date(2025, 1, 2)]["value_sum"] == 40.0

    # idempotent re-upsert: same gold recompute overwrites same partitions
    SS.overwrite_partitions(gold, gold_path, "metric_date")
    assert SS.read_table(spark, gold_path).count() == 2


def test_bucketed_gold_aggregation_plans_without_exchange(spark, tmp_path):
    """Bucketed+sorted gold: a groupBy on the bucket key must NOT add an
    Exchange (the co-location pattern that deletes the shuffle at scale)."""
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.operators import kpi as K

    rows = [
        Row(ts=dt.datetime(2025, 1, 1 + i % 3, 10, 0, 0), source_id=1,
            metric=f"m{i % 5}", value=float(i))
        for i in range(200)
    ]
    events = spark.createDataFrame(rows)
    gold = K.run_daily_kpis(events)
    table = "gold_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    S.write_bucketed_gold(gold, table, buckets=4, bucket_cols=("metric",))
    try:
        agg = spark.table(table).groupBy("metric").agg(F.sum("value_sum").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ingest_and_refresh_end_to_end(spark, tmp_path):
    """§3.1 orchestration: two successive ingests — duplicate counting,
    scoped gold refresh, stats contract."""
    from smartdatapipeline_spark.operators.pipeline import ingest_and_refresh

    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    p1 = str(tmp_path / "a.csv")
    open(p1, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T01:00:00Z,20,m\n"
        "bad-ts,99,m\n"
    )
    s1 = ingest_and_refresh(spark, R.read_csv(spark, p1), silver, gold)
    assert s1["ingested_rows"] == 2 and s1["skipped_rows"] == 1
    assert s1["duplicate_rows"] == 0
    out = {r["metric_date"]: r for r in SS.read_table(spark, gold).collect()}
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 30.0

    # second ingest: one duplicate + one new event on a new day
    p2 = str(tmp_path / "b.csv")
    open(p2, "w").write(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-02T00:00:00Z,5,m\n"
    )
    s2 = ingest_and_refresh(spark, R.read_csv(spark, p2), silver, gold)
    assert s2["ingested_rows"] == 2 and s2["duplicate_rows"] == 1
    out = {r["metric_date"]: r for r in SS.read_table(spark, gold).collect()}
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 30.0  # day 1 unchanged
    assert out[dt.date(2025, 1, 2)]["value_sum"] == 5.0
    assert SS.read_table(spark, silver).count() == 3


def test_partitioned_gold_prunes_date_filter(spark, tmp_path):
    """The partitioned gold layout must turn a day read into pruning:
    one overwrite per day leaves one batch per day, and a day read
    hands Spark only that day's files (manifest-level pruning)."""
    from smartdatapipeline_spark.operators import kpi as K

    rows = [
        Row(ts=dt.datetime(2025, 1, 1 + i % 5, 8), source_id=1, metric="m", value=1.0)
        for i in range(50)
    ]
    gold = K.run_daily_kpis(spark.createDataFrame(rows))
    path = str(tmp_path / "gold")
    for day in range(1, 6):
        SS.overwrite_partitions(
            gold.filter(gold["metric_date"] == dt.date(2025, 1, day)),
            path, "metric_date",
        )
    q = SS.read_table(
        spark, path, partition_values=["2025-01-03"], partition_col="metric_date"
    )
    def batch_dirs(df):
        return {f.split("/data/")[1].split("/")[0] for f in df.inputFiles()}

    assert len(batch_dirs(q)) == 1
    assert len(batch_dirs(SS.read_table(spark, path))) == 5
    assert q.count() == 1
