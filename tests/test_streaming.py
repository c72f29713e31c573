"""Structured Streaming tests: file ingest → silver dedup → gold
recompute; windowed event-time aggregation batch/stream equivalence;
stateful sessionization (applyInPandasWithState) vs its batch twin."""

from __future__ import annotations

import datetime as dt
import time

import pytest

from smartdatapipeline_spark.sources import snapstore as SS
from smartdatapipeline_spark.streaming.ingest import stream_csv_ingest


def test_stream_ingest_end_to_end(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    (inp / "f1.csv").write_text(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T01:00:00Z,20,m\n"
        "bad-ts,99,m\n"
    )
    q = stream_csv_ingest(spark, str(inp), silver, gold, ckpt)
    q.awaitTermination(120)

    out = {r["metric_date"]: r for r in SS.read_table(spark, gold).collect()}
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 30.0
    assert out[dt.date(2025, 1, 1)]["value_count"] == 2  # bad row skipped

    # second file: one duplicate of an already-stored event + one new event
    (inp / "f2.csv").write_text(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T02:00:00Z,5,m\n"
    )
    q2 = stream_csv_ingest(spark, str(inp), silver, gold, ckpt)
    q2.awaitTermination(120)

    out = {r["metric_date"]: r for r in SS.read_table(spark, gold).collect()}
    # duplicate dropped by anti-join; only the new event added
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 35.0
    assert out[dt.date(2025, 1, 1)]["value_count"] == 3
    assert SS.read_table(spark, silver).count() == 3


def test_stream_ingest_matches_batch_ingest_and_replays_safely(spark, tmp_path):
    """The stream's micro-batch IS ``ingest_and_refresh``: two files fed
    as two stream runs on one checkpoint leave silver and gold identical
    to two batch calls. A replay of both files under a fresh checkpoint
    adds no silver row and leaves gold unchanged."""
    from smartdatapipeline_spark.operators.pipeline import ingest_and_refresh

    schema = "timestamp string, value string, metric string"
    files = [
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-01T01:00:00Z,20,n\n"
        "2025-01-01T01:00:00Z,20,n\n"
        "bad-ts,99,m\n",
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "2025-01-02T03:00:00Z,5,m\n"
        "2025-01-02T04:00:00Z,7,\n",
    ]
    inp = tmp_path / "par_in"
    inp.mkdir()
    s_silver, s_gold = str(tmp_path / "s_silver"), str(tmp_path / "s_gold")
    b_silver, b_gold = str(tmp_path / "b_silver"), str(tmp_path / "b_gold")
    for i, text in enumerate(files):
        (inp / f"f{i}.csv").write_text(text)
        stream_csv_ingest(
            spark, str(inp), s_silver, s_gold, str(tmp_path / "ckpt")
        ).awaitTermination(120)
        raw = (
            spark.read.schema(schema).option("header", True)
            .csv(str(inp / f"f{i}.csv"))
        )
        ingest_and_refresh(
            spark, raw, b_silver, b_gold, default_metric="events_total"
        )

    def rows(root):
        df = SS.read_table(spark, root)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    silver, gold = rows(s_silver), rows(s_gold)
    assert silver == rows(b_silver)
    assert gold == rows(b_gold)
    assert len(silver) == 4  # in-batch dup, cross-file dup, bad row dropped
    days = SS.read_table(spark, s_gold).select("metric_date").distinct().collect()
    assert {r[0] for r in days} == {dt.date(2025, 1, 1), dt.date(2025, 1, 2)}

    v = SS.table_version(s_silver)
    stream_csv_ingest(
        spark, str(inp), s_silver, s_gold, str(tmp_path / "ckpt_fresh")
    ).awaitTermination(120)
    assert SS.table_version(s_silver) == v
    assert rows(s_silver) == silver
    assert rows(s_gold) == gold


def test_stream_ingest_heals_gold_after_crash_before_refresh(
    spark, tmp_path, monkeypatch
):
    """A micro-batch that dies after its silver append but before the
    gold refresh is replayed as a batch of duplicates. The replay still
    refreshes gold from silver's change feed, so gold catches up with
    the committed silver version and gains the new day."""
    from smartdatapipeline_spark.operators import pipeline as P

    inp = tmp_path / "crash_in"
    inp.mkdir()
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    (inp / "f0.csv").write_text(
        "timestamp,value,metric\n2025-01-01T00:00:00Z,10,m\n"
    )
    stream_csv_ingest(spark, str(inp), silver, gold, ckpt).awaitTermination(120)

    def crash(*a, **k):
        raise RuntimeError("crash before the gold refresh")

    (inp / "f1.csv").write_text(
        "timestamp,value,metric\n2025-01-02T00:00:00Z,5,m\n"
    )
    monkeypatch.setattr(P, "refresh_gold_from_changes", crash)
    raw = (
        spark.read.schema("timestamp string, value string, metric string")
        .option("header", True)
        .csv(str(inp / "f1.csv"))
    )
    with pytest.raises(RuntimeError):
        P.ingest_and_refresh(spark, raw, silver, gold, default_metric="events_total")
    monkeypatch.undo()
    assert P.last_refreshed_silver_version(gold) < SS.table_version(silver)

    stream_csv_ingest(spark, str(inp), silver, gold, ckpt).awaitTermination(120)
    assert P.last_refreshed_silver_version(gold) == SS.table_version(silver)
    days = {r[0] for r in SS.read_table(spark, gold).select("metric_date").collect()}
    assert days == {dt.date(2025, 1, 1), dt.date(2025, 1, 2)}
    assert SS.read_table(spark, silver).count() == 2


def test_windowed_kpis_stream_matches_batch(spark, tmp_path):
    """The same windowed_kpis call runs on a readStream source with a
    watermark and must produce the batch answer once the stream drains."""
    from smartdatapipeline_spark.streaming.windows import windowed_kpis

    inp = tmp_path / "win_in"
    inp.mkdir()
    (inp / "f1.json").write_text(
        '{"ts": "2025-01-01T00:10:00Z", "metric": "m", "value": 1.0}\n'
        '{"ts": "2025-01-01T00:50:00Z", "metric": "m", "value": 2.0}\n'
        '{"ts": "2025-01-01T01:10:00Z", "metric": "m", "value": 4.0}\n'
        '{"ts": "2025-01-01T03:00:00Z", "metric": "n", "value": 8.0}\n'
    )
    schema = "ts timestamp, metric string, value double"
    batch = windowed_kpis(spark.read.schema(schema).json(str(inp)), window="1 hour")
    stream = windowed_kpis(
        spark.readStream.schema(schema).json(str(inp)),
        window="1 hour",
        watermark="1 minute",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r["window_start"], r["metric"])  # noqa: E731
    got = {key(r): (r["value_sum"], r["value_count"]) for r in spark.table("win_test").collect()}
    want = {key(r): (r["value_sum"], r["value_count"]) for r in batch.collect()}
    assert got == want and len(want) == 3


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions closed by a later
    event emit immediately; open sessions flush by event-time timeout
    when the watermark passes session_end + gap."""
    from smartdatapipeline_spark.operators.sessions import sessionize
    from smartdatapipeline_spark.streaming.sessions import sessionize_stream

    inp = tmp_path / "sess_in"
    inp.mkdir()
    (inp / "f1.json").write_text(
        '{"user_id": 1, "ts": "2025-01-01T10:00:00Z"}\n'
        '{"user_id": 1, "ts": "2025-01-01T10:10:00Z"}\n'
        '{"user_id": 1, "ts": "2025-01-01T11:30:00Z"}\n'
        '{"user_id": 2, "ts": "2025-01-01T10:05:00Z"}\n'
    )
    time.sleep(1.1)  # file-source batches order by modification time
    (inp / "f2.json").write_text('{"user_id": 99, "ts": "2025-01-01T20:00:00Z"}\n')

    schema = "user_id bigint, ts timestamp"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_test").collect()
    }
    # users 1 and 2 fully flush (u99's late event advances the watermark
    # past their timeouts); u99's own session stays open — never emitted
    batch_df = spark.read.schema(schema).json(str(inp))
    want = {
        (r["user_id"], r["session_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(batch_df, gap_minutes=30).collect()
        if r["user_id"] != 99
    }
    assert got == want and len(want) == 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving across
    micro-batches inside the watermark horizon are emitted once; the
    drained stream matches the batch twin exactly."""
    from smartdatapipeline_spark.streaming.dedup import stream_dedup

    inp = tmp_path / "dedup_in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        '{"ts": "2025-01-01T00:00:00Z", "metric": "m", "value": 1.0}\n'
        '{"ts": "2025-01-01T00:00:00Z", "metric": "m", "value": 1.0}\n'
        '{"ts": "2025-01-01T00:05:00Z", "metric": "n", "value": 2.0}\n'
    )
    (inp / "b2.json").write_text(
        '{"ts": "2025-01-01T00:00:00Z", "metric": "m", "value": 1.0}\n'
        '{"ts": "2025-01-01T00:30:00Z", "metric": "m", "value": 3.0}\n'
    )
    schema = "ts timestamp, metric string, value double"
    stream = stream_dedup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp)),
        keys=("metric", "ts"),
        watermark="1 hour",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["metric"], r["ts"].isoformat()) for r in spark.table("dedup_test").collect()
    )
    batch = stream_dedup(
        spark.read.schema(schema).json(str(inp)), keys=("metric", "ts")
    )
    want = sorted((r["metric"], r["ts"].isoformat()) for r in batch.collect())
    assert got == want
    assert len(got) == 3  # (m,00:00) once, (n,00:05), (m,00:30)


def test_stream_enrich_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: each event picks up the dim updates
    published within the hour before it; drained stream == batch."""
    from smartdatapipeline_spark.streaming.joins import stream_enrich

    ev_dir, up_dir = tmp_path / "ev", tmp_path / "up"
    ev_dir.mkdir(); up_dir.mkdir()
    (ev_dir / "e.json").write_text(
        '{"ts": "2025-01-01T10:30:00Z", "source_id": 1, "value": 10.0}\n'
        '{"ts": "2025-01-01T12:00:00Z", "source_id": 1, "value": 20.0}\n'
        '{"ts": "2025-01-01T10:40:00Z", "source_id": 2, "value": 30.0}\n'
    )
    (up_dir / "u.json").write_text(
        '{"uts": "2025-01-01T10:00:00Z", "source_id": 1, "name": "alpha-v1"}\n'
        '{"uts": "2025-01-01T11:30:00Z", "source_id": 1, "name": "alpha-v2"}\n'
        '{"uts": "2025-01-01T09:00:00Z", "source_id": 2, "name": "beta-v1"}\n'
    )
    es = "ts timestamp, source_id int, value double"
    us = "uts timestamp, source_id int, name string"

    out = stream_enrich(
        spark.readStream.schema(es).json(str(ev_dir)),
        spark.readStream.schema(us).json(str(up_dir)),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["source_id"], r["ts"].isoformat(), r["name"])
        for r in spark.table("enrich_test").collect()
    )
    batch = stream_enrich(
        spark.read.schema(es).json(str(ev_dir)),
        spark.read.schema(us).json(str(up_dir)),
    )
    want = sorted(
        (r["source_id"], r["ts"].isoformat(), r["name"]) for r in batch.collect()
    )
    assert got == want
    # event 1@10:30 sees only v1 (v2 is later); 1@12:00 sees only v2
    # (v1 is >1h before); 2@10:40 sees nothing (beta-v1 >1h before)
    assert [(s, t.split("+")[0], n) for s, t, n in want] == [
        (1, "2025-01-01T10:30:00", "alpha-v1"),
        (1, "2025-01-01T12:00:00", "alpha-v2"),
    ]


def test_rolling_zscore_stream_matches_batch(spark, tmp_path):
    """Stateful streaming z-score == batch W2 operator on the same
    ordered series (integer values ⇒ exact arithmetic both paths),
    including a null row holding its frame slot and a flat-window
    sentinel case."""
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.operators.anomaly import rolling_zscore_api
    from smartdatapipeline_spark.streaming.anomaly import rolling_zscore_stream

    rows = []
    vals_m = [10, 10, 10, 50, 12, None, 11, 10, 13, 200]
    vals_n = [5, 5, 5, 5, 5, 5, 7]  # flat window -> sentinel at the 7
    for metric, vals in (("m", vals_m), ("n", vals_n)):
        for i, v in enumerate(vals):
            ts = f"2025-01-{i + 1:02d}T00:00:00Z"
            vj = "null" if v is None else float(v)
            rows.append(f'{{"metric": "{metric}", "ts": "{ts}", "value": {vj}}}')
    inp = tmp_path / "z_in"
    inp.mkdir()
    (inp / "f1.json").write_text("\n".join(rows) + "\n")
    schema = "metric string, ts timestamp, value double"

    out = rolling_zscore_stream(
        spark.readStream.schema(schema).json(str(inp)), window=7
    )
    q = (
        out.writeStream.format("memory")
        .queryName("zscore_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["metric"], r["ts"].isoformat()): (r["z"], r["is_outlier"])
        for r in spark.table("zscore_stream_test").collect()
    }

    batch_in = spark.read.schema(schema).json(str(inp)).withColumn(
        "metric_date", F.to_date("ts")
    )
    batch = rolling_zscore_api(batch_in, window=7, date_col="metric_date")
    want = {
        (r["metric"], r["ts"].isoformat()): (r["z"], r["is_outlier"])
        for r in batch.collect()
    }
    assert got == want
    # the flat-window sentinel actually fired
    sentinel = next(v for (m, t), v in want.items() if m == "n" and "01-07" in t)
    assert sentinel == (1e9, True)
    # and the spike scored as an outlier
    spike = next(v for (m, t), v in want.items() if m == "m" and "01-10" in t)
    assert spike[1] is True and spike[0] > 3.0


def test_session_window_builtin_matches_batch_sessionize(spark, tmp_path):
    """Built-in session_window (streamed) == the batch sessionize
    operator on session bounds and event counts (window_end − gap =
    last event time)."""
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.operators.sessions import sessionize
    from smartdatapipeline_spark.streaming.windows import session_window_kpis

    rows = [
        (1, "2025-01-01T00:00:00"), (1, "2025-01-01T00:10:00"),  # session A
        (1, "2025-01-01T02:00:00"),                               # session B
        (2, "2025-01-01T01:00:00"), (2, "2025-01-01T01:29:00"),  # one session
    ]
    inp = tmp_path / "sess_in"
    inp.mkdir()
    (inp / "f.json").write_text(
        "\n".join(
            f'{{"user_id": {u}, "ts": "{t}Z"}}' for u, t in rows
        ) + "\n"
    )
    time.sleep(1.1)  # file-source batches order by modification time
    # watermark advancer in a LATER micro-batch so append mode finalizes
    # every earlier session window (same pattern as the stateful test)
    (inp / "g.json").write_text('{"user_id": 99, "ts": "2025-01-02T00:00:00Z"}\n')
    schema = "user_id long, ts timestamp"
    out = session_window_kpis(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp)),
        gap="30 minutes",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_builtin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            (r["session_end_gap"] - __import__("datetime").timedelta(minutes=30)).isoformat(),
            r["n_events"],
        )
        for r in spark.table("sess_builtin_test").collect()
    )
    batch = sessionize(spark.read.schema(schema).json(str(inp)), gap_minutes=30)
    want = sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
        )
        for r in batch.collect()
        if r["user_id"] != 99  # the advancer's own session never flushes
    )
    assert got == want and len(got) == 3


def test_stream_corpus_ingest_incremental_dedup(spark, tmp_path):
    """Streaming corpus ingest: batch 2's near-dups of batch 1 are
    dropped by the index probe; survivors append to corpus AND index
    (so later batches would see them)."""
    from smartdatapipeline_spark.streaming.corpus import stream_corpus_ingest

    inp = tmp_path / "docs_in"
    inp.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    (inp / "b1.json").write_text(
        '{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta"}\n'
        '{"doc_id": 2, "text": "one two three four five six seven"}\n'
        '{"doc_id": 3, "text": "one two three four five six seven"}\n'  # exact dup of 2
    )
    schema = "doc_id long, text string"
    q = stream_corpus_ingest(
        spark.readStream.schema(schema).json(str(inp)), corpus, index, ckpt
    )
    q.awaitTermination(120)
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got1 == [1, 2]  # batch-internal exact dup 3 dropped

    time.sleep(1.1)
    (inp / "b2.json").write_text(
        '{"doc_id": 10, "text": "alpha beta gamma delta epsilon zeta"}\n'  # dup of 1
        '{"doc_id": 11, "text": "entirely new document text goes right here"}\n'
    )
    q2 = stream_corpus_ingest(
        spark.readStream.schema(schema).json(str(inp)), corpus, index, ckpt
    )
    q2.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got2 == [1, 2, 11]  # 10 caught by the index probe
    # the index grew with the survivors only
    sigs = sorted(r["doc_id"] for r in spark.read.parquet(f"{index}/sigs").collect())
    assert sigs == [1, 2, 11]


def test_stream_ingest_dead_letter_quarantine(spark, tmp_path):
    """Dead-letter mode: invalid rows land in the quarantine table
    with their reason; valid rows flow to silver/gold unchanged."""
    inp = tmp_path / "dl_in"
    inp.mkdir()
    silver = str(tmp_path / "dl_silver")
    gold = str(tmp_path / "dl_gold")
    dl = str(tmp_path / "dl_quarantine")
    ckpt = str(tmp_path / "dl_ckpt")

    (inp / "f1.csv").write_text(
        "timestamp,value,metric\n"
        "2025-01-01T00:00:00Z,10,m\n"
        "bad-ts,99,m\n"
        "2025-01-01T01:00:00Z,not-a-number,m\n"
        "2025-01-01T02:00:00Z,5,m\n"
        "2025-01-01T02:00:00Z,5,m\n"  # within-batch duplicate
    )
    q = stream_csv_ingest(
        spark, str(inp), silver, gold, ckpt, dead_letter_path=dl
    )
    q.awaitTermination(120)
    out = {r["metric_date"]: r for r in SS.read_table(spark, gold).collect()}
    assert out[dt.date(2025, 1, 1)]["value_sum"] == 15.0
    assert out[dt.date(2025, 1, 1)]["value_count"] == 2  # dup dropped too
    quarantined = SS.read_table(spark, dl).collect()
    assert len(quarantined) == 2
    assert all(r["reason"] is not None for r in quarantined)


def test_running_balance_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState floored balance: two ordered micro-batches
    fold to bit-identical state vs the batch ordered-fold operator."""
    from smartdatapipeline_spark.operators.temporal import running_balance
    from smartdatapipeline_spark.streaming.balance import running_balance_stream

    inp = tmp_path / "bal_in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        '{"event_id": 1, "user_id": 1, "ts": "2025-01-01T00:00:00Z", "delta": 5.5}\n'
        '{"event_id": 2, "user_id": 1, "ts": "2025-01-01T00:01:00Z", "delta": -9.25}\n'
        '{"event_id": 3, "user_id": 2, "ts": "2025-01-01T00:00:30Z", "delta": -4.0}\n'
    )
    time.sleep(1.1)
    (inp / "b2.json").write_text(
        '{"event_id": 4, "user_id": 1, "ts": "2025-01-01T00:02:00Z", "delta": 3.25}\n'
        '{"event_id": 5, "user_id": 2, "ts": "2025-01-01T00:03:00Z", "delta": 7.75}\n'
    )
    schema = "event_id bigint, user_id bigint, ts timestamp, delta double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    )
    q = (
        running_balance_stream(stream)
        .writeStream.format("memory")
        .queryName("bal_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: the latest state per user is the one with most events
    # folded (n_events is monotone; memory-sink row order isn't)
    rows = spark.table("bal_test").collect()
    latest = {}
    for r in rows:
        cur = latest.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            latest[r["user_id"]] = (
                r["n_events"], r["final_balance"], r["n_clamped"],
            )
    batch_df = spark.read.schema(schema).json(str(inp))
    want = {
        r["user_id"]: (r["n_events"], r["final_balance"], r["n_clamped"])
        for r in running_balance(batch_df, "delta").collect()
    }
    assert latest == want
    assert want[1] == (3, 3.25, 1)  # 5.5 → clamp(−9.25) → 0 → 3.25
    assert want[2] == (2, 7.75, 1)


def test_forward_fill_stream_matches_batch(spark, tmp_path):
    """Streaming forward-fill over finalized day-grain rows across two
    micro-batches == batch spine+last(ignorenulls) fill, including a
    gap that SPANS the batch boundary (state carries the last value)."""
    from smartdatapipeline_spark.operators.temporal import forward_fill_daily
    from smartdatapipeline_spark.streaming.daily import forward_fill_stream

    inp = tmp_path / "ff_in"
    inp.mkdir()
    (inp / "b1.json").write_text(
        '{"series": "m1", "day": "2025-01-01", "observed": 10.5}\n'
        '{"series": "m1", "day": "2025-01-03", "observed": 4.25}\n'
        '{"series": "m2", "day": "2025-01-02", "observed": 7.0}\n'
    )
    time.sleep(1.1)
    # m1 jumps 01-03 -> 01-07: the 3-day gap spans the batch boundary
    (inp / "b2.json").write_text(
        '{"series": "m1", "day": "2025-01-07", "observed": 9.0}\n'
        '{"series": "m2", "day": "2025-01-04", "observed": 1.5}\n'
    )
    schema = "series string, day date, observed double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    )
    q = (
        forward_fill_stream(stream)
        .writeStream.format("memory")
        .queryName("ff_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], str(r["day"])): (
            r["observed"], r["value_filled"], r["is_imputed"],
        )
        for r in spark.table("ff_test").collect()
    }
    # batch twin takes raw events; day-grain rows with one event per day
    # aggregate to themselves
    ev = spark.read.schema(schema).json(str(inp)).selectExpr(
        "series as event_type", "cast(day as timestamp) as ts", "observed as value"
    )
    want = {
        (r["series"], str(r["day"])): (
            None if r["observed"] is None else float(r["observed"]),
            float(r["value_filled"]),
            r["is_imputed"],
        )
        for r in forward_fill_daily(ev).collect()
    }
    assert got == want
    assert got[("m1", "2025-01-04")] == (None, 4.25, True)
    assert got[("m1", "2025-01-06")] == (None, 4.25, True)
    assert len([k for k in got if k[0] == "m1"]) == 7  # full 01..07 spine


def test_wow_change_stream_matches_batch(spark, tmp_path):
    """Streaming week-over-week ring state == batch day-grain
    self-join, with the 7-day lookback crossing the batch boundary."""
    from smartdatapipeline_spark.operators.metrics import wow_change
    from smartdatapipeline_spark.streaming.daily import wow_change_stream

    inp = tmp_path / "wow_in"
    inp.mkdir()
    days1 = [
        ("m1", "2025-01-01", 10.0),
        ("m1", "2025-01-02", 20.0),
        ("m2", "2025-01-01", 8.0),
    ]
    days2 = [
        ("m1", "2025-01-08", 15.0),   # prev = 01-01 (state from batch 1)
        ("m1", "2025-01-09", 10.0),   # prev = 01-02
        ("m1", "2025-01-10", 3.0),    # no 01-03 -> no row
        ("m2", "2025-01-08", 2.0),    # prev = 01-01
    ]
    (inp / "b1.json").write_text(
        "".join(
            f'{{"metric": "{m}", "day": "{d}", "value_sum": {v}}}\n'
            for m, d, v in days1
        )
    )
    time.sleep(1.1)
    (inp / "b2.json").write_text(
        "".join(
            f'{{"metric": "{m}", "day": "{d}", "value_sum": {v}}}\n'
            for m, d, v in days2
        )
    )
    schema = "metric string, day date, value_sum double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    )
    q = (
        wow_change_stream(stream)
        .writeStream.format("memory")
        .queryName("wow_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["metric"], str(r["day"])): (r["value_sum"], r["prev_week"], r["pct_change"])
        for r in spark.table("wow_test").collect()
    }
    ev = spark.read.schema(schema).json(str(inp)).selectExpr(
        "metric as event_type", "cast(day as timestamp) as ts", "value_sum as value"
    )
    want = {
        (r["metric"], str(r["day"])): (
            float(r["value_sum"]), float(r["prev_week"]), r["pct_change"],
        )
        for r in wow_change(ev).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1]
        assert got[k][2] == pytest.approx(want[k][2], rel=1e-12)
    assert got[("m1", "2025-01-08")][:2] == (15.0, 10.0)
    assert ("m1", "2025-01-10") not in got


def test_distinct_registers_stream_matches_batch(spark, tmp_path):
    """Streaming HLL register build (r9): the windowed register table a
    drained stream emits must equal the batch hll_partial of the same
    rows — bounded state (≤ 2^p rows per window) and the idempotent
    at-least-once MAX semantics."""
    from smartdatapipeline_spark.functions.sketch import hll_partial
    from smartdatapipeline_spark.streaming.sketch import distinct_registers_stream

    import pyspark.sql.functions as F

    inp = tmp_path / "reg_in"
    inp.mkdir()
    rows = []
    for i in range(500):
        hour = i % 3
        rows.append(
            f'{{"ts": "2025-01-01T{hour:02d}:{i % 60:02d}:00Z", "user_id": {i % 97}}}'
        )
    (inp / "f1.json").write_text("\n".join(rows) + "\n")
    schema = "ts timestamp, user_id long"

    stream = distinct_registers_stream(
        spark.readStream.schema(schema).json(str(inp)),
        key_col="user_id",
        window="1 hour",
        watermark="1 minute",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("reg_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_src = (
        spark.read.schema(schema)
        .json(str(inp))
        .filter(F.col("user_id").isNotNull())
        .withColumn("_w", F.window("ts", "1 hour"))
    )
    batch = hll_partial(batch_src, "user_id", by=["_w"], p=8).select(
        F.col("_w.start").alias("window_start"), "bucket", "rho"
    )
    got = sorted(
        (r["window_start"], r["bucket"], r["rho"])
        for r in spark.table("reg_test").collect()
    )
    want = sorted(
        (r["window_start"], r["bucket"], r["rho"]) for r in batch.collect()
    )
    assert got == want and len({g[0] for g in got}) == 3
    # every window's register table is bounded by m = 256
    from collections import Counter

    per_win = Counter(g[0] for g in got)
    assert max(per_win.values()) <= 256


def test_cms_and_bloom_stream_match_batch(spark, tmp_path):
    """CMS grids and Bloom word tables are bounded-state streaming
    aggregations by construction (≤ depth·width / ≤ m/60 state rows,
    no watermark needed): a drained stream must equal the batch sketch
    exactly."""
    from smartdatapipeline_spark.functions.sketch import bloom_partial, cms_partial
    from smartdatapipeline_spark.streaming.sketch import bloom_stream, cms_stream

    inp = tmp_path / "sk_in"
    inp.mkdir()
    rows = [f'{{"user_id": {i % 113}}}' for i in range(3000)]
    (inp / "f1.json").write_text("\n".join(rows) + "\n")
    schema = "user_id long"

    for name, stream_fn, batch_fn in (
        (
            "cms",
            lambda df: cms_stream(df, "user_id", depth=4, width=128),
            lambda df: cms_partial(df, "user_id", depth=4, width=128),
        ),
        (
            "bloom",
            lambda df: bloom_stream(df, "user_id", m_bits=2048, n_hashes=4),
            lambda df: bloom_partial(df, "user_id", m_bits=2048, n_hashes=4),
        ),
    ):
        q = (
            stream_fn(spark.readStream.schema(schema).json(str(inp)))
            .writeStream.format("memory")
            .queryName(f"sk_{name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table(f"sk_{name}").collect())
        want = sorted(
            tuple(r)
            for r in batch_fn(spark.read.schema(schema).json(str(inp))).collect()
        )
        assert got == want and len(got) > 0, name


def test_dyadic_stream_matches_batch(spark, tmp_path):
    """Dyadic-CMS quantile grids are bounded-state streaming
    aggregations by construction (≤ levels·depth·width state rows, ×
    groups with `by`): a drained stream must equal the batch grid
    cell-for-cell — including the grouped variant (round 10)."""
    from smartdatapipeline_spark.functions.sketch import dyadic_cms_partial
    from smartdatapipeline_spark.streaming.sketch import dyadic_stream

    inp = tmp_path / "dy_in"
    inp.mkdir()
    rows = [
        f'{{"g": "{"ab"[i % 2]}", "v": {(i * i) % 20000}}}' for i in range(4000)
    ]
    (inp / "f1.json").write_text("\n".join(rows) + "\n")
    schema = "g string, v long"

    for name, by in (("global", None), ("grouped", ["g"])):
        q = (
            dyadic_stream(
                spark.readStream.schema(schema).json(str(inp)),
                "v", levels=15, depth=4, width=512, by=by,
            )
            .writeStream.format("memory")
            .queryName(f"dy_{name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table(f"dy_{name}").collect())
        want = sorted(
            tuple(r)
            for r in dyadic_cms_partial(
                spark.read.schema(schema).json(str(inp)),
                "v", levels=15, depth=4, width=512, by=by,
            ).collect()
        )
        assert got == want and len(got) > 0, name
        # state bound: ≤ levels·depth·width (× 2 groups)
        bound = 15 * 4 * 512 * (2 if by else 1)
        assert len(got) <= bound
