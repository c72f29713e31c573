"""Semantic unit tests for the round-4 operator wave (each also has a
DuckDB oracle via __spark_entry__; these pin edge cases the fixture
data may not hit)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

TS = dt.datetime


def test_interval_overlap_join_semantics(spark):
    from smartdatapipeline_spark.operators.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [
            ("L1", TS(2024, 1, 1), TS(2024, 1, 5)),
            ("L2", TS(2024, 1, 10), TS(2024, 1, 11)),
            ("Ldeg", TS(2024, 1, 3), TS(2024, 1, 3)),  # degenerate
        ],
        "lname string, a_start timestamp, a_end timestamp",
    )
    right = spark.createDataFrame(
        [
            ("R1", TS(2024, 1, 4), TS(2024, 1, 6)),   # overlaps L1 [4,5)
            ("R2", TS(2024, 1, 5), TS(2024, 1, 7)),   # touches L1 end — no overlap
            ("R3", TS(2023, 12, 30), TS(2024, 1, 2)), # overlaps L1 [1,2)
        ],
        "rname string, b_start timestamp, b_end timestamp",
    )
    got = {
        (r["lname"], r["rname"]): (r["overlap_start"], r["overlap_end"])
        for r in interval_overlap_join(
            left, right, "a_start", "a_end", "b_start", "b_end"
        ).collect()
    }
    assert set(got) == {("L1", "R1"), ("L1", "R3")}
    assert got[("L1", "R1")] == (TS(2024, 1, 4), TS(2024, 1, 5))
    assert got[("L1", "R3")] == (TS(2024, 1, 1), TS(2024, 1, 2))


def test_rolling_median_daily_windows(spark):
    from smartdatapipeline_spark.operators.temporal import rolling_median_daily

    rows = [("m", TS(2024, 1, d), float(v)) for d, v in
            [(1, 10), (2, 20), (3, 300), (4, 40)]]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {str(r["day"]): (r["n_window"], r["rolling_median"])
           for r in rolling_median_daily(ev, window_days=3).collect()}
    assert got["2024-01-01"] == (1, 10.0)
    assert got["2024-01-02"] == (2, 15.0)       # (10+20)/2
    assert got["2024-01-03"] == (3, 20.0)       # median(10,20,300) — spike-proof
    assert got["2024-01-04"] == (3, 40.0)       # median(20,300,40)


def test_forecast_hw_seasonal_pattern(spark):
    """A pure weekly pattern + zero trend forecasts that same pattern:
    init already fits it exactly and every smoothing residual is 0."""
    from smartdatapipeline_spark.operators.forecast import forecast_hw_seasonal

    pattern = [10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]
    rows = [
        ("m", dt.date(2024, 1, 1) + dt.timedelta(days=i), pattern[i % 7])
        for i in range(28)
    ]
    series = spark.createDataFrame(rows, "metric string, metric_date date, value double")
    got = {str(r["target_date"]): r["yhat"] for r in
           forecast_hw_seasonal(series).collect()}
    assert len(got) == 7
    for i in range(7):
        d = dt.date(2024, 1, 29) + dt.timedelta(days=i)
        assert got[str(d)] == pytest.approx(pattern[(28 + i) % 7], abs=1e-9)


def test_forecast_hw_short_series_fallback(spark):
    """n < 2m: Holt-style seed, no error, 7 rows out."""
    from smartdatapipeline_spark.operators.forecast import forecast_hw_seasonal

    rows = [("m", dt.date(2024, 1, 1) + dt.timedelta(days=i), 5.0) for i in range(5)]
    series = spark.createDataFrame(rows, "metric string, metric_date date, value double")
    out = forecast_hw_seasonal(series).collect()
    assert len(out) == 7
    assert all(r["yhat"] == pytest.approx(5.0) for r in out)


def test_triangle_count_known_graph(spark):
    """K4 minus one edge = 2 triangles; nodes on both get 2, others 1."""
    from smartdatapipeline_spark.functions.graph import triangle_count

    edges = spark.createDataFrame(
        # K4 on {1,2,3,4} without edge (3,4); duplicate + reversed +
        # self-loop rows exercise normalization
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (1, 1)],
        "src bigint, dst bigint",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_doc_keywords_ranking(spark):
    from smartdatapipeline_spark.functions.retrieval import doc_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "cherry shared shared"),
            (3, "shared"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in doc_keywords(docs, k=2).collect()
    }
    # doc 1: apple tf=2 df=1 score=6 beats shared tf=1 df=3 score=1
    # and banana tf=1 df=1 score=3
    assert got[(1, 1)] == ("apple", 2, 1)
    assert got[(1, 2)] == ("banana", 1, 1)
    # doc 2: shared tf=2 df=3 score=2 vs cherry tf=1 df=1 score=3
    assert got[(2, 1)] == ("cherry", 1, 1)
    assert got[(2, 2)] == ("shared", 2, 3)


def test_sorted_neighborhood_window(spark):
    from smartdatapipeline_spark.functions import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "acme widget"),
            (2, "acme widgets"),     # rank-adjacent, distance 1
            (3, "acme widgetz inc"), # within window of both
            (9, "zeta thing"),       # different first char — never paired
        ],
        "p_partkey bigint, p_name string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in DD.sorted_neighborhood_pairs(df, window=2, max_distance=5).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1
    assert (2, 3) in got
    assert all(9 not in k for k in got)


def test_compaction_plan_bins(spark):
    from smartdatapipeline_spark.functions.layout import compaction_plan

    files = spark.createDataFrame(
        [(i, "s", sz) for i, sz in enumerate([60, 50, 40, 30, 20])],
        "doc_id bigint, source string, n_bytes bigint",
    )
    got = {r["bin"]: (r["n_files"], r["total_bytes"])
           for r in compaction_plan(files, target_bytes=100).collect()}
    # size-desc fill: 60 (cum 0) -> bin 0; 50 (cum 60) -> 0; 40 (cum 110)
    # -> bin 1; 30 (cum 150) -> 1; 20 (cum 180) -> 1
    assert got[0] == (2, 110)
    assert got[1] == (3, 90)


def test_late_arrival_stats_ordered_vs_shuffled(spark):
    from smartdatapipeline_spark.operators.quality import late_arrival_stats

    # arrival order 1,2,3 but event times 10:00, 10:02, 10:01 — the
    # third event is 60 s late behind the running max
    ev = spark.createDataFrame(
        [
            (1, "m", TS(2024, 1, 1, 10, 0, 0)),
            (2, "m", TS(2024, 1, 1, 10, 2, 0)),
            (3, "m", TS(2024, 1, 1, 10, 1, 0)),
        ],
        "event_id bigint, event_type string, ts timestamp",
    )
    r = late_arrival_stats(ev).collect()[0]
    assert (r["n_events"], r["n_late"]) == (3, 1)
    assert r["max_lateness_s"] == 60
    assert r["avg_lateness_s"] == pytest.approx(60.0)
    assert r["late_frac"] == pytest.approx(1 / 3)


def test_skyline_front_dominance(spark):
    from smartdatapipeline_spark.operators.quality import skyline_front

    df = spark.createDataFrame(
        [
            (1, 10.0, 5),   # front
            (2, 10.0, 5),   # tie on both axes — mutually non-dominating
            (3, 12.0, 5),   # dominated by 1 (pricier, same size)
            (4, 15.0, 9),   # front (bigger)
            (5, 8.0, 2),    # front (cheapest)
            (6, 16.0, 9),   # dominated by 4
        ],
        "p_partkey bigint, p_retailprice double, p_size int",
    )
    got = {r["p_partkey"] for r in skyline_front(
        df, minimize="p_retailprice", maximize="p_size", id_col="p_partkey"
    ).collect()}
    assert got == {1, 2, 4, 5}

    # sub-unit price gaps (the round-4 sf0.1 regression): a dominator
    # only 0.5 cheaper must still knock out the pricier row — a RANGE
    # -1 frame on the double axis missed it
    close = spark.createDataFrame(
        [
            (10, 10.0, 5),
            (11, 10.5, 5),   # dominated by 10 (0.5 pricier, same size)
            (12, 10.5, 6),   # front (bigger than anything cheaper)
            (13, 10.6, 6),   # dominated by 12
        ],
        "p_partkey bigint, p_retailprice double, p_size int",
    )
    got2 = {r["p_partkey"] for r in skyline_front(
        close, minimize="p_retailprice", maximize="p_size", id_col="p_partkey"
    ).collect()}
    assert got2 == {10, 12}


def test_pq_roundtrip_and_adc_recall(spark):
    """PQ: codebooks per subspace, m-byte codes, ADC top-k finds the
    planted same-cluster neighbors that exact search finds."""
    import random

    from smartdatapipeline_spark.functions import similarity as SIM

    random.seed(11)
    rows = []
    vid = 0
    centers = [[5.0, 5.0, -5.0, -5.0], [-5.0, 5.0, 5.0, -5.0],
               [5.0, -5.0, -5.0, 5.0], [-5.0, -5.0, 5.0, 5.0]]
    for c in centers:
        for _ in range(12):
            rows.append((vid, [x + random.uniform(-0.5, 0.5) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = SIM.pq_train(emb, m=2, k=4, seed=1)
    assert cb.count() == 8  # 2 subspaces x 4 centroids
    codes = SIM.pq_encode(emb, cb)
    first = codes.first()
    assert len(first["codes"]) == 2
    queries = emb.filter(F.col("vec_id") % 12 == 0)  # one per cluster
    top = SIM.pq_adc_topk(cb, codes, queries, k=5)
    got = {}
    for r in top.collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid, neighbors in got.items():
        cluster = qid // 12
        # every ADC neighbor comes from the query's planted cluster
        assert all(n // 12 == cluster for n in neighbors), (qid, neighbors)
        assert len(neighbors) == 5


def test_heavy_hitters_stream_superset_of_batch(spark, tmp_path):
    """Sharded streaming MG across two micro-batches: candidate set
    must contain every exact heavy hitter, with undercount bounded by
    total/(k+1)."""
    import time as _t

    from smartdatapipeline_spark.functions.sketch import heavy_hitters
    from smartdatapipeline_spark.streaming.sketch import heavy_hitters_stream

    inp = tmp_path / "hh_in"
    inp.mkdir()
    batch1 = ["hot"] * 50 + ["warm"] * 30 + [f"cold{i}" for i in range(40)]
    batch2 = ["hot"] * 40 + ["warm"] * 25 + [f"tail{i}" for i in range(40)]
    (inp / "b1.json").write_text(
        "".join(f'{{"token": "{t}"}}\n' for t in batch1)
    )
    _t.sleep(1.1)
    (inp / "b2.json").write_text(
        "".join(f'{{"token": "{t}"}}\n' for t in batch2)
    )
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .json(str(inp))
    )
    q = (
        heavy_hitters_stream(stream, "token", k=16, nshards=4)
        .writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest: dict = {}
    for r in spark.table("hh_test").collect():
        latest[(r["shard"], r["key"])] = max(
            latest.get((r["shard"], r["key"]), 0), r["mg_count"]
        )
    stream_keys = {kk for (_, kk) in latest}
    batch_df = spark.read.schema("token string").json(str(inp))
    exact = {
        r["token"]: r["n"] for r in heavy_hitters(batch_df, "token", k=16).collect()
    }
    total = len(batch1) + len(batch2)
    assert set(exact) <= stream_keys  # superset guarantee
    for kk, n in exact.items():
        mg = max(v for (s, key), v in latest.items() if key == kk)
        assert mg <= n  # MG never overcounts
        assert n - mg <= total / (16 + 1)  # bounded undercount


def test_checksum_diff_detects_divergence(spark):
    from smartdatapipeline_spark.operators.quality import (
        checksum_diff,
        partition_checksums,
    )

    rows_a = [
        (1, "m", TS(2024, 1, 1, 10), 1.0),
        (2, "m", TS(2024, 1, 1, 11), 2.0),
        (3, "m", TS(2024, 1, 2, 10), 3.0),
        (4, "m", TS(2024, 1, 3, 10), 4.0),
    ]
    # replica: day 2 row mutated (different event_id), day 3 missing
    rows_b = [
        (1, "m", TS(2024, 1, 1, 10), 1.0),
        (2, "m", TS(2024, 1, 1, 11), 2.0),
        (99, "m", TS(2024, 1, 2, 10), 3.0),
    ]
    schema = "event_id bigint, event_type string, ts timestamp, value double"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)
    ca = partition_checksums(a, F.to_date("ts"), ("event_id", "event_type"))
    cb = partition_checksums(b, F.to_date("ts"), ("event_id", "event_type"))
    got = {str(r["part"]): r["status"] for r in checksum_diff(ca, cb).collect()}
    assert got == {"2024-01-02": "mismatch", "2024-01-03": "missing_right"}
    # identical inventories diff to empty
    assert checksum_diff(ca, ca).count() == 0


def test_pseudonymize_referential_integrity(spark):
    """Same identity → same token across frames; different salt →
    different tokens; token never equals the raw id."""
    from smartdatapipeline_spark.functions import crypto as CR

    a = spark.createDataFrame([(1,), (2,), (1,)], "user_id bigint")
    b = spark.createDataFrame([(1,), (3,)], "user_id bigint")
    ta = a.select("user_id", CR.pseudonymize(F.col("user_id")).alias("tok"))
    tb = b.select("user_id", CR.pseudonymize(F.col("user_id")).alias("tok"))
    ma = {r["user_id"]: r["tok"] for r in ta.collect()}
    mb = {r["user_id"]: r["tok"] for r in tb.collect()}
    assert ma[1] == mb[1]                 # cross-frame join key survives
    assert ma[1] != ma[2] and ma[1] != 1
    salted = a.select(
        CR.pseudonymize(F.col("user_id"), salt="other").alias("tok")
    ).first()["tok"]
    assert salted != ma[1]


def test_k_anonymity_verdict(spark):
    from smartdatapipeline_spark.functions.crypto import k_anonymity

    rows = [("a", i) for i in range(5)] + [("b", 0), ("b", 1)]
    df = spark.createDataFrame(
        [(g, i) for g, i in rows], "grp string, i bigint"
    )
    r = k_anonymity(df.select("grp"), ("grp",), k=3).first()
    assert (r["n_rows"], r["n_classes"], r["min_class_size"]) == (7, 2, 2)
    assert r["n_rows_below_k"] == 2
    assert not r["k_anonymous"]
    r2 = k_anonymity(df.select("grp"), ("grp",), k=2).first()
    assert r2["k_anonymous"]


def test_salted_join_equals_plain_join(spark):
    from smartdatapipeline_spark.functions.skew import salted_join

    left = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)] + [(100, 99, 1.0)],
        "row_id bigint, k bigint, v double",
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "rk bigint, label string"
    )
    got = sorted(
        (r["row_id"], r["label"])
        for r in salted_join(
            left, right, "k", "rk", row_col="row_id", n_salts=4
        ).collect()
    )
    want = sorted(
        (r["row_id"], r["label"])
        for r in left.join(right, left.k == right.rk).collect()
    )
    assert got == want                      # inner: unmatched key 99 drops
    # left join keeps the unmatched row with NULL label
    lgot = {
        r["row_id"]: r["label"]
        for r in salted_join(
            left, right, "k", "rk", row_col="row_id", n_salts=4, how="left"
        ).collect()
    }
    assert lgot[100] is None and len(lgot) == 31
    with pytest.raises(ValueError):
        salted_join(left, right, "k", "rk", row_col="row_id", how="full")


