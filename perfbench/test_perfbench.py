"""Tests for the benchmark's own logic (not the library's):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402


def _inputs(seed: int, out: str) -> list[str]:
    os.makedirs(out)
    rng = random.Random(seed)
    clean = gen.kpi_rows(rng, 3, 0, 4, 5)
    gen.write_raw_csv(os.path.join(out, "drop.csv"), rng, clean, clean[:3], 0.1)
    rows, _ = gen.corpus(rng, 20, 0.1, 0.1)
    gen.write_docs(os.path.join(out, "docs"), rows, n_files=2)
    gen.stage_stream(gen.events(rng, 100), os.path.join(out, "stream"), 2)
    return ["drop.csv", "docs/part-000.parquet", "docs/part-001.parquet",
            "stream/part-000.parquet", "stream/part-001.parquet"]


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    files = _inputs(7, str(a))
    _inputs(7, str(b))
    _inputs(8, str(c))
    for f in files:
        assert filecmp.cmp(a / f, b / f, shallow=False), f
        assert not filecmp.cmp(a / f, c / f, shallow=False), f


def test_expected_gold_sums_decimals_exactly():
    clean = [("2025-01-01 00:00:01", "m0", "0.10"), ("2025-01-01 00:00:02", "m0", "0.20"),
             ("2025-01-02 00:00:01", "m0", "1.00")]
    want = gen.expected_gold(clean)
    assert want[("2025-01-01", "m0")] == (0.3, 0.15, 2)  # decimal, not 0.1 + 0.2
    assert want[("2025-01-02", "m0")] == (1.0, 1.0, 1)


def test_late_readings_never_share_a_key_with_earlier_rows():
    rng = random.Random(3)
    rows = gen.kpi_rows(rng, 2, 0, 5, 2000)
    for lag in (1, 2, 3):  # the residues ingest.py gives late readings
        rows += gen.kpi_rows(rng, 2, 4 - lag, 1, 500, second0=2 * lag + 1, step=8)
    keys = [(ts, metric) for ts, metric, _ in rows]
    assert len(keys) == len(set(keys))


def test_corpus_copies_follow_originals():
    rows, copies = gen.corpus(random.Random(1), 50, 0.1, 0.1)
    texts = {r[0]: r[1] for r in rows}
    assert len(copies) == 10 and min(copies) >= 50
    for i, (src, kind) in copies.items():
        assert src < 50
        assert texts[i] == (texts[src] if kind == "exact" else f"{texts[src]} dup")


def test_events_follow_the_sf01_shape():
    t = gen.events(random.Random(2), 2000).to_pydict()
    assert t["event_id"] == list(range(2000))
    assert t["ts"] == sorted(t["ts"])
    assert gen.EVENT_DAY0 <= t["ts"][0] and t["ts"][-1].month == 1
    assert set(t["event_type"]) == set(gen.EVENT_TYPES)
    assert 0 <= min(t["user_id"]) and max(t["user_id"]) < 1500
    assert 40 < sum(t["value"]) / 2000 < 60  # exponential, mean 50


def test_documents_follow_the_sf01_shape():
    rows, _ = gen.corpus(random.Random(4), 500, 0, 0)
    lengths = [len(text.split()) for _, text, _ in rows]
    assert min(lengths) >= 10 and max(lengths) <= 99
    assert {w for _, text, _ in rows for w in text.split()} == set(gen.VOCAB)
    assert {lang for *_, lang in rows} == {lang for lang, _ in gen.LANGS}


@pytest.mark.parametrize("n,p", [(1, 50), (19, 50), (20, 50), (39, 50), (40, 75),
                                 (100, 90), (200, 95), (999, 95), (1000, 99), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert spans.tail_percentile(n) == p
    if p > 50:
        assert round(n * (100 - p), 6) >= 1000


def test_percentile_interpolates():
    assert spans.percentile([3, 1, 2], 50) == 2
    assert spans.percentile([0, 10], 75) == 7.5
    assert spans.percentile([5], 99) == 5


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert spans.union_length([]) == 0


def test_tree_cpu_counts_this_process():
    c0, t = spans.tree_cpu(os.getpid()), time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert spans.tree_cpu(os.getpid()) - c0 >= 0.25


def test_rss_sampler_counts_processes_seen_twice(monkeypatch):
    assert spans.tree_rss(os.getpid())[os.getpid()] > 0  # the root counts, whatever its name
    samples = iter([{1: 100}, {1: 100, 2: 5000}, {1: 120}, {1: 120, 3: 7}, {1: 110, 3: 7}])
    monkeypatch.setattr(spans, "tree_rss", lambda root: next(samples))
    sampler = spans.RssSampler()
    for _ in range(5):
        sampler._sample()
    assert sampler.peak == 120  # pid 2 lived for one sample only


def test_metric_names_charset_and_declared_set():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    import run

    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    produced = {f"{s}.{c}" for s in run.SPANS for c in spans.COUNTERS}
    produced |= {n for n, _ in run.STORE_COUNTERS} | {"cachetrack.leaked_rdds"}
    assert layer == produced
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {"setup_s", "peak_mem_mb", "op_cpu_s"} == e2e
    for name in e2e | layer:
        assert spans.NAME_RE.match(name), name
    assert not spans.NAME_RE.match("bad name")
    assert not spans.NAME_RE.match("_leading")


def test_union_find_labels_min_id():
    from corpus import union_find_labels

    assert union_find_labels([1, 2, 3, 4, 5], [(2, 4), (4, 5), (3, 3)]) == {
        1: 1, 2: 2, 3: 3, 4: 2, 5: 2}


def test_counters_on_a_tiny_job():
    pyspark = pytest.importorskip("pyspark")
    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    try:
        tracer = spans.SparkTracer(spark)
        with tracer.span("probe.tiny"):
            spark.range(0, 1000, numPartitions=3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        c = tracer.per_call("probe.tiny")
        assert c["jobs"] >= 1 and c["tasks"] >= 3
        assert c["cpu_s"] > 0 and c["shuffle_mb"] > 0
        assert 0 <= c["driver_s"] <= c["wall_s"]
        with tracer.span("probe.idle"):
            pass
        assert tracer.per_call("probe.idle")["jobs"] == 0
        assert tracer.per_call("never.called") == dict.fromkeys(spans.COUNTERS, 0.0)
        assert 0 < spans.jvm_live_heap(spark, readings=2, pause=0.1) < 2**31
    finally:
        spark.stop()
