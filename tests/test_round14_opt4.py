"""Round-14 optimization wave 5: batched order-statistic probes and the
cooccurrence capped-frame cache must reproduce the former per-rank /
per-column results exactly — these tests pin each change against a
definitional reference (a real sort)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.functions.sketch import (
    values_at_ranks,
    values_at_ranks_cols,
    winsorized_stats,
)


def _sorted_col(rows, key):
    return sorted(r[key] for r in rows)


def test_values_at_ranks_cols_matches_sorted(spark):
    # mixed types (int / long / double), ties at boundaries, skewed mass
    rows = [
        (i % 7, (i * i) % 23, float((i * 13) % 101) / 3.0) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "a int, b long, c double")
    n = 500
    ranks = {"a": [1, 125, 250, 500], "b": [3, 250, 498], "c": [125, 375]}
    got = values_at_ranks_cols(df, ranks, n)
    data = df.collect()
    for col, ks in ranks.items():
        s = _sorted_col(data, col)
        assert got[col] == [s[k - 1] for k in ks], col


def test_values_at_ranks_single_col_wrapper(spark):
    rows = [(float(v),) for v in [5, 1, 4, 1, 5, 9, 2, 6, 5, 3]]
    df = spark.createDataFrame(rows, "x double")
    s = sorted(r["x"] for r in df.collect())
    assert values_at_ranks(df, "x", [1, 5, 10], 10) == [s[0], s[4], s[9]]


def test_values_at_ranks_degenerate_all_ties(spark):
    # every value identical: brackets collapse, slice ranking must
    # still find each rank (or fall back) and return the tied value
    df = spark.createDataFrame([(7.0,)] * 64, "x double")
    assert values_at_ranks(df, "x", [1, 32, 64], 64) == [7.0, 7.0, 7.0]


def test_winsorized_stats_same_bounds_as_sorted(spark):
    rows = [(float((i * 37) % 211),) for i in range(300)]
    df = spark.createDataFrame(rows, "v double")
    out = winsorized_stats(df, "v", p_lo=0.05, p_hi=0.95).collect()[0]
    s = sorted(r["v"] for r in df.collect())
    k_lo = max(1, int(math.ceil(0.05 * 300)))
    k_hi = max(1, int(math.ceil(0.95 * 300)))
    assert out["lo_bound"] == s[k_lo - 1]
    assert out["hi_bound"] == s[k_hi - 1]
    assert out["n"] == 300
    assert out["n_clipped_lo"] == sum(1 for v in s if v < s[k_lo - 1])
    assert out["n_clipped_hi"] == sum(1 for v in s if v > s[k_hi - 1])


def test_rfm_bounds_unchanged_by_batched_probe(spark):
    # the bounds scorer must still agree with the definitional NTILE
    # boundary semantics: tile = 1 + #bounds strictly passed, bounds =
    # values at the NTILE tile-end ranks
    from smartdatapipeline_spark.operators.behavior import rfm_segments

    rows = []
    for i in range(200):
        rows.append((i % 41, f"2024-01-{(i % 27) + 1:02d} 10:00:00", float(i % 13)))
    ev = spark.createDataFrame(rows, "user_id int, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("click").alias("event_type"), "value",
    )
    got = {r["user_id"]: r for r in rfm_segments(ev, method="bounds").collect()}
    per = got

    def bounds_of(vals, ascending, n_tiles=4):
        n = len(vals)
        s = sorted(vals)
        ends = [int(math.ceil(t * n / n_tiles)) for t in range(1, n_tiles)]
        if ascending:
            return [s[e - 1] for e in ends]
        return [s[n - e] for e in ends]

    recs = [per[u]["recency_days"] for u in per]
    freqs = [per[u]["frequency"] for u in per]
    mons = [per[u]["monetary"] for u in per]
    rb = bounds_of(recs, True)
    fb = bounds_of(freqs, False)
    mb = bounds_of(mons, False)
    for u, r in got.items():
        assert r["r"] == 1 + sum(1 for b in rb if per[u]["recency_days"] > b)
        assert r["f"] == 1 + sum(1 for b in fb if per[u]["frequency"] < b)
        assert r["m"] == 1 + sum(1 for b in mb if per[u]["monetary"] < b)


def test_graph_triangles_query_caches_ps_with_ownership(spark, tmp_path):
    # r14 opt: q_graph_triangles caches the distinct (part, supplier)
    # frame feeding both sides of the co-supply self-join; the result's
    # plan reads it (nested in triangle_count's own canonical-edge
    # cache), so the caller's release frees both
    import os as _os

    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    if not _os.path.exists(_os.path.join(sf_dir, "lineitem.parquet")):
        import pytest

        pytest.skip("sf0.001 testdata missing")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = E.q_graph_triangles(spark, sf_dir)
    out.collect()
    # triangle_count's canon cache, and the ps cache its plan reads
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 2
    release_plan_caches(out)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()

def test_bm25_single_pass_matches_definitional_shape(spark):
    # the single-pass bm25 must reproduce the former postings-join
    # shape exactly (same integer stats, same IEEE expression, exact
    # decimal sum) — float-equal scores, same rows, same order
    from smartdatapipeline_spark.functions.retrieval import (
        bm25_topk,
        doc_lengths,
        postings,
    )

    texts = [
        "spark shuffles data with hash partitioning",
        "merge sort joins large tables",
        "hash join builds a hash table",
        "the quick brown fox",
        "spark spark spark hash",
        "",
        "merge merge hash spark stream",
        "unrelated words entirely here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    q = ["spark", "hash", "merge"]
    k1, b = 1.2, 0.75

    def definitional(docs, query_terms, k):
        post = postings(docs)
        dl = doc_lengths(post)
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
        hits = post.filter(F.col("term").isin(list(query_terms)))
        df_t = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        n = F.col("n_docs").cast("double")
        avgdl = F.col("sum_dl").cast("double") / n
        tf = F.col("tf").cast("double")
        dlen = F.col("dl").cast("double")
        idf_r = (n - F.col("df").cast("double") + F.lit(0.5)) / (
            F.col("df").cast("double") + F.lit(0.5)
        ) + F.lit(1.0)
        term_score = idf_r * (
            tf * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dlen / avgdl))
        )
        scored = (
            hits.join(F.broadcast(df_t), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(F.col("doc_id"), term_score.cast("decimal(38,12)").alias("s"))
            .groupBy("doc_id")
            .agg(F.sum("s").cast("double").alias("score"))
        )
        return scored.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    got = bm25_topk(docs, q, k=6).collect()
    want = definitional(docs, q, k=6).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # duplicate query terms must not double-count (isin semantics)
    got_dup = bm25_topk(docs, ["spark", "spark", "hash", "merge"], k=6).collect()
    assert [(r["doc_id"], r["score"]) for r in got_dup] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # empty query: empty result, same schema
    empty = bm25_topk(docs, [], k=6)
    assert empty.columns == ["doc_id", "score"]
    assert empty.count() == 0
