"""Round-14 optimization wave 3: the Arrow/numpy vector cores and the
single-pass quality-model build must reproduce the former
column-expression shapes exactly (same folds, ties, NaN rules) — these
tests pin each rewritten operator against a definitional reference."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions import classify as CL
from smartdatapipeline_spark.functions import dedup as DD
from smartdatapipeline_spark.functions import similarity as SIM


def _vecs(spark, vs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vs)],
        "vec_id bigint, embedding array<double>",
    )


def _ref_topk(spark, corpus, queries, cents, k, nprobe):
    """The pre-r14 definitional IVF shape: explode assignment via a
    window, join on cell, exact cosine window rank — the reference the
    Arrow core must match row-for-row."""
    from pyspark.sql import Window

    def assign(vectors, nprobe):
        v = vectors.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("_v"),
            SIM.norm2(F.col("embedding")).alias("_n"),
        )
        scored = v.crossJoin(F.broadcast(cents)).withColumn(
            "_cos",
            SIM.dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")),
        )
        w = Window.partitionBy("_id").orderBy(
            F.col("_cos").desc(), F.col("cent_id").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .select(
                F.col("_id").alias("vec_id"), "_v", "_n",
                F.col("cent_id").alias("cell"),
            )
        )

    cells = assign(corpus, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_v").alias("_nv"), F.col("_n").alias("_nn"), "cell",
    )
    qcells = assign(queries, nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_qv"), F.col("_n").alias("_qn"), "cell",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cells.join(F.broadcast(qcells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            SIM.dot(F.col("_qv"), F.col("_nv"))
            / (F.col("_qn") * F.col("_nn")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "cell")
    )


def test_ivf_arrow_core_matches_definitional_shape(spark):
    # includes exact cosine ties (vec 5 == vec 6 direction) and a
    # boundary vector, nprobe 1 and 2
    vs = [
        [1, 0, 0], [0, 1, 0], [0.9, 0.1, 0], [0.6, 0.4, 0],
        [0.4, 0.6, 0], [0.5, 0.5, 0], [1.0, 1.0, 0], [0.1, 0.9, 0.1],
    ]
    corpus = _vecs(spark, vs)
    queries = corpus.filter(F.col("vec_id").isin(2, 4, 5))
    cents = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("_cv"),
        SIM.norm2(F.col("embedding")).alias("_cn"),
    )
    for nprobe in (1, 2):
        got = sorted(
            SIM.ivf_topk_with_centroids(
                corpus, queries, cents, k=3, nprobe=nprobe
            ).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        )
        ref = sorted(
            _ref_topk(spark, corpus, queries, cents, 3, nprobe).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_ivf_topk_fixed_centroids_matches_definitional_shape(spark):
    vs = [[1, 0], [0, 1], [0.9, 0.1], [0.95, 0.05], [0.1, 0.9], [0.7, 0.3]]
    corpus = _vecs(spark, vs)
    queries = corpus.filter(F.col("vec_id") == 2)
    cents = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("_cv"),
        SIM.norm2(F.col("embedding")).alias("_cn"),
    )
    got = sorted(
        SIM.ivf_topk(corpus, queries, k=10, n_centroids=2).collect(),
        key=lambda r: r["rank"],
    )
    ref = sorted(
        _ref_topk(spark, corpus, queries, cents, 10, 1).collect(),
        key=lambda r: r["rank"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    # fixed-centroid cells keep the id column's bigint type (r13 schema)
    assert dict(SIM.ivf_topk(corpus, queries, k=2, n_centroids=2).dtypes)[
        "cell"
    ] == "bigint"


def test_pq_adc_matches_definitional_fold(spark):
    """adc_dist must equal the sub-ascending fold of per-sub ‖q_sub −
    c_code‖² computed independently in Python (same IEEE op order)."""
    vs = [
        [0.1, 0.2, 0.3, 0.4], [0.5, 0.1, 0.9, 0.2],
        [0.15, 0.22, 0.28, 0.41], [0.9, 0.8, 0.7, 0.6],
        [0.45, 0.12, 0.88, 0.19],
    ]
    emb = _vecs(spark, vs)
    cb = SIM.pq_train(emb, m=2, k=2, seed=1)
    codes = SIM.pq_encode(emb, cb)
    out = SIM.pq_adc_topk(cb, codes, emb, k=10)
    cbl = {(r["sub"], r["cent_id"]): r["_cv"] for r in cb.collect()}
    cd = {r["vec_id"]: r["codes"] for r in codes.collect()}
    d = 2
    for r in out.collect():
        q = vs[r["query_id"]]
        expect = 0.0
        for s in range(2):
            cv = cbl[(s, cd[r["neighbor_id"]][s])]
            acc = 0.0
            for t in range(d):
                diff = q[s * d + t] - cv[t]
                acc = acc + diff * diff
            expect = expect + acc
        assert r["adc_dist"] == expect  # bit-exact, not approx


def test_pq_encode_argmin_ties_to_smallest_cent(spark):
    # both centroids of sub 0 equidistant from the vector -> code 0
    cb = spark.createDataFrame(
        [(0, 0, [1.0]), (0, 1, [3.0])], "sub int, cent_id int, _cv array<double>"
    )
    emb = spark.createDataFrame(
        [(7, [2.0])], "vec_id bigint, embedding array<double>"
    )
    out = SIM.pq_encode(emb, cb).collect()
    assert out[0]["codes"] == [0]


def test_pq_encode_rejects_doctored_codebook(spark):
    cb = spark.createDataFrame(
        [(0, 0, [1.0]), (0, 2, [3.0])], "sub int, cent_id int, _cv array<double>"
    )
    emb = spark.createDataFrame(
        [(7, [2.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-contiguous"):
        SIM.pq_encode(emb, cb)


def test_scrub_spans_arrow_edges(spark):
    """Edge semantics preserved by the Arrow mask stage: short docs,
    no-hit docs, fully-masked docs, empty docs."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),           # fully contaminated
            (2, "x y z"),                          # shorter than window
            (3, "q w e r t y u i o p"),            # no hits
            (4, ""),                               # empty
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in DD.scrub_contaminated_spans(docs, ev, window=10, k=3).collect()
    }
    assert out[1]["clean_text"] == "" and out[1]["n_masked"] == 10
    assert out[1]["masked_frac"] == 1.0
    assert out[2]["clean_text"] == "x y z" and out[2]["n_masked"] == 0
    assert out[3]["n_masked"] == 0 and out[3]["n_tokens"] == 10
    # tokens("") is [""] — one empty token, same as the pre-r14 shape
    assert out[4]["n_tokens"] == 1 and out[4]["masked_frac"] == 0.0
    assert out[4]["clean_text"] == ""


def test_build_quality_model_extremes_matches_two_frame_build(spark):
    rows = [
        (i, ("the quick brown fox jumps over the lazy dog " * (1 + i % 5)))
        for i in range(30)
    ] + [(100 + i, "0101 9 %% !! ##" * (1 + i % 3)) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    from smartdatapipeline_spark.functions.text import quality_features

    q = quality_features(docs).select("doc_id", "quality")
    with_q = docs.join(q, "doc_id")
    ref = CL.build_quality_model(
        with_q.filter(F.col("quality") >= 0.62).select("doc_id", "text"),
        with_q.filter(F.col("quality") <= 0.55).select("doc_id", "text"),
    )
    got = CL.build_quality_model_extremes(docs, pos_min=0.62, neg_max=0.55)
    assert set(ref) == set(got)
    for kk in ref:
        assert math.isclose(ref[kk], got[kk], rel_tol=1e-7, abs_tol=1e-9), kk


def test_persist_coef_roundtrip(spark, tmp_path):
    coef = {"alpha_ratio": 1.5, "_intercept": -0.25}
    CL._persist_coef(spark, coef, str(tmp_path / "qm"))
    assert CL.load_quality_model(spark, str(tmp_path / "qm")) == coef



def test_hll_rollup_uncached_leaf(spark):
    # r14 (measured twice, cache REVERTED): the leaf register table is
    # |dims-cartesian| x 2^p rows — caching it probed slower than
    # recompute-with-AQE-reuse, so the rollup must own no caches and
    # still emit every grain.
    from smartdatapipeline_spark.functions.sketch import hll_rollup

    rows = [(f"u{i % 37}", f"m{i % 3}", i % 5) for i in range(400)]
    df = spark.createDataFrame(rows, "k string, metric string, day int")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = hll_rollup(df, "k", dims=["metric", "day"])
    got = out.collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    # leaf + per-metric + grand total, every grain present
    gids = {r["gid"] for r in got}
    assert gids == {0, 1, 3}
