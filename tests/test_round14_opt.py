"""Round-14 optimization wave 1: pins for the operator-internal changes.

Every change here keeps results bit-identical; these tests pin the NEW
internals (CC pointer doubling round count, pagerank single-join
iteration equivalence, probe_dedup_index signature reuse) so a future
refactor can't silently undo the optimization or its equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from smartdatapipeline_spark.functions import dedup as DD
from smartdatapipeline_spark.functions import graph as G


def _path_graph(spark, n):
    """0-1-2-...-(n-1) path: diameter n-1, worst case for label prop."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    return edges, nodes


def test_cc_pointer_doubling_collapses_path(spark):
    """A 33-node path has diameter 32; plain 2-substep rounds would need
    ~16 propagation rounds. Entry-LUT pointer doubling composes
    reachability D -> 2D+2 per round, so the label distance after round
    r is >= 2^r-ish and the loop must finish in <= 6 rounds (5
    compression rounds + the no-change confirm round)."""
    edges, nodes = _path_graph(spark, 33)
    out = G.connected_components(edges, nodes, id_col="node").collect()
    assert G.LAST_CC_ROUNDS <= 6, G.LAST_CC_ROUNDS
    assert all(r["cluster"] == 0 for r in out)
    assert len(out) == 33


def test_cc_pointer_doubling_multi_component(spark):
    """Doubling must not leak labels across components: two disjoint
    paths plus an isolated node each keep their own min label."""
    e1 = [(i, i + 1) for i in range(10, 17)]
    e2 = [(i, i + 1) for i in range(30, 41)]
    edges = spark.createDataFrame(e1 + e2, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(10, 18)] + [(i,) for i in range(30, 42)] + [(99,)],
        "node long",
    )
    got = {
        r["node"]: r["cluster"]
        for r in G.connected_components(edges, nodes, id_col="node").collect()
    }
    for i in range(10, 18):
        assert got[i] == 10
    for i in range(30, 42):
        assert got[i] == 30
    assert got[99] == 99


def test_pagerank_iteration_shapes_agree(spark):
    """The r14 single-edge-join iteration (rank/outdeg folded on the
    node frame, then attached to edges) must be bit-identical to the
    definitional per-edge division — same operands, one IEEE divide."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2), (4, 1), (1, 4)],
        "src long, dst long",
    )
    fast = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, iterations=3, src_buckets=0).collect()
    }
    # definitional reference: explicit per-edge rank/outdeg, same ordered fold
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_t"))
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_outdeg"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_t").alias("node")))
        .distinct()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(3):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "_s"), "_s")
            .join(deg, "_s")
            .select(
                F.col("_t").alias("node"),
                F.struct(
                    F.col("_s").alias("src"),
                    (F.col("rank") / F.col("_outdeg")).alias("c"),
                ).alias("_sc"),
            )
        )
        summed = contribs.groupBy("node").agg(
            F.aggregate(
                F.sort_array(F.collect_list("_sc")),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("_s_in")
        )
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(0.15) + F.lit(0.85) * F.coalesce(F.col("_s_in"), F.lit(0.0))
            ).alias("rank"),
        )
    ref = {r["node"]: r["rank"] for r in ranks.collect()}
    assert fast == ref  # exact float equality, not approx


def test_pagerank_undirected_auto_probe_same_decision(spark):
    """With undirected=True the auto hub probe reads max in-degree off
    the out-degree frame; on a symmetrized edge list both probes see the
    same maximum, so flat-vs-bucketed mode (and therefore the bits)
    cannot change."""
    base = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "src long, dst long"
    )
    edges = G.symmetrize(base)
    a = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, iterations=2, src_buckets="auto").collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in G.pagerank(
            edges, iterations=2, src_buckets="auto", undirected=True
        ).collect()
    }
    assert a == b


def test_probe_dedup_index_precomputed_sig_identical(spark, tmp_path):
    """probe_dedup_index(new_sig=...) must return exactly the candidate
    set of the self-hashing path — signatures are a pure function of
    the text."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "completely different text about spark optimization")],
        "doc_id long, text string",
    )
    DD.build_dedup_index(corpus, str(tmp_path / "idx"))
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "unrelated fresh document body")],
        "doc_id long, text string",
    )
    plain = sorted(
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in DD.probe_dedup_index(spark, str(tmp_path / "idx"), new).collect()
    )
    sig = DD.minhash_signature(new, "doc_id", "text", 3)
    reused = sorted(
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in DD.probe_dedup_index(
            spark, str(tmp_path / "idx"), new, new_sig=sig
        ).collect()
    )
    assert plain == reused and len(plain) >= 1


def test_stream_state_partitions_scales_with_volume():
    """The streaming state-partition rule (session.py) must derive from
    per-batch volume — growing with rows, capped by cores, floored to
    keep minimal parallelism."""
    from smartdatapipeline_spark.session import stream_state_partitions

    assert stream_state_partitions(100, cpus=32) == 4          # floor
    assert stream_state_partitions(12_500, cpus=32) == 4       # bench shape
    assert stream_state_partitions(300_000, cpus=32) == 32     # volume-capped
    assert stream_state_partitions(3_000_000, cpus=8) == 8     # core-capped
    assert stream_state_partitions(10, cpus=2) == 2            # floor <= cpus
