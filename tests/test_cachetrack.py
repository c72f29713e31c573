"""release_plan_caches reads what to free from the plan: every cache and
local checkpoint a result reads is a leaf of its plan, so releasing the
result (or any frame derived from it) frees them all, nested caches
included, and the registry leaves nothing persisted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from tests.conftest import SF_SMALL

#: the queries that left persistent RDDs behind when cache release rode
#: a per-frame attribute, then those whose operators recorded their
#: caches on that attribute
PARENT_LEAKERS = (
    "graph_bfs",
    "bm25_search",
    "hybrid_retrieval",
    "interval_overlap",
    "rfm_segments_bounds",
    "dup_clusters",
    "canonical_docs",
    "semantic_dedup",
    "graph_pagerank",
    "graph_pagerank_hub",
)
FORMERLY_TRACKED = (
    "minhash_pairs",
    "crossmodal_consensus",
    "containment_pairs",
    "dsir_weights",
    "dsir_resample",
    "bigram_lm_score",
    "copurchase_jaccard",
    "growth_accounting",
    "audience_overlap",
    "ols_trend",
    "theilsen_trend",
    "mann_kendall",
    "graph_triangles",
)


@pytest.fixture
def clean(spark):
    """Start from an empty CacheManager: earlier tests in the session may
    have cached frames they never released."""
    spark.catalog.clearCache()
    return spark


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_nested_cache_is_released(clean):
    spark = clean
    before = _persisted(spark)
    inner = spark.range(100).withColumn("k", F.col("id") % 7).cache()
    outer = inner.groupBy("k").count().cache()
    out = outer.filter(F.col("count") > 0)
    assert out.count() == 7
    # the outer cache's own plan read the inner one, so both materialized
    assert len(_persisted(spark) - before) == 2
    release_plan_caches(out)
    assert _persisted(spark) - before == set()
    assert _cache_empty(spark)
    release_plan_caches(out)  # idempotent


def test_union_of_checkpoints_is_released(clean):
    """bfs_hops' shape: the result is a union of lazy per-hop local
    checkpoints, so every hop's checkpoint is a leaf of its plan."""
    from smartdatapipeline_spark.functions.graph import bfs_hops

    spark = clean
    before = _persisted(spark)
    hops = [spark.range(i * 10, i * 10 + 5).localCheckpoint() for i in range(3)]
    union = hops[0].unionByName(hops[1]).unionByName(hops[2])
    assert union.count() == 15
    assert len(_persisted(spark) - before) == 3
    release_plan_caches(union)
    assert _persisted(spark) - before == set()

    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    out = bfs_hops(edges, seeds, max_hops=4)
    assert sorted((r["node"], r["hops"]) for r in out.collect()) == [
        (i, i) for i in range(5)
    ]
    release_plan_caches(out)
    assert _persisted(spark) - before == set()
    assert _cache_empty(spark)


def test_frame_derived_after_return_is_released(clean):
    """A frame the caller derives from an operator's lazy result (a
    projection, a sort) still reads the operator's cache, so releasing
    the derived frame frees it."""
    from smartdatapipeline_spark.functions import dedup as DD

    spark = clean
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "other words")],
        "doc_id bigint, text string",
    )
    before = _persisted(spark)
    pairs = DD.minhash_candidate_pairs(docs)
    out = pairs.select("doc_a", "doc_b").orderBy("doc_a", "doc_b")
    assert [(r["doc_a"], r["doc_b"]) for r in out.collect()] == [(1, 2)]
    assert _persisted(spark) - before, "the signature cache materializes"
    release_plan_caches(out)
    assert _persisted(spark) - before == set()
    assert _cache_empty(spark)


def test_build_cluster_index_releases_its_labels(clean, tmp_path):
    """An eager writer frees what it persisted: the CC result checkpoint
    is gone once the labels are written."""
    from smartdatapipeline_spark.functions import dedup as DD

    spark = clean
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long")
    before = _persisted(spark)
    DD.build_cluster_index(pairs, nodes, str(tmp_path / "clusters"))
    assert _persisted(spark) - before == set()
    got = {
        (r["doc_id"], r["cluster"])
        for r in DD.probe_cluster_index(spark, str(tmp_path / "clusters")).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}


def test_registry_leak_gate(clean):
    """Materialize each query the way the bench does, release its plan:
    no RDD stays persisted and the CacheManager is empty. The loops
    (connected_components, pagerank) are checked at the function level
    too, on a 40-edge path that takes CC several rounds."""
    import __spark_entry__ as E
    from smartdatapipeline_spark.functions import graph as G

    spark = clean
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    nodes = spark.range(41).withColumnRenamed("id", "node")
    qs = E.queries()
    calls = {
        "connected_components": lambda: G.connected_components(edges, nodes),
        "pagerank": lambda: G.pagerank(edges, iterations=5),
        **{
            name: (lambda name=name: qs[name](spark, SF_SMALL))
            for name in PARENT_LEAKERS + FORMERLY_TRACKED
        },
    }
    leaks = {}
    for name, call in calls.items():
        before = _persisted(spark)
        out = call()
        out.write.format("noop").mode("overwrite").save()
        release_plan_caches(out)
        grown = _persisted(spark) - before
        if grown or not _cache_empty(spark):
            leaks[name] = (sorted(grown), _cache_empty(spark))
            spark.catalog.clearCache()
        if name == "connected_components":
            assert G.LAST_CC_ROUNDS >= 3
    assert leaks == {}
