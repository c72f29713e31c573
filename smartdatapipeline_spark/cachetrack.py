"""Release the persisted frames a plan reads.

Every frame an operator persists and hands out inside a lazy result is
a leaf of that result's plan once Spark substitutes cached data: an
``InMemoryRelation`` for a ``.cache()``, a ``LogicalRDD`` for a
``localCheckpoint``. ``release_plan_caches`` reads the release set from
there, so no operator records what it persisted, and a frame derived
from an operator's result (a ``.select``, a join, an ``.orderBy``)
releases exactly what the result would.

The contract:

- ``release_plan_caches(df)`` frees every cache and local checkpoint
  ``df``'s plan reads, including any the caller made itself, and any
  cache nested inside one of those caches.
- Call it only once nothing reads them again: a freed cache is
  recomputed on its next read, and a freed local checkpoint cannot be
  read at all, because it keeps no lineage to recompute from.
- Operators release whatever their returned plan does not read before
  they return; what it does read, the caller releases through this
  function after materializing the result.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def _leaves(plan) -> list:
    seq = plan.collectLeaves()
    return [seq.apply(i) for i in range(seq.size())]


def _release(session, cache_manager, plan) -> None:
    for leaf in _leaves(plan):
        kind = leaf.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            cached = leaf.cacheBuilder().logicalPlan()
            cache_manager.uncacheQuery(session, cached, False, False)
            # with the outer entry gone, the caches its own plan read
            # surface as leaves of the substituted plan
            _release(session, cache_manager, cache_manager.useCachedData(cached))
        elif kind == "LogicalRDD":
            leaf.rdd().unpersist(False)


def release_plan_caches(df: DataFrame) -> None:
    """Unpersist every cache and local checkpoint ``df``'s plan reads
    (a no-op for plans that read none). Call AFTER materializing."""
    try:
        session = df.sparkSession._jsparkSession
        _release(
            session,
            session.sharedState().cacheManager(),
            df._jdf.queryExecution().withCachedData(),
        )
    except Py4JError:  # the session may already be stopped
        pass
