"""Cache-lifetime bookkeeping for lazy-return operators.

Operators that ``.cache()`` an intermediate frame but return a LAZY
plan (``minhash_candidate_pairs``, ``dedup_pipeline``,
``probe_dedup_index``, ``bigram_lm_features`` with an internal model)
cannot unpersist internally — the cache is only populated/used when the
caller runs an action. Ownership therefore transfers with the returned
frame: the operator records its cached intermediates via
``track_cache`` and the caller releases them with
``release_plan_caches`` once the result is materialized (round-3
ADVICE: unreleased signature caches pinned executor storage for the
application lifetime). Eager operators (``build_dedup_index``)
unpersist themselves and never appear here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def track_cache(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach ``cached`` frames to ``out`` for later release."""
    existing = list(getattr(out, "_sdp_caches", ()))
    out._sdp_caches = existing + list(cached)  # type: ignore[attr-defined]
    return out


def propagate_caches(src: DataFrame, out: DataFrame) -> DataFrame:
    """Move cache ownership from ``src`` onto a frame DERIVED from it.

    The ownership attribute rides on the exact DataFrame object, so any
    transformation (``.select``, ``.filter``, a join) silently drops it
    and ``release_plan_caches`` on the result becomes a no-op (round-4
    ADVICE: the MinHash signature cache leaked per bench rep through
    exactly this hole). Call this on every frame you transform after
    receiving it from a cache-tracking operator."""
    out = track_cache(out, *getattr(src, "_sdp_caches", ()))
    src._sdp_caches = []  # type: ignore[attr-defined]
    return out


def release_plan_caches(df: DataFrame) -> None:
    """Unpersist every intermediate cached while building ``df``'s plan
    (no-op for plans that cached nothing). Call AFTER materializing."""
    for c in getattr(df, "_sdp_caches", ()):
        try:
            c.unpersist()
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    df._sdp_caches = []  # type: ignore[attr-defined]


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint`` frame. Its blocks
    otherwise stay pinned until a JVM GC lets Spark's ContextCleaner
    notice the RDD is unreachable — on a shared session that can be many
    calls later. Call once nothing will read ``df`` again: reading it
    afterwards fails, because a local checkpoint keeps no lineage to
    recompute from."""
    df._jdf.logicalPlan().rdd().unpersist(False)
