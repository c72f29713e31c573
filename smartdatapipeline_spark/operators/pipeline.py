"""The reference's ingest request loop as one library call
(SURVEY §3.1: POST /api/ingest → process_rows → run_kpi_for_metric).

``ingest_and_refresh`` chains the already-tested pieces: tolerant clean
(P1–P4) → idempotent silver upsert (S8/J4) → gold recompute for ONLY the
touched day partitions (A1/A4) → the A7 stats dict. A user of the
reference switches by pointing this at their raw frame. Silver, gold
and the quarantine table all commit through the snapshot store
(sources/snapstore.py), the repo's one commit mechanism. It is the one
ingest loop: ``streaming/ingest.py`` runs it on every micro-batch.

r11 adds the scale-correct version of the reference's "ingest then
recompute affected KPIs" loop (backend/app/routers/ingest.py:183-189,
services/kpi.py:252-324): ``refresh_gold_from_changes`` reads the
silver snapshot table's CHANGE FEED since the last refresh — only the
files that entered/left the live set, never a silver rescan — derives
the touched day partitions, recomputes exactly those via a
manifest-pruned read, and upserts them into gold in one idempotent
commit keyed by the silver version it consumed. At 100 TB the refresh
cost is proportional to the changed days' data, not the table.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.operators.kpi import run_daily_kpis
from smartdatapipeline_spark.sources.ingest import (
    clean_rows,
    ingest_stats_from_clean,
    upsert_clean_events,
)

#: gold commits made by the CDC refresh carry the silver version they
#: consumed in their idempotency key — progress tracking AND replay
#: protection ride the commit log itself, no side-channel state file.
#: r12 (ADVICE): the PROGRESS key ``cdc-refresh:<v>`` is landed by an
#: action-free marker commit as the LAST step of a refresh; the data
#: overwrite (``cdc-refresh-data:<v>``) and the emptied-partition
#: delete (``cdc-refresh-del:<v>``) no longer match the progress regex,
#: so a crash between them can never masquerade as a completed refresh
#: (every step is idempotency-keyed — the retry replays the done parts
#: and finishes the rest). Pre-r12 logs keyed their overwrite
#: ``cdc-refresh:<v>`` directly; those still match, preserving their
#: recorded progress.
_REFRESH_KEY = "cdc-refresh"
_REFRESH_KEY_RE = re.compile(r"^cdc-refresh:(\d+)$")


def last_refreshed_silver_version(gold_root: str) -> int:
    """Highest silver version a ``refresh_gold_from_changes`` commit in
    ``gold_root``'s log has consumed (0 = never refreshed — the next
    refresh bootstraps from the full change feed). Read from the
    snapshot's IDEMPOTENCY-KEY SET rather than a history walk (r12):
    checkpoints fold every key forward, so progress survives
    ``vacuum_log`` truncating old commits, and the lookup is one
    checkpoint-footer read plus the log tail instead of O(commits)."""
    from smartdatapipeline_spark.sources import snapstore as SS

    try:
        _, keys = SS._snapshot_meta(gold_root)
    except Exception:  # noqa: BLE001 — absent table ⇒ never refreshed
        return 0
    best = 0
    for k in keys:
        m = _REFRESH_KEY_RE.match(k)
        if m:
            best = max(best, int(m.group(1)))
    return best


def refresh_from_changes(
    spark: SparkSession,
    silver_root: str,
    dest_root: str,
    aggregate,
    dest_partition_col: str = "metric_date",
    src_partition_col: str = "event_date",
    from_version: int | None = None,
    stats_cols: tuple[str, ...] = (),
    src_to_dest=None,
) -> dict:
    """GENERAL incremental materialized view over the silver snapshot
    table (r11 generalization of the r10-VERDICT-#1 gold refresh —
    any partition-grain derived table maintains itself the same way):

    - ``table_changes(from_version, latest)`` resolves the window PER
      COMMIT (r12) — only files that genuinely entered or left silver's
      live set are read, and a window spanning scheduled COMPACTION
      costs nothing extra (compact commits are logically empty and
      skipped at resolution; the r11 "refresh before compacting"
      operational caveat is gone).
    - The changed rows' ``src_partition_col`` values name the touched
      source partitions (driver-side list, bounded by the window).
    - GRAIN CONTRACT (r12 ADVICE): with the default
      ``src_to_dest=None`` the dest partition values must BE source
      partition values (identity grain, e.g. daily KPIs over daily
      events); ``aggregate`` output landing outside the touched source
      values raises instead of silently corrupting the emptied-
      partition delete. For a COARSER dest grain pass
      ``src_to_dest(src_value) -> dest_value`` (e.g. day → ISO week):
      the touched source values map to touched dest partitions, the
      recompute slice EXPANDS to every live source partition feeding
      those dest partitions (a pure manifest read — falling back to
      one distinct scan only if silver's values overflowed manifest
      tracking), so a partially-touched week recomputes from its whole
      week of data.
    - Touched slice → MANIFEST-pruned ``read_table`` →
      ``aggregate(slice)`` (must carry ``dest_partition_col``) → ONE
      ``overwrite_partitions`` commit on ``dest_root``.
    - A touched dest partition whose rows all vanished (a correction
      emptied it) is REMOVED via ``delete_partitions`` —
      full-recompute equality holds even for disappearing groups.
    - Crash-safe idempotency (r12 ADVICE): the overwrite is keyed
      ``cdc-refresh-data:<silver_v>``, the delete
      ``cdc-refresh-del:<silver_v>``, and ONLY a final action-free
      marker commit ``cdc-refresh:<silver_v>`` advances the recorded
      progress — a crash anywhere mid-refresh leaves progress at the
      prior version, and the retry replays completed steps as no-ops
      and finishes the rest. ``from_version`` defaults to the last
      marker in the DEST's log — each view tracks its own progress.

    Returns ``{"from_version", "silver_version", "refreshed_days",
    "deleted_days"}``.
    """
    from smartdatapipeline_spark.sources import snapstore as SS

    to_v = SS.table_version(silver_root)
    if from_version is None:
        from_version = last_refreshed_silver_version(dest_root)
    out = {
        "from_version": from_version,
        "silver_version": to_v,
        "refreshed_days": 0,
        "deleted_days": 0,
    }
    if to_v <= from_version:
        return out
    changes = SS.table_changes(spark, silver_root, from_version, to_v)
    days = sorted(
        str(r[src_partition_col])
        for r in changes.select(src_partition_col).distinct().collect()
        if r[src_partition_col] is not None
    )
    if not days:
        # nothing touched in the window (e.g. pure compaction): land
        # the progress marker so the next refresh starts past it
        SS.commit_marker(dest_root, "refresh-mark", f"{_REFRESH_KEY}:{to_v}")
        return out
    if src_to_dest is None:
        expected_dest = set(days)
        src_days = days
    else:
        expected_dest = {str(src_to_dest(d)) for d in days}
        # coarser grain: recompute needs EVERY source partition that
        # feeds a touched dest partition, not just the changed ones
        all_src = SS.partition_values(silver_root)
        if all_src is None:  # manifest overflow — one distinct scan
            all_src = sorted(
                str(r[0])
                for r in SS.read_table(spark, silver_root)
                .select(src_partition_col)
                .distinct()
                .collect()
                if r[0] is not None
            )
        src_days = sorted(
            d for d in all_src if str(src_to_dest(d)) in expected_dest
        )
    affected = SS.read_table(
        spark, silver_root, partition_values=src_days,
        partition_col=src_partition_col,
    )
    data_key = f"{_REFRESH_KEY}-data:{to_v}"
    derived = aggregate(affected).cache()
    try:
        # grain guard BEFORE anything lands: aggregate output outside
        # the touched dest grain means the declared mapping is wrong —
        # fail with dest untouched rather than overwrite stray
        # partitions and mis-target the emptied-partition delete
        produced = {
            str(r[0])
            for r in derived.select(dest_partition_col).distinct().collect()
            if r[0] is not None
        }
        stray = produced - expected_dest
        if stray:
            raise ValueError(
                f"refresh_from_changes: aggregate produced {dest_partition_col} "
                f"values {sorted(stray)[:5]} outside the touched source grain — "
                f"pass src_to_dest to declare the {src_partition_col}→"
                f"{dest_partition_col} mapping (r12 grain contract)"
            )
        SS.overwrite_partitions(
            derived, dest_root, partition_col=dest_partition_col,
            idempotency_key=data_key, stats_cols=stats_cols,
        )
    finally:
        derived.unpersist()
    # Which dest partitions actually landed? Read it off the commit we
    # just made (or replayed) instead of re-running the aggregation —
    # the commit's ``replaced`` field IS the written partition set. No
    # commit with our key ⇒ the derived frame was empty ⇒ every touched
    # dest partition emptied.
    written = SS.find_commit_by_key(dest_root, data_key)
    dest_days = set((written or {}).get("replaced") or [])
    emptied = sorted(expected_dest - dest_days)
    if emptied:
        SS.delete_partitions(
            spark,
            dest_root,
            dest_partition_col,
            emptied,
            idempotency_key=f"{_REFRESH_KEY}-del:{to_v}",
        )
    # marker LAST: progress advances only once the whole refresh landed
    SS.commit_marker(dest_root, "refresh-mark", f"{_REFRESH_KEY}:{to_v}")
    out["refreshed_days"] = len(dest_days)
    out["deleted_days"] = len(emptied)
    return out


def refresh_gold_from_changes(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    from_version: int | None = None,
) -> dict:
    """The gold-KPI instance of ``refresh_from_changes`` (r10 VERDICT
    #1): ``run_daily_kpis`` recomputed for exactly the day partitions
    the silver change feed names — the reference's "ingest then
    recompute affected KPIs" loop (backend/app/routers/ingest.py:
    183-189, services/kpi.py:252-324) at change-feed cost."""
    return refresh_from_changes(
        spark,
        silver_root,
        gold_root,
        lambda affected: run_daily_kpis(affected.drop("event_date")),
        from_version=from_version,
    )


def ingest_and_refresh(
    spark: SparkSession,
    raw: DataFrame,
    silver_path: str,
    gold_path: str,
    default_metric: str | None = None,
    source_id: int = 1,
    store: str = "snapshot",
    incremental: bool = True,
    quarantine_path: str | None = None,
) -> dict:
    """Ingest a raw frame and refresh the affected gold slices.

    Returns the reference's stats contract (services/ingestion.py:277-286)
    plus ``duplicate_rows`` (rows dropped by the ON-CONFLICT-DO-NOTHING
    upsert, reference :224-226) and ``refresh`` (the
    ``refresh_gold_from_changes`` result).

    Both tables are snapshot-committed (sources/snapstore.py): silver
    takes blind appends carrying a materialized ``event_date``
    partition column (so the manifest tracks day values and reads
    prune); gold is refreshed through ``refresh_gold_from_changes`` —
    the touched days come from silver's CHANGE FEED, which also picks
    up any OTHER writer's commits since the last refresh, and their
    recompute reads a manifest-pruned day slice instead of scanning
    silver. That keeps a 100 TB gold table's refresh proportional to
    the batch, not the history.

    ``store`` and ``incremental`` accept only ``"snapshot"`` and
    ``True``: the POSIX lock+swap parquet sink and the full-silver
    gold recompute they once selected were removed, and any other
    value raises ``ValueError``.

    ``quarantine_path`` (r11): the reference DROPS invalid rows after
    50 capped warnings (services/ingestion.py:178-206) — fine at demo
    scale, unacceptable at 100 TB where the dropped rows ARE the
    debugging evidence. When set, every rejected row lands in a
    snapshot-committed dead-letter table with its rejection ``reason``
    and the raw columns; ``stats["quarantined_rows"]`` counts them.
    Re-ingesting the same file appends its bad rows again (the DLQ is
    an audit LOG, not a deduplicated table — pass the snapshot store an
    idempotency key per logical batch upstream if replays must
    collapse).
    """
    from smartdatapipeline_spark.sources import snapstore as SS

    if store != "snapshot":
        raise ValueError(
            f"store must be 'snapshot', got {store!r}: the POSIX lock+swap "
            "parquet sink was removed; silver and gold commit only through "
            "the snapshot store"
        )
    if incremental is not True:
        raise ValueError(
            f"incremental must be True, got {incremental!r}: the full-silver "
            "gold recompute was removed; gold refreshes only from silver's "
            "change feed"
        )
    # localCheckpoint: the two stats jobs, the quarantine append and
    # the silver anti-join each read the cleaned batch; the checkpoint
    # parses the raw rows once. Released as soon as the insert set is
    # materialized.
    clean = (
        clean_rows(raw, default_metric=default_metric)
        .withColumn("source_id", F.lit(source_id))
        .localCheckpoint(eager=True)
    )
    try:
        stats = ingest_stats_from_clean(clean)
        if quarantine_path is not None:
            stats["quarantined_rows"] = stats["skipped_rows"]
            if stats["skipped_rows"]:
                bad = clean.filter(F.col("_warn").isNotNull())
                SS.append(
                    bad.withColumnRenamed("_warn", "reason"),
                    quarantine_path,
                    partition_col=None,
                )
        existing = (
            SS.read_table(spark, silver_path).drop("event_date")
            if SS.table_version(silver_path) > 0
            else None
        )
        valid = clean.filter(F.col("_warn").isNull()).drop("_warn")
        # localCheckpoint: the count and the append (value-set scan,
        # write, stats read-back) each evaluate the frame; the
        # checkpoint runs the anti-join against silver once. Released
        # right after the append: left to the ContextCleaner, its blocks
        # outlive the call until a JVM GC happens to run.
        to_insert = upsert_clean_events(valid, existing)[0].localCheckpoint(
            eager=True
        )
    finally:
        release_plan_caches(clean)
    try:
        inserted = to_insert.count()
        if inserted:
            SS.append(
                to_insert.withColumn("event_date", F.to_date("ts")),
                silver_path,
                partition_col="event_date",
            )
    finally:
        release_plan_caches(to_insert)
    stats["duplicate_rows"] = stats["ingested_rows"] - inserted
    # refresh even when nothing was inserted: a call that crashed after
    # its silver append and before this refresh is retried as a batch of
    # duplicates, and only the change feed still names its days. With
    # gold current this is one log read.
    stats["refresh"] = refresh_gold_from_changes(spark, silver_path, gold_path)
    return stats
