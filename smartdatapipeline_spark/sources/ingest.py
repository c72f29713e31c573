"""Tolerant row cleaning + idempotent silver upsert + ingest stats
(SURVEY §2.2 P1–P4, §2.3 J3/J4, §2.1 S7/S8, §2.4 A7).

Reference: backend/app/services/ingestion.py:106-286.

The reference streams dict rows through ``_try_clean_row`` one at a
time; here the whole file is one DataFrame and each cleaning rule is a
column expression, so validation runs JVM-side over Arrow batches at
scan speed. Reason strings match the reference byte-for-byte so the
stats contract is preserved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from smartdatapipeline_spark.session import local_frame
from smartdatapipeline_spark.sources.readers import (
    CORRUPT_COL,
    METRIC_KEYS,
    TS_KEYS,
    VAL_KEYS,
)

WARNING_CAP = 50  # reference services/ingestion.py:246-247


def find_key(columns: list[str], pool: set[str]) -> str | None:
    """P1 — first column whose lowercase name is in the synonym pool,
    in column order (reference ``_find_key``, services/ingestion.py:110-114;
    dict key order = header order, which is column order here)."""
    for c in columns:
        if c and c.lower() in pool:
            return c
    return None


def coerce_ts(col: Column) -> Column:
    """P2 — lenient timestamp coercion to UTC; unparseable ⇒ NULL
    (reference ``pd.to_datetime(errors='coerce', utc=True)``,
    services/ingestion.py:118-125). ``try_to_timestamp`` covers ISO-8601
    with/without zone and date-only; naive values are read in the
    session's UTC zone (naive-assumed-UTC, reference :165-166)."""
    s = F.trim(col.cast("string"))
    return F.coalesce(
        F.try_to_timestamp(s),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        F.try_to_timestamp(s, F.lit("yyyy/MM/dd HH:mm:ss")),
        F.try_to_timestamp(s, F.lit("yyyy/MM/dd")),
    )


def coerce_num(col: Column) -> Column:
    """P3 — lenient numeric coercion; invalid ⇒ NULL (reference
    ``pd.to_numeric(errors='coerce')``, services/ingestion.py:128-135)."""
    return F.trim(col.cast("string")).try_cast("double")


def clean_rows(
    df: DataFrame,
    default_metric: str | None = None,
) -> DataFrame:
    """P1–P4 — synonym projection + coercion + validation.

    Output columns: ``ts timestamp, metric string, value double,
    _warn string`` — ``_warn`` is NULL for valid rows, else the
    reference's exact reason string (services/ingestion.py:138-168).
    """
    cols = df.columns
    ts_key = find_key(cols, TS_KEYS)
    val_key = find_key(cols, VAL_KEYS)
    met_key = find_key(cols, METRIC_KEYS)

    ts = coerce_ts(F.col(ts_key)) if ts_key else F.lit(None).cast("timestamp")
    val = coerce_num(F.col(val_key)) if val_key else F.lit(None).cast("double")
    if met_key:
        trimmed = F.trim(F.col(met_key).cast("string"))
        # reference: str(v).strip() if v not in (None, "") else None — then
        # `or default_metric`, so whitespace-only also falls through (falsy "")
        raw_metric = F.when(F.col(met_key).isNotNull() & (trimmed != ""), trimmed)
    else:
        raw_metric = F.lit(None).cast("string")
    metric = F.coalesce(raw_metric, F.lit(default_metric).cast("string"))

    parse_error = (
        F.col(CORRUPT_COL).isNotNull() if CORRUPT_COL in cols else F.lit(False)
    )
    warn = (
        F.when(parse_error, F.lit("JSON parse error in NDJSON line"))
        .when(ts.isNull(), F.lit(f"Invalid/missing timestamp ({ts_key or 'timestamp'})"))
        .when(val.isNull(), F.lit(f"Invalid/missing numeric value ({val_key or 'value'})"))
        .when(metric.isNull() | (metric == ""), F.lit("Missing metric and no default_metric provided"))
    )
    return df.select(
        ts.alias("ts"), metric.alias("metric"), val.alias("value"), warn.alias("_warn")
    )


def get_or_create_sources(
    spark: SparkSession,
    existing: DataFrame | None,
    names: DataFrame,
) -> DataFrame:
    """J3 — dimension get-or-create: left-anti join new names against the
    ``sources`` dim, append with generated ids (reference
    ``_get_or_create_source``, services/ingestion.py:39-46).

    Ids are ``max(existing) + dense_rank(name)`` — deterministic and
    collision-free without a driver loop or a global sequence (at cluster
    scale a per-batch rank beats monotonically_increasing_id, whose
    values depend on partition layout).
    """
    from pyspark.sql import Window

    names = names.select(F.col("name").cast("string")).distinct()
    if existing is None:
        existing = local_frame(spark, [], "id long, name string")
    new = names.join(existing, "name", "left_anti")
    base = existing.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m"))
    new_ids = new.crossJoin(F.broadcast(base)).select(
        (F.col("m") + F.dense_rank().over(Window.orderBy("name"))).alias("id"),
        "name",
    )
    return existing.unionByName(new_ids)


def upsert_clean_events(
    batch: DataFrame,
    existing_silver: DataFrame | None,
) -> tuple[DataFrame, Column]:
    """S8/J4 — idempotent silver insert: ON CONFLICT (source_id, ts,
    metric) DO NOTHING (reference services/ingestion.py:214-227).

    = dropDuplicates within the batch + left-anti join against existing
    silver. Returns (rows_to_append, duplicate-count aggregate column
    usable as ``batch_count - inserted``).

    At scale both sides shuffle on the same (source_id, ts, metric) key
    once; if silver is bucketed on those keys the anti-join is
    shuffle-free on the big side.
    """
    keys = ["source_id", "ts", "metric"]
    in_batch = batch.dropDuplicates(keys)
    if existing_silver is not None:
        to_insert = in_batch.join(
            existing_silver.select(*keys), keys, "left_anti"
        )
    else:
        to_insert = in_batch
    return to_insert, F.count(F.lit(1))


def ingest_stats_from_clean(clean: DataFrame) -> dict:
    """A7 — the stats dict contract (reference services/ingestion.py:277-286):
    ingested/skipped counts, capped warning list, first + sorted metrics,
    min/max ts. One aggregation job; the warning list is reconstructed
    from per-reason counts (the reference emits one string per bad row,
    capped at 50 — grouped counts preserve the information at any scale).
    """
    agg = clean.agg(
        F.count(F.when(F.col("_warn").isNull(), 1)).alias("ingested_rows"),
        F.count(F.when(F.col("_warn").isNotNull(), 1)).alias("skipped_rows"),
        F.min(F.when(F.col("_warn").isNull(), F.col("ts"))).alias("min_ts"),
        F.max(F.when(F.col("_warn").isNull(), F.col("ts"))).alias("max_ts"),
        F.sort_array(
            F.collect_set(F.when(F.col("_warn").isNull(), F.col("metric")))
        ).alias("metrics"),
        F.min_by(
            F.when(F.col("_warn").isNull(), F.col("metric")), F.col("ts")
        ).alias("metric_first"),
    ).collect()[0]
    warn_counts = (
        clean.filter(F.col("_warn").isNotNull())
        .groupBy("_warn")
        .count()
        .orderBy("_warn")
        .collect()
    )
    warnings: list[str] = []
    for r in warn_counts:
        take = min(int(r["count"]), WARNING_CAP - len(warnings))
        warnings.extend([r["_warn"]] * take)
        if len(warnings) >= WARNING_CAP:
            break
    return {
        "ingested_rows": agg["ingested_rows"],
        "skipped_rows": agg["skipped_rows"],
        "duplicates": 0,  # filled by the upsert step
        "warnings": warnings,
        "metric": agg["metric_first"],
        "metrics": list(agg["metrics"]),
        "min_ts": agg["min_ts"].isoformat() + "+00:00" if agg["min_ts"] else None,
        "max_ts": agg["max_ts"].isoformat() + "+00:00" if agg["max_ts"] else None,
    }


def kpi_recompute_scope(stats: dict, surface: str = "ingest") -> list[str]:
    """Which metrics each ingestion surface recomputes KPIs for — a
    deliberate reference QUIRK, pinned here so parity is explicit:

    - ``ingest`` (reference routers/ingest.py:183-189): ALL metrics seen
      in the batch, falling back to [first metric] if the set is empty.
    - ``upload`` (reference routers/upload.py:96-102): ONLY the FIRST
      metric (``stats["metric"]``, min-by-ts) — multi-metric uploads
      leave the other metrics' gold rows stale until the next ingest.

    Callers feed the result to per-metric gold recompute (streaming/
    ingest.py recomputes by touched day instead, which covers both)."""
    if surface == "upload":
        m = stats.get("metric")
        return [m] if m else []
    if surface == "ingest":
        metrics = stats.get("metrics") or []
        if metrics:
            return list(metrics)
        m = stats.get("metric")
        return [m] if m else []
    raise ValueError(f"surface must be ingest|upload, got {surface!r}")
