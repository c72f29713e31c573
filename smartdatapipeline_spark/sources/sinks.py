"""Plain parquet/CSV/ORC sinks (SURVEY §2.1 S7, S9).

The reference's ``ON CONFLICT`` upserts (services/kpi.py:143-231,
services/ingestion.py:214-227, services/forecast.py:95-107) live in ONE
place: the snapshot-committed table of ``sources/snapstore.py``
(put-if-absent log commits, after Armbrust et al., "Delta Lake",
VLDB 2020). Silver, gold and the sketch stores all commit through it.
What remains here are the writers with no upsert contract: append-only
bronze, a bucketed gold table for shuffle-free aggregation, CSV export
and ORC interchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bronze(df: DataFrame, path: str) -> None:
    """S7 — append-only raw staging (reference services/ingestion.py:208-212).
    Bronze is immutable: appends only, no upsert."""
    df.write.mode("append").parquet(path)


def write_bucketed_gold(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    bucket_cols: tuple[str, ...] = ("metric",),
    sort_cols: tuple[str, ...] = ("metric_date",),
) -> None:
    """Gold as a bucketed+sorted table: repeated aggregations/joins on the
    bucket key read pre-clustered data and plan WITHOUT an Exchange —
    the 100 TB pattern for a hot grouping key (PERF.md "bucketing both
    sides on the key deletes the shuffle"). Requires a metastore-backed
    table (``saveAsTable``), not a bare path."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S9 — CSV export with the fixed header (reference
    services/metrics_calc.py:61-85). ``single_file`` coalesces to one
    part for API-download parity; leave False for distributed export."""
    w = (df.coalesce(1) if single_file else df).write.mode("overwrite").option(
        "header", True
    )
    w.csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (snappy, native writer) — the second
    warehouse-interchange format besides parquet; schema and values
    round-trip losslessly through ``sources.readers.read_orc``."""
    df.write.mode(mode).orc(path)
