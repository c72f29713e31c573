"""Structured Streaming ingest (SURVEY §2.8 — additive extension).

The reference's ingest is request-scoped batch: parse → clean → upsert →
recompute affected KPIs (routers/ingest.py:183-189,301-306). The
streaming analog runs that same request loop once per micro-batch:

    readStream(files|kafka) → foreachBatch: ingest_and_refresh

- ``operators/pipeline.py::ingest_and_refresh`` is the one ingest loop:
  clean, upsert silver ON CONFLICT DO NOTHING, refresh the touched gold
  days from silver's change feed. Silver, gold and the dead-letter
  table are snapshot-store tables (sources/snapstore.py); read them
  with ``snapstore.read_table``.
- The stream holds no watermark state. Dedup is the upsert's: duplicates
  within a micro-batch are dropped, and the anti-join against committed
  silver drops re-sends from any earlier batch, however late — so a
  replay of the same files (a lost checkpoint) adds no silver row.

The checkpoint records which files each micro-batch consumed; the
snapshot store's commits are the sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartdatapipeline_spark.operators.pipeline import ingest_and_refresh


def stream_csv_ingest(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    gold_path: str,
    checkpoint: str,
    schema: str = "timestamp string, value string, metric string",
    default_metric: str | None = "events_total",
    source_id: int = 1,
    dead_letter_path: str | None = None,
):
    """File-source streaming ingest. Returns the started StreamingQuery.

    Every micro-batch is one ``ingest_and_refresh`` call over the raw
    rows: clean → upsert silver → refresh the touched gold days.

    ``dead_letter_path``: when set, invalid rows are QUARANTINED there
    (a snapshot table, with their ``reason``) instead of silently
    dropped — the dead-letter-queue pattern; the reference only counts
    its skipped rows in capped warning strings (P4).
    """
    raw = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("maxFilesPerTrigger", 16)
        .csv(input_dir)
    )

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        ingest_and_refresh(
            batch.sparkSession, batch, silver_path, gold_path,
            default_metric=default_metric, source_id=source_id,
            quarantine_path=dead_letter_path,
        )

    return (
        raw.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: str = "timestamp string, value string, metric string",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source → parsed raw event stream (the cluster ingest path;
    the file source above is the test/demo path — both feed the SAME
    ``ingest_and_refresh`` loop).

    Returns the parsed, uncleaned streaming DataFrame; the caller wires
    it to ``writeStream.foreachBatch`` exactly like
    ``stream_csv_ingest``, whose micro-batch body cleans the rows.
    Requires the spark-sql-kafka package on the cluster (pyspark does
    not bundle it, and the tests run no broker), so any failure surfaces
    at ``load()`` with Spark's own missing-data-source error.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("j")
    ).select("j.*")
