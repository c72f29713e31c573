"""SparkSession factory tuned for the engine.

Scale posture: these configs are what we would ship on a 1000-executor
cluster reading ~100 TB; only ``master`` and the shuffle-partition count
are local-mode artifacts (on a real cluster, leave ``master`` to the
submitter and let AQE coalesce choose reducer counts).

- AQE on: runtime re-planning, skew-join splitting, partition coalescing,
  and coalescing extends to cached plans, so AQE sizes an iterative
  loop's shuffles from each plan's own data. No library code writes
  session conf to size a shuffle; ``read_events`` only pins the two
  settings a foreign session needs to read the events table.
- Arrow on: every pandas-UDF boundary is Arrow-batched, never per-row.
- Session timezone pinned to UTC: the reference normalizes all timestamps
  to UTC at ingest (reference services/ingestion.py:118-125); pinning the
  session TZ makes ``to_date(ts)`` mean "UTC calendar day" everywhere and
  keeps results machine-independent.
- Broadcast threshold left at default (10 MB): dimension tables (sources,
  nation, region ...) broadcast automatically; we still mark explicit
  ``broadcast()`` hints at join sites where the dimension is known-small
  regardless of stats.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "smartdatapipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the final shuffle of a cached plan as well:
        # with this off a cached frame keeps all
        # `spark.sql.shuffle.partitions` partitions, and each round of
        # the graph and BPE loops, which join their cached loop-invariant
        # frames, runs at that full width (PERF.md "Loop partitions")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # testdata events.parquet uses TIMESTAMP(NANOS); Spark has no ns
        # type, so read as long and convert with `ts DIV 1000` (truncation,
        # matching DuckDB's ns→us read behavior). See read_events().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stream_state_partitions(
    rows_per_batch: int,
    cpus: int | None = None,
    target_rows: int = 3000,
    floor: int = 4,
) -> int:
    """Shuffle/state-partition count for a STATEFUL streaming query,
    derived from per-micro-batch volume instead of the session default.

    Why (optimization guide §2 "make partitioning scale-adaptive"): AQE
    cannot coalesce the shuffle feeding a streaming state store — the
    partition count is frozen into the checkpoint at batch 0 — so a
    stateful stage inherits ``spark.sql.shuffle.partitions`` sized for
    BATCH work. At small per-batch volume that is pure task overhead:
    each batch pays (scheduling + state-store open/commit) × partitions.
    Measured on the bench's 12.5k-row micro-batches: 32 partitions
    7.6 s/drain vs 4 partitions 2.9 s (windowed KPIs, local[32]).

    The rule scales with data, not with the local box: partitions grow
    linearly with batch rows (1 per ``target_rows``) until they hit the
    core count — a production stream with 1e9-row batches saturates the
    cluster's parallelism, while a trickle stream stops paying per-task
    overhead it cannot use. A restarted query keeps the count it started
    with: Spark restores ``spark.sql.shuffle.partitions`` from the
    checkpoint's offset log, so resizing the cluster cannot reshard the
    state.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    derived = max(floor, rows_per_batch // target_rows)
    return max(1, min(cpus, derived))


def read_events(spark: SparkSession, sf_dir: str):
    """Read events.parquet, converting its TIMESTAMP(NANOS) column to a
    Spark microsecond timestamp via integer division (lossless w.r.t. the
    DuckDB oracle, which also truncates ns→us on read).

    Integer ``DIV`` is load-bearing: float division of ~1.7e18 ns values
    exceeds double's 53-bit mantissa and corrupts low-order digits.
    """
    from pyspark.sql import functions as F

    # runtime-settable; needed when the caller's session (e.g. the driver's)
    # was not built by get_spark(). UTC pin keeps to_date(ts) = UTC calendar
    # day regardless of host timezone (core reference semantic).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return canonicalize_timestamps(df)


def canonicalize_timestamps(df):
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (session tz is pinned
    UTC, so the instant is unchanged — same interpretation DuckDB applies
    to naive timestamps).

    Load-bearing at every scan boundary: Spark 4 reads parquet timestamps
    without tz annotation as TIMESTAMP_NTZ (`inferTimestampNTZ`), and
    several time functions (`unix_micros`, watermarks) require TIMESTAMP —
    the round-1 `sessionization` crash was exactly this type drift.
    """
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def local_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """A driver-side table (a model's coefficients, a codebook, a merge
    list, a dimension literal) as a JVM-only plan: ``LocalRelation`` →
    ``LocalTableScan``.

    Classic PySpark's ``createDataFrame(<list>)`` and ``parallelize``
    plan as ``Scan ExistingRDD`` over a ``PythonRDD``: executing them
    forks ``pyspark.daemon`` plus a Python worker per concurrently
    running slice, and the workers stay resident for the life of the
    session — on a UDF-free path they are pure overhead (measured on the
    corpus benchmark: daemon + 4 workers held ~172 MiB of PSS for two
    6–7-row tables). Here the rows travel as one Arrow batch that the
    JVM decodes into a ``LocalRelation``, so no Python process ever
    runs. Typed literals (``inline`` over an array of structs) would
    also stay in the JVM, but cost one py4j call per value: ~3 s to
    plan a 256-row PQ codebook, against ~20 ms here.

    ``schema`` is a DDL string; every field is converted at its declared
    type — an int that does not fit raises, doubles keep their exact
    bits, ``None`` is null. ``rows`` holds tuples in field order (an
    empty list gives an empty frame of that schema)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every testdata table in ``sf_dir`` as a DataFrame dict.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown/pruning
    freedom; nothing is cached here (callers cache hot gold tables).
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            out[n] = (
                read_events(spark, sf_dir)
                if n == "events"
                else canonicalize_timestamps(spark.read.parquet(path))
            )
    return out


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view so users can work in
    pure SQL (``spark.sql("SELECT … FROM lineitem JOIN orders …")``) —
    same Catalyst plans as the DataFrame API, pushdown/pruning included.
    Returns the registered names."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return sorted(tables)
