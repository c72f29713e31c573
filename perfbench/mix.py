"""The query-mix subset, folded into the two workloads' operations.

A fixed, named list of registry queries from ``__spark_entry__.queries()``
and the three stateful streaming drains, each under a ``mix.*`` span:

- ``mix.operators``: ``sessionization`` (operators/sessions)
- ``mix.stores``: ``distinct_from_store`` (the HLL register store; built
  in set-up, so a timed operation reads it)
- ``mix.functions``: ``bpe_merges`` (the BPE training loop)
- ``mix.streaming``: ``windowed_kpis``, ``stream_dedup`` and
  ``session_window_kpis`` draining a staged event stream to ``noop``

They read a seeded sf-shaped directory (``events.parquet``, and
``documents.parquet`` where a workload has documents) in the run's work
directory. Registry results are checked against the registry's own
``oracle_sql()`` run by DuckDB over the same files, compared as the
repository's correctness check compares them (``tools/check_correctness.py``:
floats at 17 significant digits, rows and columns in a canonical
order); the drains are checked from their progress reports.
"""

from __future__ import annotations

import glob
import os
import random
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen
from smartdatapipeline_spark.cachetrack import release_plan_caches

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAM_FILES = 2
#: (name, output mode, builder) of the three stateful drains, with the
#: parameters ``bench.py`` uses
DRAINS = (
    ("windowed_kpis", "update",
     lambda W, D, src: W.windowed_kpis(src, window="1 hour", watermark="1 hour")),
    ("stream_dedup", "append",
     lambda W, D, src: D.stream_dedup(src, keys=("metric", "ts"), watermark="1 hour")),
    ("session_window_kpis", "append",
     lambda W, D, src: W.session_window_kpis(src, gap="30 minutes", watermark="1 hour")),
)


class Mix:
    """``queries`` maps each registry query this workload runs to its
    span; ``drains`` adds the streaming drains over the events staged as
    ``STREAM_FILES`` micro-batches, 2% of them sent twice."""

    def __init__(self, ctx, queries: dict[str, str], drains: bool = False):
        self.ctx = ctx
        self.queries = queries
        self.drains = drains
        # the registry keys its store paths by this directory's name:
        # unique per run, so no run reads a store another run built
        self.sf_dir = ctx.path(f"sf-{os.path.basename(ctx.work)}")
        self.results: dict[str, pd.DataFrame] = {}
        self.progress: dict[str, list[dict]] = {}

    def prepare(self, rng: random.Random, n_events: int, docs: list | None = None) -> None:
        os.makedirs(self.sf_dir)
        if n_events:
            events = gen.events(rng, n_events)
            pq.write_table(events, os.path.join(self.sf_dir, "events.parquet"))
        if docs is not None:
            gen.write_docs(os.path.join(self.sf_dir, "documents.parquet"), docs)
        if self.drains:
            # re-send a seeded sample of events right after the originals:
            # within the watermark, so stream_dedup must drop every one
            idx = sorted(rng.sample(range(n_events), n_events // 50))
            both = pq.ParquetFile(os.path.join(self.sf_dir, "events.parquet")).read()
            order = sorted(list(range(n_events)) + idx)
            gen.stage_stream(both.take(order), self.ctx.path("stream"), STREAM_FILES)
            self.n_stream = len(order)
            self.n_distinct = len(set(zip(events.column("event_type").to_pylist(),
                                          events.column("ts").to_pylist())))

    def build_stores(self) -> None:
        """Build the stores the store-backed queries read: their first
        call builds the store, a later call reads it."""
        import __spark_entry__ as E

        registry = E.queries()
        for name, span in self.queries.items():
            if span == "mix.stores":
                release_plan_caches(registry[name](self.ctx.spark, self.sf_dir))

    def run(self, i: int) -> None:
        import __spark_entry__ as E

        spark, registry = self.ctx.spark, E.queries()
        for name, span in self.queries.items():
            with self.ctx.span(span):
                df = registry[name](spark, self.sf_dir)
                self.results[name] = df.toPandas()
                release_plan_caches(df)
        if self.drains:
            with self.ctx.span("mix.streaming"):
                self._drain(i)

    def _drain(self, i: int) -> None:
        from smartdatapipeline_spark.session import stream_state_partitions
        from smartdatapipeline_spark.streaming import dedup as D
        from smartdatapipeline_spark.streaming import windows as W

        spark = self.ctx.spark
        schema = spark.read.parquet(self.ctx.path("stream")).schema
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(stream_state_partitions(self.n_stream // STREAM_FILES)))
        try:
            for name, mode, build in DRAINS:
                src = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                       .parquet(self.ctx.path("stream")))
                ckpt = self.ctx.path("checkpoints", f"{name}-{i}")
                q = (build(W, D, src).writeStream.format("noop").outputMode(mode)
                     .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
                q.awaitTermination()
                self.progress[name] = [p for p in q.recentProgress if p]
                shutil.rmtree(ckpt, ignore_errors=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def verify(self) -> list[str]:
        import duckdb  # imported here so it is not in the measured footprint

        import __spark_entry__ as E
        from tools.check_correctness import normalize

        problems = []
        oracles = E.oracle_sql()
        con = duckdb.connect()
        for table in ("events", "documents"):
            path = os.path.join(self.sf_dir, f"{table}.parquet")
            if os.path.isdir(path):
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}/*.parquet'")
            elif os.path.exists(path):
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        for name in self.queries:
            got = self.results.get(name)
            if got is None:
                problems.append(f"{name}: never ran")
                continue
            want = con.sql(oracles[name]).df()
            if len(got) == 0 or len(got.columns) != len(want.columns) \
                    or not normalize(got).equals(normalize(want)):
                problems.append(f"{name}: {len(got)} rows differ from the DuckDB oracle's "
                                f"{len(want)}")
        con.close()
        for name, _, _ in DRAINS if self.drains else ():
            prog = self.progress.get(name, [])
            rows_in = sum(p["numInputRows"] for p in prog)
            rows_out = sum(max(p["sink"].get("numOutputRows", 0), 0) for p in prog)
            if rows_in != self.n_stream or rows_out <= 0:
                problems.append(f"{name}: read {rows_in} of {self.n_stream} events, "
                                f"emitted {rows_out} rows")
            if name == "stream_dedup" and rows_out != self.n_distinct:
                problems.append(f"stream_dedup emitted {rows_out} rows, expected "
                                f"{self.n_distinct} distinct (metric, ts) keys")
        return problems

    def cleanup(self) -> None:
        """Remove the registry's stores for this run's directory (they
        live under the repository's ``.tmp_stores/``)."""
        root = os.path.join(ROOT, ".tmp_stores")
        for path in glob.glob(os.path.join(root, f"*_{os.path.basename(self.sf_dir)}_*")):
            shutil.rmtree(path, ignore_errors=True)
        if os.path.isdir(root) and not os.listdir(root):
            os.rmdir(root)
