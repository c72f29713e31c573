"""Streaming training-corpus ingest with INCREMENTAL near-dup dedup —
the end-to-end composition the 100 TB story runs nightly/continuously:

  document stream → batch-internal exact dedup → probe the materialized
  MinHash index (only colliding buckets read) → append survivors to the
  corpus AND their signatures/bands to the index.

``foreachBatch`` is at-least-once: the checkpoint commits a micro-batch
id only after the body returns, and a restart replays an uncommitted
batch. The body's plain-parquet appends are three separate writes, not
one commit, so a crash after the corpus append and before the index
append replays the batch against an index that lacks its survivors,
and they are appended to the corpus a second time. The index grows
append-only, so the probe cost per batch is bounded by bucket
collisions, never corpus size. Unlike re-running corpus-wide dedup
per ingest (O(corpus) every time), the incremental path is
O(batch + collisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.functions.dedup import (
    exact_dedup,
    minhash_bands,
    minhash_signature,
    probe_dedup_index,
)


def stream_corpus_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    min_est_jaccard: float = 0.8,
    k: int = 3,
    bands: int = 4,
    rows: int = 4,
):
    """Start the ingest query. ``docs_stream`` is a streaming frame of
    (doc_id, text). Returns the StreamingQuery.

    Per micro-batch:
      1. batch-internal exact dedup (keep min doc_id per fingerprint);
      2. near-dup probe against the index at ``min_est_jaccard`` —
         matched docs are dropped;
      3. survivors append to ``corpus_path``; their signatures + band
         buckets append to ``index_path`` so the NEXT batch sees them.
    """
    spark = docs_stream.sparkSession

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        reps = exact_dedup(batch).select(F.col("rep_id").alias("doc_id"))
        uniq = batch.join(reps, "doc_id")
        # r14: hash each batch's text ONCE — the index probe and the
        # index append share this signature frame (pre-r14 the batch
        # was MinHash-hashed twice: once inside probe_dedup_index and
        # once for the survivors' index write). Signatures are a pure
        # function of the text, so filtering to survivors afterwards is
        # byte-identical to re-hashing the survivors.
        uniq_sig = minhash_signature(uniq, "doc_id", "text", k).localCheckpoint(
            eager=True
        )
        import os

        have_index = os.path.exists(f"{index_path}/sigs")
        if have_index:
            probe = probe_dedup_index(
                spark, index_path, uniq, k=k, bands=bands, rows=rows,
                new_sig=uniq_sig,
            )
            dup_ids = (
                probe.filter(F.col("est_jaccard") >= min_est_jaccard)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            survivors = uniq.join(dup_ids, "doc_id", "left_anti")
        else:
            survivors = uniq
        # localCheckpoint: survivors feed the corpus write and the
        # signature filter; don't recompute the probe join per sink
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(corpus_path)
        sig = uniq_sig.join(survivors.select("doc_id"), "doc_id", "semi")
        (
            minhash_bands(sig, bands, rows)
            .repartition("band")
            .sortWithinPartitions("bucket")
            .write.mode("append")
            .partitionBy("band")
            .parquet(f"{index_path}/bands")
        )
        sig.write.mode("append").parquet(f"{index_path}/sigs")
        # sig reads both checkpoints, which stay pinned until a JVM GC
        # otherwise
        release_plan_caches(sig)

    return (
        docs_stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
