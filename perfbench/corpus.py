"""``corpus_dedup``: training-corpus curation on top of the engine.

Each pass curates a seeded corpus with a seeded share of exact and
near-duplicate copies: line cleanup and quality features → exact dedup →
SimHash near-dup pairs → connected-components cluster index →
canonical selection → quality model → sequence packing, then streams a
seeded tail of new documents through incremental MinHash dedup against
the curated corpus' index, and trains the registry's ``bpe_merges``
tokenizer loop on the same documents (the query mix's loop query, see
mix.py). The documents follow the sf0.1 ``documents`` table (see
gen.py). The only workload where the iterative loop engine and
driver-side job overhead do most of the work."""

from __future__ import annotations

import random
import shutil

from pyspark.sql import functions as F

import gen
from ingest import save
from mix import Mix
from smartdatapipeline_spark.functions import classify as CL
from smartdatapipeline_spark.functions import dedup as DD
from smartdatapipeline_spark.functions import text as TX
from smartdatapipeline_spark.streaming.corpus import stream_corpus_ingest


def union_find_labels(ids, pairs) -> dict[int, int]:
    """Min-id component label of every id under the undirected ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


class CorpusDedup:
    operation = "one curation pass, its stream ingest and the BPE training loop"
    #: sf0.1 has 5,000 documents: 4,742 originals, 250 near and 8 exact
    #: copies; this corpus has the same shares at a fifth of the size
    DOCS, TAIL, EXACT, NEAR = 950, 95, 8 / 4742, 250 / 4742

    def __init__(self, ctx):
        self.ctx = ctx
        self.mix = Mix(ctx, {"bpe_merges": "mix.functions"})

    def prepare(self) -> None:
        ctx = self.ctx
        rng = random.Random(ctx.seed)
        rows, self.copies = gen.corpus(rng, self.DOCS, self.EXACT, self.NEAR)
        self.exact_ids = {c for c, (_, kind) in self.copies.items() if kind == "exact"}
        tail, _ = gen.corpus(rng, self.TAIL, 0.1, 0.05, first_id=len(rows), pool=rows)
        gen.write_docs(ctx.path("docs"), rows, n_files=4)
        gen.write_docs(ctx.path("tail"), tail, n_files=1)
        self.n_tail = len(tail)
        self.mix.prepare(rng, 0, docs=rows)
        ctx.sizes = {"docs": len(rows), "tail_docs": len(tail),
                     "exact_copies": len(self.exact_ids)}
        self.out = None

    def setup(self) -> None:
        """Nothing to bootstrap: the corpus is read from the generated files."""

    def _pass(self, out: str) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        docs = spark.read.parquet(ctx.path("docs"))
        with ctx.span("functions.text.quality_features"):
            scored = TX.quality_features(
                TX.clean_lines(docs, min_words=3, require_terminal_punct=False),
                text_col="clean_text", keep=("text",),
            )
            scored.filter(F.col("quality") >= 0.2).select("doc_id", "text").write.parquet(
                f"{out}/filtered")
        filtered = spark.read.parquet(f"{out}/filtered")
        with ctx.span("functions.dedup.exact_dedup"):
            reps = DD.exact_dedup(filtered).select(F.col("rep_id").alias("doc_id"))
            filtered.join(reps, "doc_id").write.parquet(f"{out}/deduped")
        deduped = spark.read.parquet(f"{out}/deduped")
        with ctx.span("functions.dedup.simhash_near_pairs"):
            save(DD.simhash_near_pairs(deduped, max_hamming=3), f"{out}/pairs")
        pairs = spark.read.parquet(f"{out}/pairs")
        with ctx.span("functions.dedup.build_cluster_index"):
            DD.build_cluster_index(pairs, deduped, f"{out}/clusters")
        with ctx.span("functions.dedup.canonical_from_clusters"):
            labels = DD.probe_cluster_index(spark, f"{out}/clusters")
            quality = TX.quality_features(deduped).select("doc_id", "quality")
            save(DD.canonical_from_clusters(labels, quality), f"{out}/canonical")
        canonical = spark.read.parquet(f"{out}/canonical")
        survivors = deduped.join(canonical.select(F.col("canonical_doc").alias("doc_id")), "doc_id")
        with ctx.span("functions.classify.build_quality_model_extremes"):
            CL.build_quality_model_extremes(survivors, path=f"{out}/model",
                                            pos_min=0.62, neg_max=0.55)
            coef = CL.load_quality_model(spark, f"{out}/model")
            save(CL.score_quality_linear(survivors, coef), f"{out}/scored")
        with ctx.span("functions.text.pack_sequences"):
            save(TX.pack_sequences(survivors), f"{out}/packed")
        with ctx.span("streaming.corpus.stream_corpus_ingest"):
            DD.build_dedup_index(survivors, f"{out}/index")
            tail = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(
                ctx.path("tail"))
            stream_corpus_ingest(tail, f"{out}/stream_corpus", f"{out}/index",
                                 f"{out}/checkpoint").awaitTermination()

    def op(self, i: int) -> None:
        out = self.ctx.path(f"pass-{i}")
        self._pass(out)
        self.mix.run(i)
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = out

    def verify(self) -> list[str]:
        if self.out is None:
            return ["no pass completed"]
        spark, out = self.ctx.spark, self.out
        problems = []
        kept = {r[0] for r in spark.read.parquet(f"{out}/deduped").select("doc_id").collect()}
        survived = sorted(kept & self.exact_ids)
        if survived:
            problems.append(f"exact copies kept by exact_dedup: {survived[:5]}")
        pairs = [(r[0], r[1]) for r in
                 spark.read.parquet(f"{out}/pairs").select("doc_a", "doc_b").collect()]
        labels = dict(spark.read.parquet(f"{out}/clusters").select("doc_id", "cluster").collect())
        want = union_find_labels(kept, pairs)
        root = {d: self.copies.get(d, (d, None))[0] for d in kept}
        chance = sum(root[a] != root[b] for a, b in pairs)
        print(f"perfbench: {len(pairs)} near-duplicate pairs, {chance} of them between documents "
              f"that are not copies of one another; {len(set(want.values()))} clusters "
              f"over {len(kept)} documents")
        if labels != want:
            bad = sorted(k for k in want if labels.get(k) != want[k])[:5]
            problems.append(f"cluster labels differ from union-find at doc ids {bad}")
        n_stream = spark.read.parquet(f"{out}/stream_corpus").count()
        if not 0 < n_stream < self.n_tail:
            problems.append(f"stream ingest kept {n_stream} of {self.n_tail} tail documents")
        return problems + self.mix.verify()

    def store_counters(self) -> dict:
        return {}

    def cleanup(self) -> None:
        self.mix.cleanup()
