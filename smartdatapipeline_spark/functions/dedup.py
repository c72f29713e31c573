"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard (BASELINE.json north star;
no reference equivalent — semantics defined here, pinned by oracles).

Scale design (the whole point of these):

- **exact**: hash-groupBy on a 60-bit content fingerprint. One shuffle
  on the fingerprint; representative = min(doc_id) per group.
- **MinHash+LSH**: shingle → k hash functions → per-doc signature →
  b bands of r rows → band-bucket join. Candidate generation touches
  only docs sharing a band bucket (the classic S-curve), so the
  pairwise work is proportional to true-ish duplicates, not n².
- **SimHash**: 60-bit sign-aggregated token hashes; banding on bit
  ranges gives candidate pairs for a Hamming-distance filter.
- **n-gram Jaccard**: exact set similarity on shingle sets for candidate
  pairs that share ≥ 1 shingle (sound only at moderate vocabularies;
  MinHash-LSH is the 100 TB path — this is the verifier/oracle).

Hashing discipline: md5-hex → 60-bit int (engine-portable; murmur/xxhash
are not), then affine re-hashes ``(a·(H mod p) + b) mod p`` with
p = 2^31 − 1 so every product stays far inside int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.functions.text import normalize_text, tokens

P31 = 2_147_483_647  # 2^31 - 1 (prime)

#: affine re-hash parameters for the MinHash family (fixed, public).
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1 + 4 * i, 7 + 11 * i) for i in range(16)
]


def h60(col: Column) -> Column:
    """portable 60-bit string hash: first 15 md5 hex chars as int."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(tokens_col: Column, k: int = 3) -> Column:
    """word k-gram shingle array from a MATERIALIZED token-array column.

    Pass a plain column reference (``F.col("toks")``), not a computed
    expression: higher-order-function lambdas re-evaluate their captured
    argument tree per element, so handing ``tokens(text)`` directly here
    turns the O(T) tokenization into O(T²) per row (measured 4×+ slower
    at sf0.1). ``exploded_shingles`` below does the materialization.
    """
    n = F.size(tokens_col)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, k))
    )


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, sh): exploded distinct word k-gram shingles, with the
    token array materialized in its own projection so tokenization runs
    once per doc. ``explode_outer`` keeps empty docs as a null shingle
    (downstream mins/hashes of null stay null, matching per-row array
    semantics for empty inputs)."""
    return df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).select(
        "doc_id",
        F.explode_outer(F.array_distinct(shingles(F.col("_toks"), k))).alias("sh"),
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint: one hash
    aggregation. Output: (fingerprint, rep_id = min id, n_docs)."""
    fp = h60(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """MinHash signature: for each of the 16 hash functions, the min over
    the doc's distinct shingles of ``(a·(H mod p) + b) mod p``.

    Physical shape: explode shingles → hash once per (doc, shingle) row →
    ``groupBy(doc).agg(min × 16)``. The 16 mins are plain aggregate
    columns, so Spark does map-side partial aggregation and the shuffle
    carries 16 longs per doc per partition — not the shingle set. (An
    earlier all-array-expression form with no shuffle blew past the
    whole-stage-codegen method limit and fell back to interpreted eval,
    ~30× slower; the explode shape keeps every expression codegen'd.)
    Output: (id, sig array<long> length 16).
    """
    ex = exploded_shingles(df, id_col, text_col, k)
    h = (h60(F.col("sh")) % P31).alias("h")
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P31).alias(f"_m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return (
        ex.select("doc_id", h)
        .groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[f"_m{i}" for i in range(len(MINHASH_PARAMS))]).alias("sig"),
        )
    )


def minhash_bands(
    sig_df: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """LSH banding: signature → ``bands`` buckets of ``rows`` hashes each,
    bucket key = md5 of the joined band values. Output long-form:
    (doc_id, band, bucket)."""
    assert bands * rows <= len(MINHASH_PARAMS)
    band_cols = []
    for b in range(bands):
        piece = F.concat_ws(
            ",", *[F.element_at("sig", b * rows + r + 1).cast("string") for r in range(rows)]
        )
        band_cols.append(h60(piece).alias(f"_b{b}"))
    wide = sig_df.select("doc_id", *band_cols)
    stack = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), F.col(f"_b{b}").alias("bucket"))
                for b in range(bands)
            ]
        )
    ).alias("bb")
    return wide.select("doc_id", stack).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _sig_agreement(sig_a: str, sig_b: str) -> Column:
    """Signature-estimated Jaccard: the fraction of the minhashes that
    agree between two signature columns."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(len(MINHASH_PARAMS)))


def _bucket_pairs(sig: DataFrame, bb: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): docs sharing any band bucket of
    ``bb`` (a < b), deduplicated across bands, scored by signature
    agreement."""
    left, right = bb.alias("l"), bb.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", _sig_agreement("_sa", "_sb").alias("est_jaccard"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
    rows: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band bucket (a < b),
    deduplicated across bands, with the signature-estimated Jaccard
    (fraction of the 16 minhashes that agree).

    The join is bucket-to-bucket — the n² pair space is never formed
    ACROSS buckets; WITHIN a bucket the pair count is still quadratic
    in bucket size. A corpus that is mostly one boilerplate family
    (measured: a 99%-duplicate probe corpus pushes the end-to-end
    scaling exponent to ~1.09) puts thousands of docs in one bucket —
    the classic mega-bucket skew. ``max_bucket_size`` is the standard
    production guard: buckets above the cap are excluded from pairwise
    expansion (their members are near-identical by construction and are
    handled wholesale by the cheaper cluster-by-bucket / exact-dup
    path, one label per bucket instead of |bucket|² edges). Default
    None keeps exact pair semantics for the oracle-checked path —
    production callers should use ``dedup_pipeline`` below, where the
    guard (and the star-edge wholesale path) is the default.
    """
    sig = minhash_signature(df, id_col, text_col, k).cache()
    bb = minhash_bands(sig, bands, rows)
    if max_bucket_size is not None:
        small = (
            bb.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        bb = bb.join(small, ["band", "bucket"])
    return _bucket_pairs(sig, bb)


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
    rows: int = 4,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Production near-dup dedup entry point — SCALE-MODE defaults.

    The low-level primitives default to oracle-exact semantics
    (``minhash_candidate_pairs(max_bucket_size=None)`` forms every
    within-bucket pair); this wrapper is what a deployment calls, and
    its default ``max_bucket_size=5000`` makes the mega-bucket guard
    unskippable by accident — the one configuration that measured
    super-linear (exponent ~1.09 on a 99%-duplicate probe corpus)
    cannot be reached without explicitly passing ``None``.

    Shape:
      1. small buckets (≤ cap): pairwise candidates → keep pairs with
         signature-estimated Jaccard ≥ ``min_est_jaccard``;
      2. mega buckets (> cap): members are one boilerplate family by
         construction — STAR edges to the bucket's min doc id, O(|bucket|)
         edges instead of |bucket|², same connected components;
      3. min-label connected components over both edge sets;
      4. keep-list: representative = cluster label.

    Output: (id_col, cluster, is_representative).
    """
    sig = minhash_signature(df, id_col, text_col, k).cache()
    bb = minhash_bands(sig, bands, rows)
    if max_bucket_size is not None:
        counts = bb.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_bn"))
        bb_sized = bb.join(counts, ["band", "bucket"])
        small_bb = bb_sized.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
        from pyspark.sql import Window

        # hub = bucket min via an unbounded window — stays row-oriented
        # (no per-bucket array materialization, mega buckets are exactly
        # the case where that array would be huge)
        wb = Window.partitionBy("band", "bucket")
        mega_star = (
            bb_sized.filter(F.col("_bn") > max_bucket_size)
            .withColumn("_hub", F.min("doc_id").over(wb))
            .filter(F.col("doc_id") != F.col("_hub"))
            .select(
                F.col("_hub").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
            .distinct()
        )
    else:
        small_bb, mega_star = bb, None
    verified = (
        _bucket_pairs(sig, small_bb)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("doc_a", "doc_b")
    )
    edges = (
        verified.unionByName(mega_star) if mega_star is not None else verified
    )
    nodes = df.select(F.col(id_col).alias("doc_id")).distinct()
    clusters = duplicate_clusters(edges, nodes)
    return clusters.select(
        F.col("doc_id").alias(id_col),
        "cluster",
        # compare against the cluster frame's literal column — duplicate_
        # clusters always emits `doc_id`; referencing `id_col` here broke
        # every non-default id_col caller (round-3 ADVICE, medium)
        (F.col("cluster") == F.col("doc_id")).alias("is_representative"),
    )


def minhash_lsh_pairs_mllib(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hash_tables: int = 4,
    max_jaccard_distance: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Engine-native MinHash LSH via MLlib (the BASELINE.json "MLlib"
    route): shingles → HashingTF sparse vectors → ``MinHashLSH``
    (seeded) → ``approxSimilarityJoin`` under a Jaccard-distance
    threshold. Same candidate-generation role as the from-scratch
    ``minhash_candidate_pairs`` (which stays the oracle-checked path —
    MLlib's hash family isn't SQL-replicable); this variant gets the
    JVM-side LSH join implementation and its AND/OR amplification knobs
    for free. Distance here is exact Jaccard on the hashed feature sets,
    computed by the join itself.

    Output: (doc_a, doc_b, jaccard) with a < b.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).select(
        "doc_id", F.array_distinct(shingles(F.col("_toks"), k)).alias("_sh")
    ).filter(F.size("_sh") > 0)
    tf = HashingTF(
        inputCol="_sh", outputCol="features", numFeatures=num_features
    )
    feat = tf.transform(toks)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    ).fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, max_jaccard_distance, distCol="_dist"
    )
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("_dist")).alias("jaccard"),
        )
        .distinct()
    )


def scrub_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 13,
    k: int = 3,
) -> DataFrame:
    """SPAN-level decontamination (the PaLM/GPT-4-report convention:
    drop the overlapping ~13-gram WINDOWS, keep the rest of the
    document — doc-level ``decontaminate`` above is the blunt
    instrument): any ``window``-token span of a training doc whose
    k-gram shingles ALL appear in the eval shingle set is masked out;
    the cleaned text is the remaining tokens rejoined.

    A span is "contaminated" when every one of its k-gram shingles hits
    the eval set — equivalent to an exact ``window``-token overlap for
    contiguous eval text, robust to shingle-set reuse. All column math:
    explode spans → broadcast-join eval shingles → per-span hit counts →
    per-doc covered-position mask → filter + rejoin. The only
    corpus-sized shuffle is the per-doc grouping.

    Output: (id_col, clean_text, n_tokens, n_masked, masked_frac).
    """
    eval_sh = F.broadcast(
        exploded_shingles(eval_docs, id_col, text_col, k)
        .filter(F.col("sh").isNotNull() & (F.col("sh") != ""))
        .select(F.col("sh").alias("_esh"))
        .distinct()
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    per_pos = toks.select(
        "doc_id",
        F.explode_outer(
            F.when(
                F.size("_toks") >= k,
                F.sequence(F.lit(0), F.size("_toks") - k),
            )
        ).alias("pos"),
        F.col("_toks"),
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("_toks", F.col("pos") + 1, k)).alias("sh"),
    )
    # r14 (guide §2.3 "aggregate less, shuffle fewer rows"): only HIT
    # positions matter downstream — a broadcast semi-join emits just
    # those, so the per-doc grouping aggregates contaminated positions
    # only (usually a tiny fraction) instead of every position of every
    # doc, and the join-back's right side shrinks to contaminated docs
    # (AQE then broadcasts it, sparing the token frame its shuffle).
    # Identical semantics: the former left join + collect_list(when(
    # _hit, pos)) kept exactly the matching positions.
    hits = per_pos.join(
        eval_sh, per_pos["sh"] == eval_sh["_esh"], "left_semi"
    ).select("doc_id", "pos")
    # span starting at s (length `window`) is contaminated iff all its
    # window-k+1 shingle positions hit; collect hit positions per doc
    # and evaluate the mask as array logic (docs are KB-sized; the
    # per-doc array is bounded by doc length, not corpus size)
    per_doc = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.col("pos"))).alias("_hitpos")
    )
    with_toks = toks.join(per_doc, "doc_id", "left")
    span_len = window - k + 1  # shingle positions per span
    # r14 (guide §4.2): the span/mask algebra is pure integer+string
    # logic per doc — O(n·|hits|) interpreted HOF lambdas before; now
    # one Arrow pass with vectorized counts per doc (cumsum window-full
    # test for contaminated starts, difference-array coverage for the
    # token mask). Integer/string ops ⇒ bit-identical by construction;
    # semantics mirrored exactly: a start s is contaminated iff all
    # span_len shingle positions s..s+span_len-1 hit, a token is masked
    # iff any contaminated window covers it, NULL token arrays
    # propagate NULL outputs, empty docs keep masked_frac 0.0.
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            toks_rows = batch.column(1).to_pylist()
            hit_rows = batch.column(2).to_pylist()
            texts, ntoks, nmask, frac = [], [], [], []
            for toks_row, hits in zip(toks_rows, hit_rows):
                if toks_row is None:
                    texts.append(None)
                    ntoks.append(None)
                    nmask.append(None)
                    frac.append(None)
                    continue
                n = len(toks_row)
                if n >= window and hits:
                    hb = np.zeros(n, dtype=np.int64)
                    hb[np.asarray(hits, dtype=np.int64)] = 1
                    c = np.concatenate(([0], np.cumsum(hb)))
                    s_idx = np.arange(0, n - window + 1)
                    starts = s_idx[
                        (c[s_idx + span_len] - c[s_idx]) == span_len
                    ]
                    cover = np.zeros(n + 1, dtype=np.int64)
                    np.add.at(cover, starts, 1)
                    np.add.at(cover, starts + window, -1)
                    masked = np.cumsum(cover[:n]) > 0
                    kept = [
                        t for t, mm in zip(toks_row, masked) if not mm
                    ]
                    nm = int(masked.sum())
                else:
                    kept = toks_row
                    nm = 0
                texts.append(" ".join(kept))
                ntoks.append(n)
                nmask.append(nm)
                frac.append(float(nm) / float(n) if n > 0 else 0.0)
            yield pa.record_batch(
                [
                    ids,
                    pa.array(texts, type=pa.string()),
                    pa.array(ntoks, type=pa.int32()),
                    pa.array(nmask, type=pa.int32()),
                    pa.array(frac, type=pa.float64()),
                ],
                names=[id_col, "clean_text", "n_tokens", "n_masked", "masked_frac"],
            )

    return with_toks.select("doc_id", "_toks", "_hitpos").mapInArrow(
        gen,
        f"{id_col} {id_type}, clean_text string, n_tokens int, "
        "n_masked int, masked_frac double",
    )


def build_dedup_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
    rows: int = 4,
) -> None:
    """Materialize the corpus MinHash index for INCREMENTAL dedup: band
    buckets written parquet PARTITIONED BY band and sorted by bucket
    within files (scan pruning on the band partition + bucket row-group
    min/max), plus the per-doc signatures for estimated-Jaccard
    verification. A nightly ingest then dedups its NEW batch against
    100 TB of corpus by probing buckets — corpus signatures are never
    recomputed, and only index rows whose (band, bucket) collide with
    the batch are read."""
    sig = minhash_signature(df, id_col, text_col, k).cache()
    bb = minhash_bands(sig, bands, rows)
    (
        bb.repartition("band")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{path}/bands")
    )
    sig.write.mode("overwrite").parquet(f"{path}/sigs")
    sig.unpersist()


def probe_dedup_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
    rows: int = 4,
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs between a NEW batch and the indexed
    corpus: the batch's band buckets (small — broadcast) join the
    band-partitioned index, then signature agreement scores each pair.
    Returns (new_id, corpus_id, est_jaccard); batch-internal dups are
    the ordinary ``minhash_candidate_pairs``/``dedup_pipeline`` job.

    Scale: per batch the index side reads only colliding buckets; the
    shuffle carries (band, bucket) hits, never the corpus.

    ``new_sig`` (r14): a precomputed ``minhash_signature`` frame for
    ``new_docs`` — callers that also APPEND signatures to the index
    (streaming ingest) pass it so the batch's text is hashed once, not
    once for the probe and once for the index write."""
    if new_sig is None:
        new_sig = minhash_signature(new_docs, id_col, text_col, k).cache()
    new_bb = minhash_bands(new_sig, bands, rows).withColumnRenamed(
        "doc_id", "new_id"
    )
    idx_bb = spark.read.parquet(f"{path}/bands")
    hits = (
        idx_bb.join(F.broadcast(new_bb), ["band", "bucket"])
        .select(F.col("new_id"), F.col("doc_id").alias("corpus_id"))
        .distinct()
    )
    idx_sig = spark.read.parquet(f"{path}/sigs").select(
        F.col("doc_id").alias("corpus_id"), F.col("sig").alias("_sc")
    )
    ns = new_sig.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("_sn"))
    return (
        hits.join(F.broadcast(ns), "new_id")
        .join(idx_sig, "corpus_id")
        .select("new_id", "corpus_id", _sig_agreement("_sn", "_sc").alias("est_jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥ 1 shingle:
    |A∩B| as a count over the shared-shingle join, |A∪B| = |A|+|B|−|A∩B|.

    All-integer set algebra ⇒ engine-exact. This is the verification
    path; candidate generation at scale belongs to MinHash-LSH above.

    The self-join key is the 60-bit shingle hash, not the shingle
    string: the shuffle carries (long, long) rows instead of raw
    shingle text, and the sort/compare side of the join is integer
    work. Collisions (~2^-60 per distinct pair) are negligible.
    """
    sh = (
        exploded_shingles(df, id_col, text_col, k)
        .filter(F.col("sh").isNotNull())
        .select("doc_id", h60(F.col("sh")).alias("sh_h"))
        # Shuffle on the join key ABOVE the hashing: the three consumers
        # below (self-join a/b + per-doc sizes) canonicalize to the same
        # exchange, so ReusedExchange computes the shingle hashes ONCE
        # and the self-join needs no further shuffle.
        .repartition("sh_h")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    return out


def duplicate_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc labeled with
    the MIN doc id reachable through the pair graph — the cluster
    representative a dedup keep-list selects.

    Thin adapter over the repo's ONE min-label CC loop,
    ``functions/graph.py connected_components`` (round-6 unification:
    every CC consumer — near-dup clusters, semantic dedup, the cluster
    index, dedup-aware splits — shares a single implementation). See
    that docstring for the propagation/convergence design.

    Output: (id_col, cluster) — isolated docs label themselves.
    """
    from smartdatapipeline_spark.functions.graph import connected_components

    return connected_components(
        pairs.select(F.col(a_col).alias("_e_src"), F.col(b_col).alias("_e_dst")),
        nodes.select(F.col(id_col).alias("_cc_node")),
        id_col="_cc_node",
        src="_e_src",
        dst="_e_dst",
        max_iter=max_iter,
    ).select(F.col("_cc_node").alias(id_col), "cluster")


def build_cluster_index(
    pairs: DataFrame,
    nodes: DataFrame,
    path: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> None:
    """Materialize the near-dup cluster labels ONCE (the
    ``build_ann_index`` pattern, similarity.py): connected components
    are the expensive iterative step every dedup decision shares —
    keep-lists, canonical selection, cluster stats — so a deployment
    runs CC one time per corpus snapshot and every consumer reads the
    label frame back. Written bucketed-by-nothing, sorted within files
    by cluster so per-cluster consumers get run-length locality."""
    labels = duplicate_clusters(pairs, nodes, id_col, a_col, b_col)
    labels.sortWithinPartitions("cluster").write.mode("overwrite").parquet(path)
    release_plan_caches(labels)


def probe_cluster_index(spark, path: str) -> DataFrame:
    """Read the materialized cluster labels — (id, cluster)."""
    return spark.read.parquet(path)


def canonical_from_clusters(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Canonical-document selection from a PRECOMPUTED cluster-label
    frame: per cluster keep the highest-``quality`` member (id
    tiebreak). This is the reuse half of the index pattern — CC runs
    once (``build_cluster_index``); selection is a single window over
    the label frame, ~join-cost instead of iterative-CC cost."""
    from pyspark.sql import Window

    j = clusters.join(quality.select(id_col, quality_col), id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.desc(quality_col), F.col(id_col).asc()
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_docs_in_cluster", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
        )
        .filter(F.col("_rn") == 1)
        .select(
            "cluster",
            F.col(id_col).alias("canonical_doc"),
            "n_docs_in_cluster",
            F.col(quality_col).alias("canonical_quality"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens: bit j of the fingerprint is
    the sign of Σ_tokens (±1 by bit j of the token hash).

    Physical shape: explode distinct tokens → hash once per (doc, token)
    row → ``groupBy(doc)`` with 60 bit-count sums (c_j = Σ (h>>j)&1) plus
    the token count n; the ±1 sum is then 2·c_j − n, so bit j is set iff
    2·c_j > n. Plain integer aggregates ⇒ map-side partial agg + full
    codegen. (The per-row 60×``F.aggregate`` array-fold variant exceeded
    the codegen method limit and ran interpreted, ~20× slower.)
    Output: (doc_id, simhash long).
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    h = h60(F.col("tok")).alias("h")
    aggs = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"_c{j}")
        for j in range(60)
    ] + [F.count(F.col("h")).alias("_n")]
    fp = None
    for j in range(60):
        term = F.when(
            F.lit(2) * F.col(f"_c{j}") > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return (
        ex.select("doc_id", h)
        .groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.coalesce(fp, F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: band the 60 bits into ``bands`` 15-bit
    blocks (pigeonhole: any pair within Hamming ≤ bands−1 shares a block,
    so the default radius bands−1 = 3 has EXACT recall; wider radii trade
    recall), join per block, filter on true Hamming distance.
    Output: (doc_a, doc_b, hamming)."""
    s = simhash(df, id_col, text_col)
    width = 60 // bands
    mask = (1 << width) - 1
    blocks = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.block").alias("block"))
    # Pre-shuffle on the join key and force a sort-merge self-join: both
    # sides then consume the same shuffle output (the fingerprint
    # aggregation runs once, not once per side), and nothing corpus-sized
    # is ever broadcast — the scalable shape. (AQE's broadcast pick here
    # re-scanned and re-aggregated the whole corpus for the build side;
    # measured 2.5s → 1.5s steady-state at sf0.1.)
    blocks = blocks.repartition("band", "block")
    l, r = blocks.alias("l"), blocks.hint("merge").alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.block") == F.col("r.block"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        # hamming is a pure function of the pair, so filtering before the
        # cross-band dedup is equivalent and shrinks the distinct input
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap_frac: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag training docs whose word k-gram
    shingles overlap an eval/benchmark set (the safeguard every
    training-data pipeline runs before a corpus ships).

    Output, one row per training doc:
    ``(doc_id, n_shingles, n_overlap, overlap_frac, contaminated)``
    where ``overlap_frac = n_overlap / n_shingles`` (0.0 for shingle-less
    docs) and ``contaminated = overlap_frac >= min_overlap_frac``.

    Physical shape for 100 TB: the eval shingle set is tiny (benchmarks
    are MBs, the corpus is TBs), so it is distinct-ed once and
    **broadcast**; the training side is a scan → explode → broadcast
    left join → ``groupBy(doc_id)`` — the only corpus-sized shuffle is
    the per-doc count aggregation, and callers that pre-partition by
    ``doc_id`` (see ``__spark_entry__._docs``) pay no shuffle at all.
    """
    eval_sh = F.broadcast(
        exploded_shingles(eval_docs, id_col, text_col, k)
        .filter(F.col("sh").isNotNull() & (F.col("sh") != ""))
        .select(F.col("sh").alias("_esh"))
        .distinct()
    )
    ex = exploded_shingles(docs, id_col, text_col, k)
    joined = ex.join(eval_sh, ex["sh"] == eval_sh["_esh"], "left")
    valid = F.col("sh").isNotNull() & (F.col("sh") != "")
    agg = joined.groupBy("doc_id").agg(
        F.count(F.when(valid, 1)).alias("n_shingles"),
        F.count(F.when(valid & F.col("_esh").isNotNull(), 1)).alias("n_overlap"),
    )
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_overlap") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= F.lit(min_overlap_frac)).alias("contaminated"),
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 16,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_cap: int = 1 << 20,
) -> DataFrame:
    """Exact cross-document substring-span dedup (public recipe:
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — their suffix-array pass re-expressed as a hash-window
    pass): every ``window``-token span is hashed; spans appearing in
    ≥ ``min_docs`` DISTINCT docs are the repeated boilerplate/licensing
    blocks substring dedup cuts.

    Distributed shape: explode positions (n_tokens rows — linear, like
    the tokenizer itself) → 60-bit span hash → one groupBy(hash) with
    map-side partial aggregation. No pair space, no suffix array; the
    shuffle carries (hash, doc, pos) triples only. Representative =
    lexicographically smallest (doc, pos), encoded in one BIGINT so
    both engines agree without struct-ordering semantics.

    Output: (span_hash, n_docs, n_occurrences, rep_doc, rep_pos).

    ``pos_cap`` bounds the packed (doc, pos) key: positions must be
    < pos_cap (default 1M tokens/doc — widen for book-length corpora)
    and doc ids non-negative and < 2^63/pos_cap; violations RAISE at
    execution instead of silently corrupting rep_doc/rep_pos.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= window)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("_toks") - window)
        ).alias("pos"),
        F.col("_toks"),
    ).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("_toks", F.col("pos") + 1, window), " ")),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("span_hash"),
    )
    doc_cap = (1 << 63) // pos_cap
    bad = (
        (F.col("pos") >= pos_cap)
        | (F.col("doc_id") < 0)
        | (F.col("doc_id") >= doc_cap)
    )
    packed = F.when(
        bad,
        F.raise_error(
            F.format_string(
                "duplicate_spans: (doc_id, pos)=(%s, %s) overflows the "
                + f"packed key (pos_cap={pos_cap}, doc_cap={doc_cap}); "
                + "raise pos_cap or re-key the corpus",
                F.col("doc_id"),
                F.col("pos"),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id") * pos_cap + F.col("pos"))
    rep_key = F.min(packed)
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            rep_key.alias("_rep"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "span_hash",
            "n_docs",
            "n_occurrences",
            F.expr(f"_rep DIV {pos_cap}").alias("rep_doc"),
            (F.col("_rep") % pos_cap).cast("long").alias("rep_pos"),
        )
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_distance: int = 10,
    max_block_size: int | None = 2000,
) -> DataFrame:
    """Entity-resolution candidate pairs by blocked edit distance.

    The record-linkage shape (Fellegi–Sunter blocking + a string
    comparator): block on a cheap deterministic key — the first
    normalized token of the name — so the quadratic comparison runs only
    WITHIN blocks, then keep pairs whose full-name Levenshtein distance
    is <= ``max_distance``. Returns ``(id_a, id_b, distance)`` with
    ``id_a < id_b``.

    Scale posture: pair space is Σ_b |block_b|², not N² — the block key
    is the shuffle key, so each block's self-join is a co-partitioned
    SortMergeJoin with no data crossing blocks. ``max_block_size``
    (same guard as ``minhash_candidate_pairs``) drops degenerate blocks
    (e.g. a first token shared by 1% of a 100 TB catalog) instead of
    letting one reducer form 10^12 pairs; `levenshtein` itself is a JVM
    intrinsic, never a Python UDF. Oracle mode: ``max_block_size=None``
    keeps every pair for bit-exact SQL parity.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.split(F.lower(F.trim(F.col(name_col))), " ").getItem(0).alias("_blk"),
    )
    if max_block_size is not None:
        sizes = keyed.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bn"))
        keyed = (
            keyed.join(F.broadcast(sizes), "_blk")
            .filter(F.col("_bn") <= max_block_size)
            .drop("_bn")
        )
    a = keyed.alias("a")
    b = keyed.alias("b")
    # |len(a)−len(b)| ≤ d is a NECESSARY condition for edit distance ≤ d
    # (each edit changes length by ≤1): an exact 2-op pre-filter ahead
    # of the O(len²) levenshtein, output-identical. Keep it (and the id
    # order test) as a POST-join filter on the equi-key SMJ — measured
    # at sf0.1: extra ON-clause predicates de-optimize the merge join
    # (42 s vs 24.5 s); the filter form costs nothing here (TPC-H part
    # names are near-uniform length) and prunes hard on varied-length
    # catalogs.
    len_ok = (
        F.abs(F.length(F.col("a._name")) - F.length(F.col("b._name")))
        <= max_distance
    )
    return (
        a.join(b, on="_blk")
        .filter((F.col("a._id") < F.col("b._id")) & len_ok)
        .withColumn(
            "distance",
            F.levenshtein(F.col("a._name"), F.col("b._name")).cast("long"),
        )
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "distance",
        )
    )


def cluster_aware_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Dedup-aware train/val/test split: the split is decided by the
    hash bucket of each document's exact-dup GROUP REPRESENTATIVE (min
    id over the content fingerprint group), so byte-identical documents
    can never straddle train and eval — the leakage plain per-doc hash
    splits allow. (For near-dup co-location, feed cluster labels from
    ``build_cluster_index`` through the same rep-bucket rule.)

    One fingerprint aggregation + one co-keyed join on top of the
    ``hash_split`` bucket rule. Output: (id, rep_id, split).
    """
    from smartdatapipeline_spark.functions.sampling import hash_split

    fp = h60(normalize_text(F.col(text_col)))
    with_fp = df.select(F.col(id_col), fp.alias("_fp"))
    reps = with_fp.groupBy("_fp").agg(F.min(id_col).alias("_rep"))
    labeled = with_fp.join(reps, "_fp")
    return hash_split(labeled, "_rep", weights, salt).select(
        id_col, F.col("_rep").alias("rep_id"), "split"
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT all-pairs Jaccard-threshold join with PREFIX FILTERING
    (Chaudhuri et al. SSJoin '06 / Bayardo et al. All-Pairs '07): a
    pair with J(A,B) ≥ t must share at least one token among each
    set's first |s| − ⌈t·|s|⌉ + 1 tokens under a GLOBAL rarest-first
    order — so candidates are generated from prefix tokens only, and
    the shared-token join shrinks from every common shingle (the
    ``ngram_jaccard_pairs`` shape) to the rare prefix slice, with NO
    recall loss (the exact Jaccard verification runs on the full sets).

    Scale shape: document frequency orders tokens (one dimension-sized
    aggregate); per-doc sorted arrays build in one shuffle; the
    candidate join keys on prefix-token hash, so boilerplate shingles
    (high df) sort to the suffix and never join. A length filter
    (min ≥ t·max) prunes before the array intersection; intersection
    and union are exact integers.

    Output: (doc_a, doc_b, n_inter, jaccard) for all pairs with
    jaccard ≥ threshold.
    """
    sh = (
        exploded_shingles(df, id_col, text_col, k)
        .filter(F.col("sh").isNotNull())
        .select("doc_id", h60(F.col("sh")).alias("sh_h"))
    )
    freq = sh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("_df"))
    docs = (
        sh.join(freq, "sh_h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_df"), F.col("sh_h")))
            ).alias("_arr")
        )
        .select(
            "doc_id",
            F.transform("_arr", lambda x: x["sh_h"]).alias("items"),
            F.size("_arr").alias("n"),
        )
    )
    plen = (
        F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).cast("int")
    pref = docs.select(
        "doc_id", "items", "n",
        F.explode(F.slice(F.col("items"), F.lit(1), plen)).alias("p"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.least(F.col("a.n"), F.col("b.n")).cast("double")
            >= F.lit(float(threshold)) * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.items").alias("_ia"),
            F.col("b.items").alias("_ib"),
            F.col("a.n").alias("_na"),
            F.col("b.n").alias("_nb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    n_inter = F.size(F.array_intersect(F.col("_ia"), F.col("_ib")))
    return (
        cand.withColumn("n_inter", n_inter.cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("_na") + F.col("_nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= float(threshold))
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    window: int = 3,
    max_distance: int = 10,
) -> DataFrame:
    """Entity-resolution candidates by SORTED NEIGHBORHOOD (Hernández &
    Stolfo 1995) — the sliding-window alternative to hash blocking
    (``fuzzy_name_pairs``): sort records by a lexicographic key, then
    compare each record only to its ``window`` successors in sort
    order. Where hash blocking misses near-dups whose block keys differ
    (typo in the first token ⇒ different block), the sorted window
    catches neighbors that agree on any sort-key PREFIX; production ER
    runs both passes and unions candidates.

    Pair space is exactly N·window (linear!), vs Σ|block|² for
    blocking. The sort key here is the normalized name itself; ranks
    come from a window partitioned by the key's first character — each
    partition sorts independently (the scalable shape: a global
    row_number would single-thread the sort), at the cost of never
    pairing across a first-character boundary, which the sort key
    ordering makes a measure-zero loss for name data.

    Neighbors then pair by rank distance 1..window (an equi-join on
    (partition, rank+j) — co-partitioned, no pair space) and keep pairs
    with full-name Levenshtein ≤ ``max_distance``.

    Output: (id_a, id_b, distance) with id_a < id_b, deduplicated.
    """
    from pyspark.sql.window import Window

    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.lower(F.trim(F.col(name_col))).alias("_key"),
    ).withColumn("_part", F.substring("_key", 1, 1))
    w = Window.partitionBy("_part").orderBy(F.col("_key").asc(), F.col("_id").asc())
    ranked = keyed.withColumn("_rn", F.row_number().over(w))
    offsets = ranked.select(
        "_part",
        F.col("_id").alias("_idb"),
        F.col("_name").alias("_nameb"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(int(window))),
                lambda j: F.col("_rn") - j,
            )
        ).alias("_rn"),
    ).filter(F.col("_rn") >= 1)
    pairs = ranked.join(offsets, ["_part", "_rn"]).select(
        F.least(F.col("_id"), F.col("_idb")).alias("id_a"),
        F.greatest(F.col("_id"), F.col("_idb")).alias("id_b"),
        F.levenshtein(F.col("_name"), F.col("_nameb")).alias("distance"),
    )
    return (
        pairs.filter(
            (F.col("id_a") < F.col("id_b")) & (F.col("distance") <= max_distance)
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("distance").alias("distance"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Broder CONTAINMENT |A∩B| / |A| — the asymmetric companion to
    ``ngram_jaccard_pairs``: a short doc quoted/aggregated inside a
    long one scores containment ≈ 1 while its Jaccard stays tiny
    (|A∩B|/|A∪B| is diluted by the long side), so Jaccard-thresholded
    dedup never sees it. Directed output: (doc_a, doc_b) means "doc_a
    is contained in doc_b at this fraction"; both directions emitted
    when both clear the threshold.

    Same engine-exact integer set algebra and 60-bit shingle-hash join
    as the Jaccard verifier, one shared exchange for both join sides
    and the size agg. ``max_shingle_freq`` drops shingles present in
    more docs than the cap (boilerplate/stopword shingles) before the
    self-join — the standard frequency guard that keeps the pair space
    near-linear; NULL disables it (exact, quadratic in the worst case).
    """
    sh = (
        exploded_shingles(df, id_col, text_col, k)
        .filter(F.col("sh").isNotNull())
        .select("doc_id", h60(F.col("sh")).alias("sh_h"))
        .repartition("sh_h")
    )
    if max_shingle_freq is not None:
        # document frequency as a window count over the sh_h-partitioned
        # frame: no second derivation of the shingle pipeline and no
        # guard self-join — just one local sort inside the exchange the
        # self-join needs anyway
        from pyspark.sql.window import Window

        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("sh_h"))
            )
            .filter(F.col("_df") <= max_shingle_freq)
            .drop("_df")
        )
    # sh feeds the size agg AND both self-join sides: cache it so the
    # tokenize+hash+guard pipeline runs once, not per consumer (the
    # weak-plan pattern round 6 fixed in graph/copurchase); the caller
    # releases it from the result's plan
    sh = sh.cache()
    # sizes AFTER the frequency guard, so containment stays a true
    # fraction of the shingles that actually entered the join
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .withColumn(
            "containment", F.col("n_inter") / F.col("n_a").cast("double")
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "containment")
    )
