"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

These extend the reference's surface (BASELINE.json north star) — the
reference has no text analytics, so the semantics here are defined by
this module and pinned by the DuckDB oracles + tests.

Everything is built-in column expressions (JVM-side, codegen'd, no
UDFs): at 100 TB these run at parquet scan speed with full column
pruning — the scan reads only ``text``.

Determinism notes: token operations use explicit whitespace
normalization + ``split`` on a single space (identical across engines,
no regex-dialect drift), and hashing goes through md5-hex → 60-bit int
(identical everywhere, unlike murmur variants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: distinctive stopword profiles for the heuristic language scorer.
#: Literal token matching (not regex) so both engines agree byte-for-byte.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "los", "que", "de", "es", "un"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "zh": ["的", "是", "了", "在", "和", "有", "不"],
}


def normalize_text(col: Column) -> Column:
    """lowercase, non-alphanumerics → space, collapse runs, trim.

    Simple character classes only ([^a-z0-9]) — Java regex and RE2
    agree on these, so the oracle stays engine-portable.
    """
    s = F.lower(col)
    s = F.regexp_replace(s, "[^a-z0-9\\u00c0-\\u024f\\u4e00-\\u9fff]+", " ")
    return F.trim(s)


def tokens(col: Column) -> Column:
    """whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    """whitespace token count."""
    t = tokens(col)
    return F.when(F.size(t) == 1, (F.element_at(t, 1) != "").cast("int")).otherwise(
        F.size(t)
    )


def bpe_piece_count(col: Column) -> Column:
    """BPE-ish piece estimate: word tokens contribute ceil(len/4) pieces
    (≈ 4 chars/token for web text) — a deterministic stand-in for a real
    tokenizer's piece count, cheap enough to run inline at scan time."""
    t = tokens(col)
    per = F.transform(t, lambda w: F.ceil(F.length(w) / 4.0).cast("long"))
    return F.aggregate(per, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lang_scores(tokens_col: Column) -> dict[str, Column]:
    """per-language stopword-hit counts from a MATERIALIZED token-array
    column (see ``shingles`` in functions/dedup.py for why: HOF lambdas
    re-evaluate a computed argument tree per reference, so passing
    ``tokens(text)`` here re-tokenized the doc ~35× per row — measured
    13.9s → 0.9s at sf0.1 after materializing).

    One filter pass per language: a token scores iff it is any of the
    profile's stopwords — identical to summing exact-match counts per
    word because the profile words are distinct."""
    return {
        lang: F.size(
            F.filter(tokens_col, lambda tk: tk.isin(*words))
        ).alias(f"score_{lang}")
        for lang, words in LANG_PROFILES.items()
    }


def predict_lang(tokens_col: Column) -> Column:
    """argmax language with deterministic tiebreak (profile order en, de,
    es, fr, zh — first max wins, 'und' when every score is 0). Takes a
    materialized token-array column (see ``lang_scores``)."""
    scores = lang_scores(tokens_col)
    langs = list(LANG_PROFILES)
    # two passes: first find max score, then first lang achieving it
    max_score = scores[langs[0]]
    for lang in langs[1:]:
        max_score = F.greatest(max_score, scores[lang])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when(scores[lang] == max_score, F.lit(lang)).otherwise(out)
    return F.when(max_score > 0, out).otherwise(F.lit("und"))


def quality_features(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """per-document quality features + composite score:

    - n_chars, n_tokens, avg token length
    - alpha_ratio: a-z chars / all chars
    - digit_ratio, space_ratio
    - stop_ratio: english stopword hits / tokens
    - quality: 0-1 composite (length-capped, alpha-heavy, stopword-aware)
    """
    # materialize the token array once (HOF lambdas re-evaluate computed
    # argument trees per reference — see lang_scores)
    df = df.withColumn("_toks", tokens(F.col(text_col)))
    c = F.col(text_col)
    t = F.col("_toks")
    n_chars = F.length(c)
    n_tokens = F.size(t)
    alpha = F.length(F.regexp_replace(F.lower(c), "[^a-z]+", ""))
    digits = F.length(F.regexp_replace(c, "[^0-9]+", ""))
    spaces = F.length(F.regexp_replace(c, "[^ ]+", ""))
    stop_hits = F.size(F.filter(t, lambda tk: tk.isin(*LANG_PROFILES["en"])))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1)).cast("double")
    digit_ratio = digits / F.greatest(n_chars, F.lit(1)).cast("double")
    space_ratio = spaces / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1)).cast("double")
    length_score = F.least(n_chars.cast("double") / 500.0, F.lit(1.0))
    quality = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * length_score
        + F.lit(0.3) * F.least(stop_ratio * 4.0, F.lit(1.0))
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        digit_ratio.alias("digit_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        # passthrough columns (composite pipelines fuse lang/fingerprint
        # into this projection instead of joining a second scan)
        *keep,
    )


def chunk_tokens(
    df: DataFrame,
    chunk_tokens_n: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    training-sequence preparation. Stride = chunk − overlap; the last
    chunk keeps the tail (may be short). Pure array expressions + one
    posexplode; at 100 TB this runs at scan speed with no shuffle.

    Output: (doc_id, chunk_idx, chunk_start, n_tokens, chunk_text).
    """
    assert 0 <= overlap < chunk_tokens_n
    stride = chunk_tokens_n - overlap
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size(F.col("_toks"))
    # chunk starts: 0, stride, 2*stride, … while start < n (≥1 chunk even
    # for empty docs so every doc appears; empty text → one empty chunk)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.slice(F.col("_toks"), s + 1, chunk_tokens_n).alias("toks"),
        ),
    )
    ex = base.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "_c"))
    return ex.select(
        "doc_id",
        "chunk_idx",
        F.col("_c.start").alias("chunk_start"),
        F.size("_c.toks").alias("n_tokens"),
        F.concat_ws(" ", "_c.toks").alias("chunk_text"),
    )


#: simple, RE2-and-Java-compatible patterns (no lookaround) so the
#: DuckDB oracle matches byte-for-byte
PII_PATTERNS: dict[str, str] = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone": "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
}


def scrub_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails/phones with typed placeholders and count removals —
    the standard pre-training scrub pass. Pure regexp column expressions.

    Output: input + (scrubbed text_col, n_email, n_phone).
    """
    c = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            # idx=0 = whole match (the default idx=1 requires a capture group)
            F.size(F.regexp_extract_all(c, F.lit(pat), 0)),
        )
    scrubbed = c
    for name, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn(text_col, scrubbed)


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition signals:

    - dup_3gram_frac: 1 − distinct/total word 3-grams (array ops per
      row — no explode, scan-speed)
    - top_2gram_frac: occurrences of the most frequent word 2-gram over
      total 2-grams (explode → per-(doc, gram) count → max per doc;
      map-side partial aggregation keeps the shuffle at
      O(distinct grams))

    High values flag boilerplate/spam/looped generations. Output:
    (doc_id, n_3grams, dup_3gram_frac, n_2grams, top_2gram_frac).
    """
    from smartdatapipeline_spark.functions.dedup import shingles

    def gram_rows(k: int) -> DataFrame:
        # explode → groupBy, the codegen-safe shape (see dedup.py: array
        # folds over a collapsed tokens expression re-tokenize per
        # element; measured 15s → 2s at sf0.1 for this operator)
        return df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
        ).select("doc_id", F.explode(shingles(F.col("_toks"), k)).alias("g"))

    stats3 = gram_rows(3).groupBy("doc_id").agg(
        F.count("g").alias("n_3grams"),
        F.countDistinct("g").alias("_d3"),
    )
    stats2 = (
        gram_rows(2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("n_2grams"))
    )
    return stats3.join(stats2, "doc_id", "left").select(
        "doc_id",
        "n_3grams",
        (
            1.0 - F.col("_d3") / F.greatest("n_3grams", F.lit(1)).cast("double")
        ).alias("dup_3gram_frac"),
        F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
        (
            F.coalesce(F.col("_top"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_2grams"), F.lit(0)), F.lit(1)).cast(
                "double"
            )
        ).alias("top_2gram_frac"),
    )


def fingerprint64(col: Column) -> Column:
    """60-bit content fingerprint of the normalized text: md5-hex → int.

    md5 is bit-identical in every engine; murmur/xxhash are not. 15 hex
    chars = 60 bits keeps the value positive in a signed int64.
    """
    return F.conv(F.substring(F.md5(normalize_text(col)), 1, 15), 16, 10).cast("long")


def winnow_fingerprint(tokens_col: Column, k: int = 5) -> Column:
    """robust document fingerprint: minimum k-gram hash (the min-sampling
    half of winnowing) — stable under small edits away from the minimum,
    unlike the whole-document hash. Takes a MATERIALIZED token-array
    column (see ``lang_scores`` for why)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - k, F.lit(0))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(tokens_col, i + 1, k))), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    return F.array_min(grams)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Sequence packing: lay documents end-to-end inside shards and cut
    fixed ``ctx_len``-token context windows (the concat-and-split packing
    LM training uses — docs may span a window boundary).

    Deterministic layout: shard = ``doc_id % n_shards``; within a shard
    docs are concatenated in ``doc_id`` order, so every doc gets a stable
    ``(shard, pack_id, pack_offset)`` address independent of cluster
    size or partitioning.

    Output, one row per doc: ``(doc_id, shard, n_tokens, offset_start,
    pack_id, pack_offset, crosses_boundary)``.

    Scale shape: one window function partitioned by shard — the running
    offset is a prefix sum per shard, so parallelism = ``n_shards``. At
    100 TB you'd shard by (split, date-bucket, hash-bucket) so each
    shard is one executor-sized slice; the semantics are per-shard and
    unchanged. No joins, no corpus-sized broadcast; the only shuffle is
    the shard repartition.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = base.withColumn(
        "offset_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return with_off.select(
        "doc_id",
        "shard",
        "n_tokens",
        "offset_start",
        F.floor(F.col("offset_start") / ctx_len).cast("long").alias("pack_id"),
        (F.col("offset_start") % ctx_len).cast("long").alias("pack_offset"),
        ((F.col("offset_start") % ctx_len) + F.col("n_tokens") > ctx_len).alias(
            "crosses_boundary"
        ),
    )


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style line-level boilerplate cleanup (no reference equivalent;
    heuristics from the public C4 paper, Raffel et al. 2020 §2.2): keep
    only lines with ≥ ``min_words`` words and (optionally) a terminal
    punctuation mark — drops nav bars, cookie banners, list fragments.

    Pure array expressions (split → filter → array_join): runs at scan
    speed inside codegen, no shuffle, no Python. Adds ``lines_total``,
    ``lines_kept``, ``clean_text``.
    """
    lines = F.split(F.col(text_col), "\n")

    def keep(line: Column) -> Column:
        words = F.size(F.split(F.trim(line), " +"))
        ok = (F.length(F.trim(line)) > 0) & (words >= min_words)
        if require_terminal_punct:
            ok = ok & F.trim(line).rlike("[.!?\"']$")
        return ok

    kept = F.filter(lines, keep)
    return (
        df.withColumn("lines_total", F.size(lines))
        .withColumn("lines_kept", F.size(kept))
        .withColumn("clean_text", F.array_join(kept, "\n"))
    )


def rare_token_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
) -> DataFrame:
    """Corpus-relative rarity signal (log-free unigram-LM stand-in): the
    fraction of a doc's tokens whose CORPUS frequency is < ``min_count``.
    High values flag gibberish/OCR noise/boilerplate-free junk the same
    way high unigram cross-entropy does, but every number is an exact
    integer ratio — no log(), whose last-ulp rounding differs across
    engines.

    Two shuffles, both corpus-bounded: token→count aggregation, then the
    exploded-token join back (token-keyed, co-partitioned with the
    vocab). Output: (id_col, n_tokens, n_rare, rare_frac).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")).filter(
        F.col("token") != ""
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        toks.join(vocab, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("tf") < min_count).cast("long")).alias("n_rare"),
        )
        .withColumn(
            "rare_frac",
            F.col("n_rare").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram language-model counts with exact conditional
    probabilities: (w1, w2, n, n_w1, cond_p = n/n_w1) — the building
    block for n-gram LM scoring / Kneser-Ney style smoothing, all
    integer counts and one exact integer-ratio division (no log()).

    Shape: one explode (linear in tokens) → one groupBy(w1, w2) with
    map-side combine; unigram counts derive from the bigram table
    (another map-side agg), so the corpus text is scanned once.
    """
    return _bigram_counts_from(
        df.select(tokens(F.col(text_col)).alias("_toks")).filter(
            F.size("_toks") >= 2
        )
    )


def _bigram_counts_from(toks: DataFrame) -> DataFrame:
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    w1_tot = counts.groupBy("w1").agg(F.sum("n").alias("n_w1"))
    return counts.join(w1_tot, "w1").select(
        "w1",
        "w2",
        "n",
        "n_w1",
        (F.col("n").cast("double") / F.col("n_w1").cast("double")).alias("cond_p"),
    )


def bigram_lm_score(
    df: DataFrame,
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 filter web
    text by LM perplexity; here the score stays log-free so the DuckDB
    oracle is bit-exact — ln() is not correctly-rounded-portable across
    engines, exact integer ratios are):

    per doc, the MEAN add-one-smoothed conditional bigram probability
    under the corpus bigram LM, p(w2|w1) = (n+1)/(n_w1+V) with V the
    corpus w2 vocabulary (unseen bigram ⇒ n=0; unseen w1 ⇒ n_w1=0),
    plus the unseen-bigram fraction. High mean_p / low oov_frac =
    in-distribution fluent text; boilerplate gibberish scores near the
    uniform floor 1/V.

    ``model`` defaults to ``bigram_counts(df)`` (self-scored corpus) —
    pass a reference-corpus model to score candidate docs against clean
    text, which is the actual CCNet deployment shape.

    Scale: doc bigrams explode linearly in tokens; the only wide
    shuffle is the (w1, w2) join against the model (hash-partitioned on
    the same key the model aggregation already produced); the per-doc
    mean folds in position order (order-independent determinism).

    Output: (id_col, n_bigrams, n_oov, oov_frac, mean_p).
    """
    if model is None:
        # cache: the model frame feeds three consumers (bigram join,
        # w1-total join, vocab scalar) — uncached, each re-runs the
        # corpus explode + aggregation (measured 7 scans / 16 shuffles
        # in the plan audit; cached it is one). The result's plan reads
        # the cache, so callers release it via release_plan_caches after
        # materializing.
        model = bigram_counts(df, text_col).cache()
    vocab = model.agg(F.countDistinct("w2").alias("_v"))
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    doc_bg = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, "bg.pos", "bg.w1", "bg.w2").filter(
        (F.col("w1") != "") & (F.col("w2") != "")
    )
    scored = (
        doc_bg.join(model.select("w1", "w2", "n"), ["w1", "w2"], "left")
        .join(
            model.select("w1", "n_w1").groupBy("w1").agg(F.first("n_w1").alias("n_w1")),
            "w1",
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "_p",
            (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("n_w1"), F.lit(0)) + F.col("_v")).cast("double"),
        )
        .withColumn("_oov", F.col("n").isNull().cast("int"))
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("pos").alias("o"), F.col("_p").alias("t")))
    )
    total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x["t"])
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_oov").cast("bigint").alias("n_oov"),
        (F.sum("_oov") / F.count(F.lit(1))).alias("oov_frac"),
        (total / F.count(F.lit(1))).alias("mean_p"),
    )


def lexical_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc lexical-diversity quality signals, all exact rationals
    (no log — cross-engine bit-exact like every oracle-checked op):

    - type_token_ratio: distinct/total word tokens (classic TTR)
    - simpson_index: Σ c_i·(c_i−1) / (n·(n−1)) — the probability two
      token draws (without replacement) are the SAME word; the
      transcendental-free stand-in for entropy. 1 = one word repeated,
      → 0 = all distinct. NULL for docs with < 2 tokens.

    Low TTR / high Simpson flags keyword-stuffed or looped text the
    way entropy filters do, without an engine-dependent log().

    Shape: one explode → (doc, token) counts with map-side combine →
    one agg back to doc grain; shuffle O(distinct tokens per doc).
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).select("doc_id", F.explode("_toks").alias("_w")).filter(F.col("_w") != "")
    per = tok.groupBy("doc_id", "_w").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("_c").alias("n_tokens"),
            F.sum(F.col("_c") * (F.col("_c") - 1)).alias("_rep2"),
        )
        .select(
            "doc_id",
            "n_types",
            "n_tokens",
            (F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias(
                "type_token_ratio"
            ),
            F.when(
                F.col("n_tokens") >= 2,
                F.col("_rep2").cast("double")
                / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double"),
            ).alias("simpson_index"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-doc novelty against the corpus in doc-id order: the fraction
    of the doc's distinct word k-grams whose FIRST corpus occurrence
    (min doc_id) is this doc — i.e. how much new k-gram surface the doc
    contributes. Curation uses it opposite ways: high novelty for
    diversity-seeking dedup, low novelty to spot near-template spam.

    Shape: explode distinct (doc, gram) pairs → min(doc_id) per gram
    (map-side combined, one shuffle on gram) → broadcast-scale join
    back; novelty = firsts/distinct k-grams. Gram construction is
    ``dedup.shingles`` exactly (docs shorter than k tokens contribute
    one partial-tail shingle — the same convention every shingle
    consumer in the repo shares, mirrored by the oracle).
    """
    from smartdatapipeline_spark.functions.dedup import shingles

    grams = (
        df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
        )
        .select("doc_id", F.explode(shingles(F.col("_toks"), k)).alias("_g"))
        .distinct()
    )
    first = grams.groupBy("_g").agg(F.min("doc_id").alias("_first"))
    per = (
        grams.join(first, "_g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_first") == F.col("doc_id")).cast("long")).alias(
                "n_first"
            ),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_first",
        (F.col("n_first").cast("double") / F.col("n_grams").cast("double")).alias(
            "novelty"
        ),
    )


def char_diversity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-distribution quality signals, log-free.

    Shannon character entropy is the textbook gibberish/boilerplate
    detector, but ln is not cross-engine bit-stable (see retrieval.py
    header), so this computes the SIMPSON diversity index instead —
    1 − Σ(cᵢ/n)² — the order-2 Rényi analogue: 0 for a single repeated
    character, →1 for a uniform spread. Exact integer counts feed two
    IEEE-exactly-rounded float ops (one divide, one subtract), so the
    result is bit-identical on every engine. Also emits
    ``top_char_fraction`` (max single-character share — near 1 flags
    runs of padding) and ``distinct_chars``.

    Plan shape: split→explode is the only volume intermediate (≈ one
    row per character, the same footprint as the BM25 postings build);
    the two groupBys share the doc-id key so AQE coalesces them into
    one shuffle of per-(doc, char) counts — scan-bound at 100 TB.

    Empty and NULL text is an explicit, distinguishable output row —
    n_chars = 0, distinct_chars = 0, and NULL fractions — not a phantom
    one-character doc (``split('', '')`` yields ``['']``; the exploded
    rows are length-filtered) and not a silently dropped doc.

    Output: (id_col, n_chars, distinct_chars, top_char_fraction,
    simpson).
    """
    per_char = (
        docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("_c"))
        .filter(F.length("_c") > 0)
        .groupBy(id_col, "_c")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    agg = per_char.groupBy(id_col).agg(
        F.sum("_n").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.max("_n").cast("long").alias("_max"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_sumsq"),
    )
    base = docs.select(F.col(id_col))
    return base.join(agg, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("n_chars"), F.lit(0).cast("long")).alias("n_chars"),
        F.coalesce(F.col("distinct_chars"), F.lit(0).cast("long")).alias(
            "distinct_chars"
        ),
        (F.col("_max").cast("double") / F.col("n_chars").cast("double")).alias(
            "top_char_fraction"
        ),
        (
            F.lit(1.0)
            - F.col("_sumsq").cast("double")
            / (F.col("n_chars") * F.col("n_chars")).cast("double")
        ).alias("simpson"),
    )
