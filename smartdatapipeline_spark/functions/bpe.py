"""Byte-pair-encoding merge training over a corpus — the tokenizer-
learning step of a training-data pipeline (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"; the
word-count formulation SentencePiece/HuggingFace trainers use).

Scale design: BPE learns from the WORD VOCABULARY (distinct words +
corpus counts), never the raw text — the fact-sized work is one
tokenize+count aggregation, and every merge round then runs on the
vocabulary frame (≤ a few million rows at web scale, cached once).
Per round: one pair-explode + weighted count (map-side combined), one
1-row argmax to the driver (the learned merge IS driver state, like
any model coefficient), one column rewrite of the segmentation. Round
count is the model's merge budget — fixed, not data-dependent. AQE
sizes each round's pair-count shuffle from the exploded pairs it
actually carries; the loop sets no partition count.

At PRODUCTION merge budgets (32k) one Spark job per round is the wrong
shape — and batching "non-interacting" merges per round is NOT
greedy-equivalent (merging (a,b) can mint a new pair (x,ab) whose
count beats the round's runner-up, so greedy would take it first; a
counterexample lives in the round-6 tests). The correct scale design
is ``bpe_train_fast``: the distributed part stays the one fact-sized
word-count aggregation, and the (vocabulary-sized — a few million
rows, bounded, optionally capped) training state collects to the
driver where the classic incremental-pair-count greedy trainer runs
all 32k rounds in memory with zero further jobs — the same
aggregate-big/fit-small split as the quality-model L-BFGS build, and
what SentencePiece/HF trainers do. Property-tested merge-for-merge
identical to the distributed ``bpe_train``.

Cross-engine determinism: pair counts are exact ints; the argmax
tie-break is total (count desc, left asc, right asc); and the merge
rewrite uses TWO passes of plain space-delimited string replace — a
left-to-right non-overlapping scan whose first pass consumes the
boundary space of an immediately-following occurrence ("a b a b"),
which the second pass then catches. Two passes reach the classic
greedy-scan fixpoint (property-tested against a reference scalar BPE
in tests), and literal replace behaves identically in Spark and DuckDB
— unlike regex lookaround, which RE2 (DuckDB) lacks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions.text import tokens
from smartdatapipeline_spark.session import local_frame

END = "</w>"  # word-end marker — never a corpus character (alnum-only)
MERGE_SCHEMA = "round int, left string, right string, merged string, pair_count bigint"


def _initial_seg(word: Column) -> Column:
    """'low' → 'l o w </w>' (space-separated symbols)."""
    return F.concat(F.regexp_replace(word, "(.)", "$1 "), F.lit(END))


def _merge_once(seg: Column, left: str, right: str) -> Column:
    """Apply one learned merge to a segmentation string: two passes of
    literal ' left right ' → ' leftright ' on the space-padded string
    (see module docstring for why two passes == greedy scan)."""
    pat = F.lit(f" {left} {right} ")
    rep = F.lit(f" {left}{right} ")
    padded = F.concat(F.lit(" "), seg, F.lit(" "))
    return F.trim(F.replace(F.replace(padded, pat, rep), pat, rep))


def word_vocab(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, cnt) corpus word counts — the only fact-sized pass."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges. Returns one row per round:
    (round, left, right, merged, pair_count) — the merge table that
    parameterizes ``bpe_apply``.

    The returned frame is a small driver-built table (the model);
    training state lives in the cached vocabulary frame, released
    before returning."""
    spark = df.sparkSession
    vocab = word_vocab(df, text_col).withColumn(
        "seg", _initial_seg(F.col("word"))
    ).select("seg", "cnt").cache()
    try:
        merges: list[tuple[int, str, str, str, int]] = []
        cur = vocab
        for r in range(1, n_merges + 1):
            syms = F.split(F.col("seg"), " ")
            # a fully-merged word (ONE symbol) contributes no pairs:
            # sequence(1, 0) would DESCEND and index out of bounds under
            # ANSI — guard with an explicit empty index array
            idx = F.when(
                F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
            ).otherwise(F.array().cast("array<int>"))
            pairs = (
                cur.select(
                    F.explode(
                        F.transform(
                            idx,
                            lambda i: F.struct(
                                F.element_at(syms, i).alias("a"),
                                F.element_at(syms, i + 1).alias("b"),
                            ),
                        )
                    ).alias("pr"),
                    "cnt",
                )
                .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
                .agg(F.sum("cnt").alias("n"))
            )
            best = (
                pairs.orderBy(
                    F.col("n").desc(), F.col("a").asc(), F.col("b").asc()
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
            merges.append((r, a, b, a + b, n))
            cur = cur.select(_merge_once(F.col("seg"), a, b).alias("seg"), "cnt")
        return local_frame(spark, merges, MERGE_SCHEMA)
    finally:
        vocab.unpersist()


def bpe_train_fast(
    df: DataFrame,
    n_merges: int = 256,
    text_col: str = "text",
    vocab_limit: int | None = None,
) -> DataFrame:
    """Greedy BPE training at production merge budgets: ONE distributed
    word-count aggregation (the only fact-sized pass), then the
    vocabulary — bounded at a few million rows at web scale, optionally
    capped to the top ``vocab_limit`` words by (cnt desc, word asc) —
    collects to the driver and the classic incremental trainer runs
    every merge round in memory. 32k merges cost 32k dict updates, not
    32k Spark jobs (module docstring has the why-not-batching proof
    sketch). Output schema and values are IDENTICAL to ``bpe_train``:
    (round, left, right, merged, pair_count) with the same (count desc,
    left asc, right asc) tie-break and the same greedy left-to-right
    non-overlapping merge scan the two-pass replace implements.
    """
    spark = df.sparkSession
    v = word_vocab(df, text_col)
    if vocab_limit is not None:
        v = v.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(vocab_limit)
    rows = v.collect()

    words: list[tuple[list[str], int]] = [
        (list(r["word"]) + [END], int(r["cnt"])) for r in rows
    ]
    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += cnt
            pair_words[p].add(wi)

    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        if not pair_counts:
            break
        (a, b), n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, int(n)))
        for wi in list(pair_words.get((a, b), ())):
            syms, cnt = words[wi]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_words[p].discard(wi)
            new: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            words[wi] = (new, cnt)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += cnt
                pair_words[p].add(wi)
    return local_frame(spark, merges, MERGE_SCHEMA)


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus under a learned merge list (ordered (left,
    right) pairs): per word, initial char segmentation then each merge
    in training order — pure column expressions, scan-speed.

    Output: (id_col, word, pieces array<string>, n_pieces)."""
    words = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")
    seg = _initial_seg(F.col("word"))
    for left, right in merges:
        seg = _merge_once(seg, left, right)
    return words.select(
        id_col,
        "word",
        F.split(seg, " ").alias("pieces"),
        F.size(F.split(seg, " ")).alias("n_pieces"),
    )
