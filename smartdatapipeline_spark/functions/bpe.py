"""Byte-pair-encoding merge training over a corpus — the tokenizer-
learning step of a training-data pipeline (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"; the
word-count formulation SentencePiece/HuggingFace trainers use).

Scale design: aggregate the big data, fit the small result. BPE learns
from the WORD VOCABULARY (distinct words + corpus counts), never the
raw text, so the one fact-sized pass is a tokenize+count aggregation.
The vocabulary (a few million rows at web scale) collects to the
driver, where the classic incremental-pair-count greedy trainer runs
every merge round in memory: the learned merges are driver state like
any model coefficient, and a 32k merge budget costs 32k dict updates,
not 32k Spark jobs. Batching "non-interacting" merges into one round
is NOT greedy-equivalent — merging (a,b) can mint a new pair (x,ab)
whose count beats the round's runner-up, so greedy takes it first (a
counterexample lives in tests/test_bpe.py).

Cross-engine determinism: pair counts are exact ints and the argmax
tie-break is total (count desc, left asc, right asc). ``bpe_apply``
rewrites a segmentation with TWO passes of plain space-delimited
string replace — a left-to-right non-overlapping scan whose first
pass consumes the boundary space of an immediately-following
occurrence ("a b a b"), which the second pass then catches. Two passes
reach the greedy-scan fixpoint the trainer applies (property-tested
against a reference scalar BPE in tests), and literal replace behaves
identically in Spark and DuckDB — unlike regex lookaround, which RE2
(DuckDB) lacks — so the unrolled-SQL oracle replays training and
encoding bit-exact.
"""

from __future__ import annotations

from collections import Counter, defaultdict

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
    n_merges: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Learn up to ``n_merges`` greedy BPE merges. Returns one row per
    round: (round, left, right, merged, pair_count) — the merge table
    that parameterizes ``bpe_apply``, as a small driver-built frame.

    One distributed word-count aggregation, then the vocabulary
    collects and the incremental trainer runs every round in memory:
    each round takes the most frequent adjacent pair (count desc, left
    asc, right asc), merges it in every word holding it with the
    greedy left-to-right non-overlapping scan, and updates only those
    words' pair counts. Training stops early once no word has two
    symbols left.
    """
    spark = df.sparkSession
    rows = word_vocab(df, text_col).collect()

    words: list[tuple[list[str], int]] = [
        (list(r["word"]) + [END], int(r["cnt"])) for r in rows
    ]
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
