"""BPE tokenizer tests (functions/bpe.py): the greedy merge scan, the
trainer against a textbook recount-every-round trainer, the encoder,
and the trainer's session hygiene."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from smartdatapipeline_spark.functions.bpe import (
    END,
    _merge_once,
    bpe_apply,
    bpe_train,
)
from tests.conftest import SF_SMALL


def _ref_greedy_merge(seg: str, a: str, b: str) -> str:
    """Reference scalar BPE merge: greedy left-to-right scan."""
    syms = seg.split(" ")
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return " ".join(out)


def _textbook_train(texts: list[str], n_merges: int) -> list[tuple]:
    """Textbook BPE: recount every adjacent pair over the whole
    vocabulary each round, take the (count desc, left asc, right asc)
    winner and rewrite every word with ``_ref_greedy_merge``."""
    vocab = Counter(w for t in texts for w in t.split())
    segs = {" ".join(list(w) + [END]): c for w, c in vocab.items()}
    merges = []
    for r in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for seg, c in segs.items():
            syms = seg.split(" ")
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += c
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, n))
        new: Counter = Counter()
        for seg, c in segs.items():
            new[_ref_greedy_merge(seg, a, b)] += c
        segs = new
    return merges


def _bpe_rows(df):
    return [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in df.orderBy("round").collect()
    ]


def test_bpe_two_pass_replace_equals_greedy(spark):
    """The two-pass literal replace (engine-portable) must equal the
    classic greedy scan on adversarial repetition patterns."""
    import random

    random.seed(7)
    cases = ["a b a b", "a a a", "a a a a", "a b a b a b a b", "b a b a b",
             "a b b", "x a b a b y a b"]
    for _ in range(40):
        cases.append(" ".join(random.choice("ab") for _ in range(random.randint(1, 12))))
    df = spark.createDataFrame([(c,) for c in cases], "seg string")
    got = [
        r["m"]
        for r in df.select(_merge_once(F.col("seg"), "a", "b").alias("m")).collect()
    ]
    want = [_ref_greedy_merge(c, "a", "b") for c in cases]
    assert got == want


def test_bpe_train_textbook_corpus(spark):
    """Sennrich's running example shape: 'low'x5 + 'lower'x2 +
    'newest'x6 + 'widest'x3 — first merges must pick the dominant
    'es'/'est' family."""
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    m = bpe_train(docs, n_merges=4).collect()
    assert [r["round"] for r in m] == [1, 2, 3, 4]
    assert (m[0]["left"], m[0]["right"], m[0]["pair_count"]) == ("e", "s", 9)
    assert (m[1]["left"], m[1]["right"]) == ("es", "t")
    # apply the learned merges: 'newest' must contain the 'est' piece
    enc = bpe_apply(docs, [(r["left"], r["right"]) for r in m])
    pieces = {r["word"]: r["pieces"] for r in enc.collect()}
    assert any("est" in p for p in pieces["newest"])
    assert pieces["newest"] != list("newest")  # actually merged


def test_bpe_train_fully_merged_word(spark):
    """A corpus dominated by a 1-char word: after merge 1 ('a </w>' →
    'a</w>') the word is ONE symbol and must contribute no pairs in
    later rounds instead of raising (round-4 scale-probe regression)."""
    docs = spark.createDataFrame(
        [(1, "a a a a a bc bc")], "doc_id bigint, text string"
    )
    m = bpe_train(docs, n_merges=3).collect()
    assert [r["round"] for r in m] == [1, 2, 3]
    assert (m[0]["left"], m[0]["right"]) == ("a", "</w>")


def test_bpe_train_matches_textbook_trainer(spark):
    """The incremental trainer must be merge-for-merge identical to a
    textbook trainer that recounts every pair each round — same
    tie-break, same greedy scan — including overlap-heavy words
    ('aaaa' → (a,a) then (aa,aa))."""
    texts = [
        "low lower lowest newest newest widest",
        "aaaa aaaa aaaa baaab",
        "the quick brown fox the quick fox",
        "abab abab cdcd",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    assert _bpe_rows(bpe_train(df, n_merges=8)) == _textbook_train(texts, 8)


def test_bpe_batching_counterexample(spark):
    """Why bpe_train is NOT a 'batch non-interacting merges' scheme:
    merging the best pair can mint a new pair whose count beats the
    round's runner-up. Corpus: 'xab'×10 + 'cd'×9 — after merge 1
    (a,b), greedy round 2 must take the minted (ab,</w>) at count 10,
    not the disjoint (c,d) at 9 a batcher would have pre-committed."""
    text = " ".join(["xab"] * 10 + ["cd"] * 9)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = _bpe_rows(bpe_train(df, n_merges=2))
    assert got[0][1:4] == ("a", "b", "ab")
    assert got[1][1:4] == ("ab", "</w>", "ab</w>")  # minted pair wins
    assert got[1][4] == 10  # ...at count 10 > (c,d)'s 9


def test_bpe_train_production_budget(spark):
    """256-merge budget runs in one Spark job (the word-count collect)
    plus driver memory — rounds are dense 1..k and pair counts are
    non-increasing-feasible (every count positive)."""
    texts = [
        f"{(i * 2654435761) % 2**32:08x} {(i * 40503) % 2**16:04x} word{i % 29}"
        for i in range(400)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = _bpe_rows(bpe_train(df, n_merges=256))
    assert len(rows) == 256
    assert [r[0] for r in rows] == list(range(1, 257))
    assert all(r[4] > 0 for r in rows)


def test_bpe_train_leaves_session_conf(spark):
    """Training writes no session conf."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    docs = spark.createDataFrame([("low lower lowest",)], "text string")
    merges = [r["merged"] for r in bpe_train(docs, n_merges=2).collect()]
    assert merges == ["lo", "low"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_bpe_apply_known_merges(spark):
    df = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id long, text string"
    )
    out = {
        r["word"]: list(r["pieces"])
        for r in bpe_apply(df, [("l", "o"), ("lo", "w")]).collect()
    }
    assert out["low"] == ["low", "</w>"]
    assert out["lower"] == ["low", "e", "r", "</w>"]
    assert out["lowest"] == ["low", "e", "s", "t", "</w>"]


def test_bpe_encode_roundtrip_property(spark):
    """Every encoded word reassembles exactly: concat(pieces) minus the
    end marker == the word — merges can never lose or invent chars."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=10).orderBy("round").collect()
    ]
    enc = bpe_apply(docs, merges)
    bad = enc.withColumn(
        "_re", F.array_join(F.col("pieces"), "")
    ).filter(F.col("_re") != F.concat(F.col("word"), F.lit("</w>"))).count()
    assert bad == 0
    assert enc.filter(F.col("n_pieces") < 1).count() == 0
