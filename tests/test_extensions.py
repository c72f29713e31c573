"""Tests for the training-data-pipeline extensions: text analysis,
dedup, similarity search, multimodal plumbing."""

from __future__ import annotations

import base64
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions import dedup as DD
from smartdatapipeline_spark.functions import multimodal as MM
from smartdatapipeline_spark.functions import similarity as SIM
from smartdatapipeline_spark.functions import text as TX


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


# ----------------------------------------------------------------- text

def test_token_count_and_normalize(spark):
    df = _docs(spark, ["Hello, World! 42", "", "  one  two  "])
    out = df.select(TX.token_count(F.col("text")).alias("n")).collect()
    assert [r["n"] for r in out] == [3, 0, 2]


def test_predict_lang_profiles(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog of the house",
            "der hund und die katze ist nicht da",
            "el perro que la casa es un gato",
            "xyzzy qwerty plugh",
        ],
    )
    toks = df.withColumn("_toks", TX.tokens(F.col("text")))
    out = [r["p"] for r in toks.select(TX.predict_lang(F.col("_toks")).alias("p")).collect()]
    assert out == ["en", "de", "es", "und"]


# ---------------------------------------------------------------- dedup

def test_exact_dedup_groups_identical_content(spark):
    df = _docs(spark, ["a b c", "A  b C!", "totally different words"])
    out = DD.exact_dedup(df).collect()
    groups = {r["n_docs"] for r in out}
    assert len(out) == 2 and groups == {1, 2}
    dup = next(r for r in out if r["n_docs"] == 2)
    assert dup["rep_id"] == 0  # min doc_id representative


def test_minhash_identical_docs_share_all_buckets(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6", "a b c d e f"])
    pairs = DD.minhash_candidate_pairs(df).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (0, 1)
    assert pairs[0]["est_jaccard"] == 1.0


def test_ngram_jaccard_exact_value(spark):
    # shingles(3): doc0 {a b c, b c d}, doc1 {a b c, b c x} -> J = 1/3
    df = _docs(spark, ["a b c d", "a b c x"])
    out = DD.ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 1 / 3) < 1e-12


def test_simhash_identical_equal_and_near(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta"])
    hashes = [r["simhash"] for r in DD.simhash(df).collect()]
    assert hashes[0] == hashes[1]
    pairs = DD.simhash_near_pairs(df, max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


# ----------------------------------------------------------- similarity

def _vecs(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_brute_force_topk_orders_by_cosine(spark):
    corpus = _vecs(spark, [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]])
    queries = _vecs(spark, [[1, 0]]).filter(F.col("vec_id") == 0)
    out = SIM.brute_force_topk(corpus, queries, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]  # cos: ~0.994, 0, -1
    assert out[0]["query_id"] == 0


def test_ann_bucket_restricts_candidates(spark):
    corpus = _vecs(spark, [[1, 1], [2, 1], [-1, -1], [-2, -1]])
    queries = corpus.filter(F.col("vec_id") == 0)
    out = SIM.ann_bucketed_topk(corpus, queries, k=10, nbits=2).collect()
    # bucket of [1,1] (bits 11) contains only vec 1; negatives are bits 00
    assert [r["neighbor_id"] for r in out] == [1]


def test_ivf_assigns_cells_and_reranks(spark):
    # centroids = vec_id < 2: c0=[1,0], c1=[0,1]; vecs 2,3 near c0, vec 4 near c1
    corpus = _vecs(spark, [[1, 0], [0, 1], [0.9, 0.1], [0.95, 0.05], [0.1, 0.9]])
    queries = corpus.filter(F.col("vec_id") == 2)
    out = SIM.ivf_topk(corpus, queries, k=10, n_centroids=2).collect()
    # query 2 lands in cell 0 with {0, 3}; vec 4 (cell 1) is never probed
    assert all(r["cell"] == 0 for r in out)
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [3, 0]


def test_ivf_multi_probe_recovers_boundary_neighbors(spark):
    """r14 (r13 VERDICT #6): a neighbor just across the cell boundary
    is invisible at nprobe=1 and recovered at nprobe=2; each pair
    scores exactly once (corpus vectors live in one cell)."""
    # c0=[1,0], c1=[0,1]; vec 2 sits in cell 0; vec 3 ([0.4, 0.6]) is
    # its closest OTHER vector but quantizes to cell 1
    corpus = _vecs(spark, [[1, 0], [0, 1], [0.6, 0.4], [0.4, 0.6]])
    queries = corpus.filter(F.col("vec_id") == 2)
    one = SIM.ivf_topk(corpus, queries, k=10, n_centroids=2, nprobe=1).collect()
    assert 3 not in {r["neighbor_id"] for r in one}
    two = SIM.ivf_topk(corpus, queries, k=10, n_centroids=2, nprobe=2).collect()
    got = sorted(two, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in got] == [3, 0, 1]  # 3 now ranks first
    assert len(got) == len({(r["neighbor_id"]) for r in got})  # no dups


def test_embedding_near_dup_threshold(spark):
    corpus = _vecs(spark, [[1, 0.01], [1, 0.012], [0.5, 0.9]])
    out = SIM.embedding_near_dup_pairs(corpus, threshold=0.99, nbits=2).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in out] == [(0, 1)]


# ----------------------------------------------------------- multimodal

def test_attach_blob_and_features_deterministic(spark):
    import hashlib

    df = MM.attach_blob(_docs(spark, ["hello world"]))
    row = df.select("blob", "media_meta").collect()[0]
    assert bytes(row["blob"]) == b"hello world"
    assert row["media_meta"]["n_bytes"] == 11

    feats = MM.extract_features(df).collect()[0]
    d = hashlib.md5(b"hello world").hexdigest()
    assert feats["header_hash"] == int(d[:15], 16)
    assert feats["feat_0"] == int(d[:8], 16) / 4294967296.0


def test_pixel_decode_gate_is_gone(spark):
    """Round 6: decode_image_pixels is the real unified PNG/BMP/JPEG
    decoder (tests/test_jpeg.py) — the PIL NotImplementedError gate no
    longer exists anywhere in the pixel path."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, blob binary")
    row = MM.decode_image_pixels(df).collect()[0]
    assert row["format"] is None and row["pixels"] is None


# golden media payloads for the REAL (stdlib) header decoders
_PNG_1x1 = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
)
_GIF_1x1 = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff!\xf9\x04"
    b"\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
)


def _bmp(width: int, height: int) -> bytes:
    return (
        b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + struct.pack("<I", 40)
        + struct.pack("<ii", width, height)
    )


def _jpeg(width: int, height: int) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(
        ">HH", height, width
    ) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof0


def test_parse_image_header_golden():
    assert MM.parse_image_header(_PNG_1x1) == ("png", 1, 1)
    assert MM.parse_image_header(_GIF_1x1) == ("gif", 1, 1)
    assert MM.parse_image_header(_bmp(640, 480)) == ("bmp", 640, 480)
    assert MM.parse_image_header(_bmp(640, -480)) == ("bmp", 640, 480)  # top-down
    assert MM.parse_image_header(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert MM.parse_image_header(b"not an image") == (None, None, None)
    assert MM.parse_image_header(b"\x89PNG\r\n\x1a\n trunc") == (None, None, None)


def test_parse_wav_header_golden():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)  # 16-bit
        w.setframerate(44100)
        w.writeframes(b"\x00\x00\x00\x00" * 44100)  # 1.0 s stereo
    ch, rate, bits, dur = MM.parse_wav_header(buf.getvalue())
    assert (ch, rate, bits) == (2, 44100, 16)
    assert dur == pytest.approx(1.0)
    assert MM.parse_wav_header(b"RIFFxxxxNOPE") == (None, None, None, None)


def test_decode_features_on_spark(spark):
    rows = [
        (0, _PNG_1x1),
        (1, _GIF_1x1),
        (2, _bmp(320, 200)),
        (3, _jpeg(64, 32)),
        (4, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r["doc_id"]: r for r in MM.decode_image_features(df).collect()}
    assert (out[0]["format"], out[0]["width"], out[0]["height"]) == ("png", 1, 1)
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("gif", 1, 1)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == ("bmp", 320, 200)
    assert (out[3]["format"], out[3]["width"], out[3]["height"]) == ("jpeg", 64, 32)
    assert out[4]["format"] is None and out[4]["width"] is None


def test_frame_sample_shape(spark):
    df = MM.attach_blob(_docs(spark, ["0123456789" * 10]))  # 100 bytes
    out = MM.sample_frames(df, n_frames=4, frame_bytes=16).collect()
    assert len(out) == 4
    offsets = sorted(r["byte_offset"] for r in out)
    assert offsets == [0, 28, 56, 84]  # evenly spaced over n-16


def test_duplicate_clusters_connected_components(spark):
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=10, doc_b=11)]
    )
    nodes = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 10, 11, 20]])
    out = {r["doc_id"]: r["cluster"] for r in DD.duplicate_clusters(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_duplicate_clusters_chain_diameter(spark):
    """A long chain exercises multi-round propagation (diameter 5)."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(5, 0, -1)])
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(1, 7)])
    out = {r["doc_id"]: r["cluster"] for r in DD.duplicate_clusters(pairs, nodes).collect()}
    assert out == {i: 1 for i in range(1, 7)}


def test_cluster_index_build_probe_and_canonical_reuse(spark, tmp_path):
    """build_cluster_index materializes CC once; probe + selection from
    the label frame equals the direct (cluster-then-window) path."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=10, doc_b=11)]
    )
    nodes = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 10, 11, 20]])
    quality = spark.createDataFrame(
        [Row(doc_id=i, quality=q) for i, q in
         [(1, 0.5), (2, 0.9), (3, 0.7), (10, 0.1), (11, 0.1), (20, 0.3)]]
    )
    path = str(tmp_path / "clusters")
    DD.build_cluster_index(pairs, nodes, path)
    labels = DD.probe_cluster_index(spark, path)
    assert {r["doc_id"]: r["cluster"] for r in labels.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20
    }
    got = {
        r["cluster"]: (r["canonical_doc"], r["n_docs_in_cluster"], r["canonical_quality"])
        for r in DD.canonical_from_clusters(labels, quality).collect()
    }
    # cluster 1: best quality 0.9 at doc 2; tie in cluster 10 → lower id
    assert got == {1: (2, 3, 0.9), 10: (10, 2, 0.1), 20: (20, 1, 0.3)}


def test_hash_split_stable_under_append(spark):
    """A doc's split must not change when the corpus grows."""
    from smartdatapipeline_spark.functions.sampling import hash_split

    small = spark.createDataFrame([Row(doc_id=i) for i in range(50)])
    big = spark.createDataFrame([Row(doc_id=i) for i in range(500)])
    s_small = {r["doc_id"]: r["split"] for r in hash_split(small).collect()}
    s_big = {r["doc_id"]: r["split"] for r in hash_split(big).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    assert sum(w == "train" for w in s_big.values()) > 400  # ~98%


def test_deterministic_shuffle_reproducible_and_salted(spark):
    from smartdatapipeline_spark.functions.sampling import deterministic_shuffle

    df = spark.createDataFrame([Row(doc_id=i) for i in range(100)])
    o1 = [r["doc_id"] for r in deterministic_shuffle(df).collect()]
    o2 = [r["doc_id"] for r in deterministic_shuffle(df).collect()]
    o3 = [r["doc_id"] for r in deterministic_shuffle(df, salt="epoch-2").collect()]
    assert o1 == o2 and o1 != sorted(o1) and o1 != o3


def test_repetition_features_flags_loops(spark):
    df = _docs(spark, ["a b a b a b a b", "w1 w2 w3 w4 w5 w6"])
    out = {r["doc_id"]: r for r in TX.repetition_features(df).collect()}
    # doc0: 3-grams = [aba, bab]*3 -> 6 total, 2 distinct -> dup frac 2/3
    assert abs(out[0]["dup_3gram_frac"] - 2 / 3) < 1e-12
    # doc1: all distinct
    assert out[1]["dup_3gram_frac"] == 0.0
    assert out[0]["top_2gram_frac"] > out[1]["top_2gram_frac"]


def test_chunk_tokens_overlap_and_tail(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = _docs(spark, [text])
    out = sorted(
        TX.chunk_tokens(df, chunk_tokens_n=4, overlap=1).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 3, n=10: ceil((10-1)/3) = 3 chunks at 0,3,6 — the last one
    # (w6..w9) already covers the tail, so no 4th chunk
    assert [r["chunk_start"] for r in out] == [0, 3, 6]
    assert [r["n_tokens"] for r in out] == [4, 4, 4]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"].startswith("w3")  # overlap of 1
    assert out[2]["chunk_text"] == "w6 w7 w8 w9"


def test_scrub_pii_redacts_and_counts(spark):
    df = _docs(spark, ["mail me: a.b@x.io or call +1 555-123-4567 twice a.c@y.org"])
    row = TX.scrub_pii(df).collect()[0]
    assert row["n_email"] == 2 and row["n_phone"] == 1
    assert "<EMAIL>" in row["text"] and "<PHONE>" in row["text"]
    assert "a.b@x.io" not in row["text"] and "555" not in row["text"]


def test_ann_index_layout_prunes_and_matches_inline(spark, tmp_path):
    """The materialized index must (a) return the same top-k as the
    inline bucketed ANN and (b) prune the scan to the probed bucket."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ann_index")
    SIM.build_ann_index(emb, path, nbits=8)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    got = SIM.probe_ann_index(spark, path, queries, k=5, nbits=8)
    want = SIM.ann_bucketed_topk(emb, queries, k=5, nbits=8)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["rank"], r["neighbor_id"]) for r in got.collect()]
    ) == sorted([(r["query_id"], r["rank"], r["neighbor_id"]) for r in want.collect()])

    one_bucket = spark.read.parquet(path).filter(F.col("bucket") == 3)
    plan = one_bucket._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_stratified_sample_caps_and_determinism(spark):
    from smartdatapipeline_spark.functions.sampling import stratified_sample

    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 == 0 else "de") for i in range(100)]
    )
    out1 = stratified_sample(df, "lang", 5).collect()
    out2 = stratified_sample(df, "lang", 5).collect()
    by_lang = {}
    for r in out1:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) == 5 for v in by_lang.values())
    assert sorted(r["doc_id"] for r in out1) == sorted(r["doc_id"] for r in out2)


def test_decontaminate_flags_overlapping_docs(spark):
    eval_docs = _docs(spark, ["the quick brown fox jumps over the lazy dog"])
    train = spark.createDataFrame(
        [
            # verbatim leak: every shingle overlaps
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
            # partial leak: shares the "quick brown fox" opening only
            Row(doc_id=11, text="quick brown fox went home early today again"),
            # clean doc: no shared 3-grams
            Row(doc_id=12, text="completely unrelated sentence about spark engines"),
            # empty doc: no shingles at all
            Row(doc_id=13, text=""),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in DD.decontaminate(train, eval_docs, min_overlap_frac=0.2).collect()
    }
    assert len(out) == 4
    assert out[10]["overlap_frac"] == 1.0 and out[10]["contaminated"]
    assert 0 < out[11]["n_overlap"] < out[11]["n_shingles"]
    assert out[12]["n_overlap"] == 0 and not out[12]["contaminated"]
    assert out[13]["n_shingles"] == 0 and out[13]["overlap_frac"] == 0.0
    assert not out[13]["contaminated"]


def test_pack_sequences_layout(spark):
    # one shard so the layout is a single running concatenation
    texts = ["a b c", "d e", "f g h i", ""]  # 3, 2, 4, 0 tokens
    out = {
        r["doc_id"]: r
        for r in TX.pack_sequences(
            _docs(spark, texts), ctx_len=4, n_shards=1
        ).collect()
    }
    assert [out[i]["offset_start"] for i in range(4)] == [0, 3, 5, 9]
    assert [out[i]["pack_id"] for i in range(4)] == [0, 0, 1, 2]
    assert [out[i]["pack_offset"] for i in range(4)] == [0, 3, 1, 1]
    # doc 1 starts at offset 3 with 2 tokens -> spills into window 1
    assert out[1]["crosses_boundary"] and not out[0]["crosses_boundary"]
    # doc 2: offset 5 (window 1, slot 1) + 4 tokens -> crosses into window 2
    assert out[2]["crosses_boundary"]
    # sharding is doc_id % n_shards and offsets restart per shard
    sharded = TX.pack_sequences(_docs(spark, texts), ctx_len=4, n_shards=2)
    rows = {r["doc_id"]: r for r in sharded.collect()}
    assert rows[0]["shard"] == 0 and rows[1]["shard"] == 1
    assert rows[1]["offset_start"] == 0  # first doc of shard 1


def test_clean_lines_c4_heuristics(spark):
    text = "\n".join(
        [
            "this line has enough words and punctuation.",  # keep
            "short line.",                                  # < 5 words
            "this line has enough words but no punctuation", # no terminal punct
            "",                                              # empty
            "keep me too because i end with a bang!",        # keep
        ]
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = TX.clean_lines(df, min_words=5, require_terminal_punct=True).first()
    assert row["lines_total"] == 5
    assert row["lines_kept"] == 2
    assert row["clean_text"].splitlines() == [
        "this line has enough words and punctuation.",
        "keep me too because i end with a bang!",
    ]
    # punct not required: the unpunctuated long line comes back
    row2 = TX.clean_lines(df, min_words=5, require_terminal_punct=False).first()
    assert row2["lines_kept"] == 3


def test_rare_token_fraction_exact(spark):
    docs = [(1, "aa aa aa bb"), (2, "aa cc"), (3, "aa aa dd")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # corpus tf: aa=6, bb=1, cc=1, dd=1  (min_count=2 ⇒ bb/cc/dd rare)
    out = {r["doc_id"]: r for r in TX.rare_token_fraction(df, min_count=2).collect()}
    assert (out[1]["n_tokens"], out[1]["n_rare"]) == (4, 1)
    assert (out[2]["n_tokens"], out[2]["n_rare"]) == (2, 1)
    assert out[2]["rare_frac"] == 0.5
    assert (out[3]["n_tokens"], out[3]["n_rare"]) == (3, 1)


def test_mixture_weights_sum_to_one(spark):
    from smartdatapipeline_spark.functions import sampling as SP

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(90)] + [(100, "src9")],
        "doc_id long, source string",
    )
    rows = SP.mixture_weights(df, "source").collect()
    assert sum(r["n_docs"] for r in rows) == 91
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-12
    # temperature flattens: the tiny src9 domain gets MORE than its share
    w = {r["domain"]: r for r in rows}
    assert w["src9"]["weight"] > w["src9"]["share"]
    assert w["src0"]["weight"] < w["src0"]["share"]


def test_duplicate_spans_finds_shared_boilerplate(spark):
    license_block = " ".join(f"lic{i}" for i in range(16))
    docs = [
        (1, license_block + " unique one body text here"),
        (2, license_block + " other tail entirely different"),
        (3, "no shared content in this document at all " + " ".join(
            f"w{i}" for i in range(16))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = DD.duplicate_spans(df, window=16, min_docs=2).collect()
    # exactly the license block span is shared; rep = (doc 1, pos 0)
    assert len(out) == 1
    r = out[0]
    assert (r["n_docs"], r["rep_doc"], r["rep_pos"]) == (2, 1, 0)
    assert r["n_occurrences"] == 2
    # below-window docs and unique spans never appear
    none = DD.duplicate_spans(df, window=16, min_docs=3).collect()
    assert none == []


def test_dedup_pipeline_scale_mode_matches_exact_clusters(spark):
    """The production wrapper (guard ON by default): a boilerplate
    family that overflows the bucket cap still clusters together via
    star edges — same components as the unguarded exact path."""
    boiler = " ".join(f"tok{i}" for i in range(30))
    docs = [(i, boiler) for i in range(12)]  # one exact-dup family
    docs += [(100, "completely different text " + " ".join(f"x{i}" for i in range(20)))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        r["doc_id"]: r["cluster"]
        for r in DD.dedup_pipeline(df, max_bucket_size=None).collect()
    }
    guarded = {
        r["doc_id"]: r["cluster"]
        for r in DD.dedup_pipeline(df, max_bucket_size=3).collect()
    }
    assert guarded == exact
    # family labeled by its min doc, outsider isolated and representative
    assert guarded[100] == 100
    fam = {v for k, v in guarded.items() if k != 100}
    assert fam == {0}


def test_duplicate_spans_pos_cap_guard_raises(spark):
    """ADVICE: packed-key overflow must RAISE, not corrupt rep_doc/rep_pos
    — a tiny pos_cap makes a legal doc overflow; negative ids too."""
    import pytest

    license_block = " ".join(f"lic{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, license_block + " pad pad pad"), (2, license_block + " x y z")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="overflows the packed key"):
        DD.duplicate_spans(df, window=16, min_docs=2, pos_cap=2).collect()
    neg = spark.createDataFrame(
        [(-1, license_block), (2, license_block)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="overflows the packed key"):
        DD.duplicate_spans(neg, window=16, min_docs=2).collect()
    # default cap leaves the legal case untouched
    ok = DD.duplicate_spans(df, window=16, min_docs=2).collect()
    assert len(ok) == 1 and ok[0]["rep_doc"] == 1


def test_minhash_mega_bucket_guard(spark):
    """max_bucket_size excludes boilerplate mega-buckets from pairwise
    expansion: a 12-copy family produces 66 pairs unguarded and none
    with the cap, while unrelated near-dup pairs are unaffected."""
    family = ["w1 w2 w3 w4 w5 w6"] * 12
    others = ["a b c d e f", "a b c d e f"]  # identical ⇒ collide in every band
    df = _docs(spark, family + others)
    unguarded = DD.minhash_candidate_pairs(df).collect()
    guarded = DD.minhash_candidate_pairs(df, max_bucket_size=8).collect()
    fam_ids = set(range(12))
    assert sum(1 for r in unguarded if r["doc_a"] in fam_ids) == 66  # 12C2
    assert all(r["doc_a"] not in fam_ids for r in guarded)
    # the small near-dup pair survives the guard
    assert any((r["doc_a"], r["doc_b"]) == (12, 13) for r in guarded)


def _make_bmp_3x2() -> bytes:
    """Hand-built uncompressed 24-bpp BMP, 3x2, bottom-up, padded rows.
    Top row (stored LAST, bottom-up): red, green, blue.
    Bottom row (stored first): white, black, gray(128)."""
    import struct

    def bgr(r, g, b):
        return bytes([b, g, r])

    row_bottom = bgr(255, 255, 255) + bgr(0, 0, 0) + bgr(128, 128, 128) + b"\x00\x00\x00"
    row_top = bgr(255, 0, 0) + bgr(0, 255, 0) + bgr(0, 0, 255) + b"\x00\x00\x00"
    pixel_data = row_bottom + row_top  # bottom-up storage
    dib = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixel_data), 0, 0, 14 + 40)
    return header + dib + pixel_data


def test_parse_bmp_pixels_golden():
    """Pure-stdlib BMP pixel decode: BGR->RGB swap, bottom-up flip,
    row padding — all pinned on a hand-built 3x2 image."""
    w, h, px = MM.parse_bmp_pixels(_make_bmp_3x2())
    assert (w, h) == (3, 2)
    # row-major top-down RGB
    assert px == bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255,  # red green blue
         255, 255, 255, 0, 0, 0, 128, 128, 128]  # white black gray
    )
    # non-BMP and compressed formats decline (None), they don't crash
    assert MM.parse_bmp_pixels(b"\x89PNG\r\n\x1a\n" + b"\x00" * 50) is None
    assert MM.parse_bmp_pixels(b"BM" + b"\x00" * 10) is None


def test_every_format_decodes_codec_free():
    """Round 6: PNG, BMP, and baseline JPEG all decode from scratch —
    parse_any_pixels dispatches by magic and no format needs PIL."""
    png = MM.encode_png(2, 2, 3, bytes(range(12)))
    jpg = MM.encode_jpeg(8, 8, 1, bytes([200] * 64))
    assert MM.parse_any_pixels(png)[0] == "png"
    assert MM.parse_any_pixels(jpg)[0] == "jpeg"
    assert MM.parse_any_pixels(b"not an image") is None


def test_bigram_lm_score_exact_values(spark):
    """Add-one-smoothed mean bigram probability + OOV fraction, pinned
    by hand: corpus {a b a b, a b x} -> counts (a,b)=3,(b,a)=1,(b,x)=1,
    tots a=3 b=2, V=3."""
    corpus = _docs(spark, ["a b a b", "a b x"])
    out = {r["doc_id"]: r for r in TX.bigram_lm_score(corpus).collect()}
    m0 = (4 / 6 + 2 / 5 + 4 / 6) / 3
    m1 = (4 / 6 + 2 / 5) / 2
    assert out[0]["n_bigrams"] == 3 and out[0]["n_oov"] == 0
    assert out[0]["mean_p"] == pytest.approx(m0, abs=1e-15)
    assert out[1]["mean_p"] == pytest.approx(m1, abs=1e-15)
    # external-model shape (the CCNet deployment): unseen bigram -> OOV,
    # probability falls to the smoothed floor
    model = TX.bigram_counts(corpus)
    cand = spark.createDataFrame([Row(doc_id=9, text="a q")])
    r = TX.bigram_lm_score(cand, model=model).collect()[0]
    assert (r["n_bigrams"], r["n_oov"], r["oov_frac"]) == (1, 1, 1.0)
    assert r["mean_p"] == pytest.approx(1 / 6, abs=1e-15)


def test_dedup_index_incremental_probe(spark, tmp_path):
    """Incremental dedup: a new batch probes the materialized corpus
    index and finds exactly the cross-corpus near-dups a full recompute
    would find, without recomputing corpus signatures."""
    corpus = _docs(spark, [
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six seven",
        "totally unrelated corpus content here now",
    ])
    path = str(tmp_path / "dedup_idx")
    DD.build_dedup_index(corpus, path)
    new = spark.createDataFrame(
        [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta"),  # dup of 0
         Row(doc_id=101, text="nothing like anything indexed at all")]
    )
    got = DD.probe_dedup_index(spark, path, new).collect()
    assert [(r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in got] == [
        (100, 0, 1.0)
    ]
    # equivalence with a full recompute: union corpus+new, exact pairs
    full = DD.minhash_candidate_pairs(
        corpus.unionByName(new)
    ).filter(F.col("doc_b") >= 100).collect()
    assert [(r["doc_b"], r["doc_a"], r["est_jaccard"]) for r in full] == [
        (100, 0, 1.0)
    ]


def test_mllib_minhash_lsh_pairs(spark):
    """MLlib MinHashLSH route finds the exact-dup pair with jaccard 1.0
    and skips unrelated docs (seeded, deterministic)."""
    df = _docs(spark, [
        "w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6",
        "completely different doc text here now",
    ])
    out = DD.minhash_lsh_pairs_mllib(df, max_jaccard_distance=0.3).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == [(0, 1, 1.0)]


def test_mllib_kmeans_ivf_centroids(spark):
    """Trained KMeans centroids plug into the IVF machinery: two clear
    clusters -> queries probe their own trained cell only."""
    corpus = _vecs(spark, [
        [1.0, 0.0], [0.95, 0.05], [0.9, 0.1],
        [0.0, 1.0], [0.05, 0.95], [0.1, 0.9],
    ])
    cents = SIM.kmeans_centroids(corpus, k=2, seed=7)
    assert cents.count() == 2
    queries = corpus.filter(F.col("vec_id") == 0)
    out = SIM.ivf_topk_with_centroids(corpus, queries, cents, k=10).collect()
    # neighbors come only from vec 0's own cluster {1, 2}
    assert sorted(r["neighbor_id"] for r in out) == [1, 2]
    assert len({r["cell"] for r in out}) == 1


def test_quality_classifier_separates_and_pareto_keeps(spark):
    """GPT-3-shape quality filter: LR trained on clean-prose positives
    vs gibberish negatives ranks held-out prose above held-out noise;
    pareto_keep is deterministic per doc id."""
    from smartdatapipeline_spark.functions import classify as CL

    prose = [
        "the quick brown fox jumps over the lazy dog and the story continues with many common words",
        "it was the best of times and it was the worst of times in the city by the river",
        "a small house stood on the hill and the children walked to school in the morning light",
    ]
    noise = [
        "x9z 00*** 8### @@@1 zz9x 77&& ^^^^ 0x0x0x",
        "qqqq 1234567890 %%%% $$$$ #### !!!! 9999 0000",
        "zxcv 8888 **** &&&& @@@@ 7777 !!!! ~~~~",
    ]
    pos = _docs(spark, prose)
    neg = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(noise)]
    )
    model = CL.train_quality_classifier(pos, neg)
    held = spark.createDataFrame(
        [
            Row(doc_id=500, text="the dog ran to the house and the man was there with a book"),
            Row(doc_id=501, text="0x0 @@ ## 99 zz ** !! ~~ ^^ 77"),
        ]
    )
    got = {r["doc_id"]: r["quality_prob"] for r in CL.score_quality(held, model).collect()}
    assert got[500] > got[501]
    assert got[500] > 0.5 and got[501] < 0.5

    scored = CL.score_quality(held, model)
    k1 = {r["doc_id"]: r["keep"] for r in CL.pareto_keep(scored).collect()}
    k2 = {r["doc_id"]: r["keep"] for r in CL.pareto_keep(scored).collect()}
    assert k1 == k2  # hash-realized draw: deterministic across runs

    # build/score split (round-3 VERDICT #5): column-math scoring under
    # the extracted coefficients matches the MLlib transform bit-close,
    # and the persisted coefficient frame round-trips
    coef = CL.model_coefficients(model)
    lin = {
        r["doc_id"]: r["quality_prob"]
        for r in CL.score_quality_linear(held, coef).collect()
    }
    for d in got:
        assert abs(lin[d] - got[d]) < 1e-9
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/qm"
        built = CL.build_quality_model(pos, neg, path=path)
        loaded = CL.load_quality_model(spark, path)
        assert built == pytest.approx(loaded)
        assert set(loaded) == set(CL.FEATURES) | {"_intercept"}


def test_scrub_contaminated_spans_surgical(spark):
    """Span-level decontamination: the 13-token eval window is masked
    out of a train doc, surrounding text survives; a clean doc and a
    shorter-than-window doc pass through untouched."""
    ev = spark.createDataFrame(
        [Row(doc_id=900, text=" ".join(f"e{i}" for i in range(13)))]
    )
    contaminated = (
        " ".join(f"w{i}" for i in range(5))
        + " " + " ".join(f"e{i}" for i in range(13)) + " tail1 tail2"
    )
    docs = spark.createDataFrame([
        Row(doc_id=1, text=contaminated),
        Row(doc_id=2, text=" ".join(f"c{i}" for i in range(20))),
        Row(doc_id=3, text="too short"),
    ])
    out = {r["doc_id"]: r for r in DD.scrub_contaminated_spans(docs, ev).collect()}
    assert out[1]["clean_text"] == "w0 w1 w2 w3 w4 tail1 tail2"
    assert (out[1]["n_masked"], out[1]["n_tokens"]) == (13, 20)
    assert out[2]["n_masked"] == 0 and out[2]["clean_text"].startswith("c0 c1")
    assert out[3]["n_masked"] == 0 and out[3]["clean_text"] == "too short"
