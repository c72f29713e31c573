"""Regression tests for the round-5 ADVICE findings and round-6 verdict
items: cache release from an operator's result, partition_checksums NULL/
transposition/separator discipline + empty-id_cols guard, the cached
multi-consumer frames in triangle_count / basket_jaccard_pairs, and the
interval_overlap_join multiplicity precondition."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches
from smartdatapipeline_spark.operators.quality import partition_checksums

TS = dt.datetime


# ---------------------------------------------------------------- cachetrack


def test_operator_caches_release_from_plan(spark):
    """triangle_count and basket_jaccard_pairs cache their multi-
    consumer intermediate inside the lazy result; releasing the result
    must unpersist it (no storage pinned past the action)."""
    from smartdatapipeline_spark.functions.graph import triangle_count
    from smartdatapipeline_spark.functions.similarity import basket_jaccard_pairs

    jsc = spark.sparkContext._jsc

    def grown():
        return set(jsc.getPersistentRDDs().keySet()) - before

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    )
    before = set(jsc.getPersistentRDDs().keySet())
    tri = triangle_count(edges)
    got = {r["node"]: r["n_triangles"] for r in tri.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert len(grown()) == 1
    release_plan_caches(tri)
    assert grown() == set()

    baskets = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")],
        "cust int, item string",
    )
    bj = basket_jaccard_pairs(baskets, "cust", "item", top_k=5)
    rows = bj.collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]
    assert len(grown()) == 1
    release_plan_caches(bj)
    assert grown() == set()


# ---------------------------------------------- partition_checksums encoding


def _sums(df):
    return {
        r["part"]: (r["n_rows"], r["id_checksum"]) for r in df.collect()
    }


def test_partition_checksums_distinguishes_null_transposition(spark):
    """ADVICE low (round-4 fix, round-5 untested): (NULL,'x') and
    ('x',NULL) are distinct rows and must checksum differently — the
    old concat_ws encoding silently dropped NULLs."""
    a = spark.createDataFrame([("p", None, "x")], "g string, c1 string, c2 string")
    b = spark.createDataFrame([("p", "x", None)], "g string, c1 string, c2 string")
    ca = _sums(partition_checksums(a, F.col("g"), ("c1", "c2")))
    cb = _sums(partition_checksums(b, F.col("g"), ("c1", "c2")))
    assert ca["p"][0] == cb["p"][0] == 1
    assert ca["p"][1] != cb["p"][1]


def test_partition_checksums_separator_values_distinct(spark):
    """Values containing the old '\\x1f' separator must not alias with
    the split row — per-column hashing needs no separator at all."""
    sep = "\x1f"
    a = spark.createDataFrame(
        [("p", f"ab{sep}cd", "e")], "g string, c1 string, c2 string"
    )
    b = spark.createDataFrame([("p", "ab", f"cd{sep}e")], "g string, c1 string, c2 string")
    ca = _sums(partition_checksums(a, F.col("g"), ("c1", "c2")))
    cb = _sums(partition_checksums(b, F.col("g"), ("c1", "c2")))
    assert ca["p"][1] != cb["p"][1]


def test_partition_checksums_order_independent(spark):
    """Same multiset of rows in any partitioning/order → identical
    checksum (the anti-entropy contract)."""
    rows = [("p", str(i), str(i * 7)) for i in range(50)]
    a = spark.createDataFrame(rows, "g string, c1 string, c2 string").repartition(1)
    b = spark.createDataFrame(rows[::-1], "g string, c1 string, c2 string").repartition(8)
    assert _sums(partition_checksums(a, F.col("g"), ("c1", "c2"))) == _sums(
        partition_checksums(b, F.col("g"), ("c1", "c2"))
    )


def test_partition_checksums_empty_id_cols_raises(spark):
    """ADVICE low: id_cols=() used to degrade to NULL checksums that
    compare equal everywhere — now a fast ValueError."""
    df = spark.createDataFrame([("p", "x")], "g string, c1 string")
    with pytest.raises(ValueError, match="id_cols"):
        partition_checksums(df, F.col("g"), ())


# ------------------------------------------ interval_overlap multiplicity


def test_interval_overlap_duplicate_rows_collapse_documented(spark):
    """Pin the documented precondition: duplicate input rows collapse
    to ONE output pair (whole-row distinct), and attaching a unique key
    restores multiplicity."""
    from smartdatapipeline_spark.operators.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [("c", TS(2024, 1, 1), TS(2024, 1, 3))] * 2,
        "l_name string, l_start timestamp, l_end timestamp",
    )
    right = spark.createDataFrame(
        [("i", TS(2024, 1, 2), TS(2024, 1, 4))],
        "r_name string, r_start timestamp, r_end timestamp",
    )
    collapsed = interval_overlap_join(
        left, right, "l_start", "l_end", "r_start", "r_end"
    )
    assert collapsed.count() == 1  # duplicates collapse — documented

    keyed = left.withColumn(
        "l_key", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("l_name").orderBy("l_start")
        )
    )
    kept = interval_overlap_join(
        keyed, right, "l_start", "l_end", "r_start", "r_end"
    )
    assert kept.count() == 2  # unique key restores multiplicity


# -------------------------------------------- two-level PageRank fold


def test_pagerank_bucketed_b1_bitexact_vs_flat(spark):
    """src_buckets=1 must be bit-identical to the flat fold: one
    partial per dst, folded from 0.0, and 0.0 + x == x for the
    strictly-positive contributions."""
    from smartdatapipeline_spark.functions.graph import pagerank, symmetrize

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(200) if i != (i * 7) % 23],
        "src long, dst long",
    )
    flat = {
        r["node"]: r["rank"]
        for r in pagerank(symmetrize(edges), iterations=3).collect()
    }
    b1 = {
        r["node"]: r["rank"]
        for r in pagerank(
            symmetrize(edges), iterations=3, src_buckets=1
        ).collect()
    }
    assert flat == b1  # exact float equality, not approx


def test_pagerank_hub_probe_two_level(spark):
    """Power-law hub probe (verdict r5 task #4): one dst with 10⁵
    in-edges. The two-level fold must (a) run, (b) be bit-stable across
    partitionings, (c) match a driver-side replication of the exact
    fold order (bucket partials in src order, partials in bucket
    order)."""
    from smartdatapipeline_spark.functions.graph import pagerank

    n = 100_000
    b = 32
    hub = n  # node id of the hub
    edges = spark.range(n).select(
        F.col("id").alias("src"), F.lit(hub).cast("long").alias("dst")
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=1, src_buckets=b).collect()
    }
    got8 = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges.repartition(8, "src"), iterations=1, src_buckets=b
        ).collect()
    }
    assert got == got8  # partitioning-independent, bit-exact

    # replicate: every src has outdeg 1 and rank 1.0 → contribution 1.0;
    # bucket k holds srcs ≡ k (mod b) in src order; partials fold in
    # bucket order
    partials = []
    for k in range(b):
        acc = 0.0
        for s in range(k, n, b):
            acc += 1.0 / 1.0
        partials.append(acc)
    acc = 0.0
    for p in partials:
        acc += p
    expect_hub = 0.15 + 0.85 * acc
    assert got[hub] == expect_hub
    assert got[0] == 0.15  # leaves get residual only


# ---------------------------------------------------- PNG pixel decode


def test_png_roundtrip_all_color_types_and_filters():
    """encode_png ↔ parse_png_pixels round-trip, every supported color
    type, default filter schedule cycling through all five filters."""
    from smartdatapipeline_spark.functions.multimodal import (
        encode_png,
        parse_png_pixels,
    )

    for ch in (1, 2, 3, 4):
        w, h = 7, 6  # 6 rows → filters 0,1,2,3,4,0 all hit
        px = bytes((i * 37 + ch * 11) % 256 for i in range(w * h * ch))
        blob = encode_png(w, h, ch, px)
        got = parse_png_pixels(blob)
        assert got == (w, h, ch, px), f"channels={ch}"


def test_png_golden_handbuilt():
    """Spec-level golden: a PNG assembled BYTE BY BYTE in the test (not
    via encode_png) — 2×2 RGB, row 0 filter Sub, row 1 filter Paeth,
    filtered bytes hand-computed from the spec — must decode to the
    hand-written raw pixels."""
    import struct
    import zlib

    from smartdatapipeline_spark.functions.multimodal import parse_png_pixels

    # raw pixels (top-down): row0 = (10,20,30),(13,24,35)
    #                        row1 = (12,22,32),(15,27,39)
    row0 = [10, 20, 30, 13, 24, 35]
    row1 = [12, 22, 32, 15, 27, 39]
    # filter 1 (Sub) on row0: first pixel verbatim, second minus left
    f_row0 = row0[:3] + [row0[3] - row0[0], row0[4] - row0[1], row0[5] - row0[2]]
    # filter 4 (Paeth) on row1: a=left, b=above, c=above-left
    f_row1 = []
    for i in range(6):
        a = row1[i - 3] if i >= 3 else 0
        b = row0[i]
        c = row0[i - 3] if i >= 3 else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        f_row1.append((row1[i] - pred) & 0xFF)
    raw = bytes([1] + [v & 0xFF for v in f_row0] + [4] + f_row1)

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert parse_png_pixels(blob) == (2, 2, 3, bytes(row0 + row1))


def test_png_rejects_malformed():
    """Fail-soft contract: corrupt CRC, truncation, palette color type,
    16-bit depth, interlace, and non-PNG bytes all return None."""
    from smartdatapipeline_spark.functions.multimodal import (
        encode_png,
        parse_png_pixels,
    )

    good = encode_png(3, 2, 3, bytes(range(18)))
    assert parse_png_pixels(good) is not None
    # flip one IDAT byte → CRC mismatch
    bad_crc = bytearray(good)
    bad_crc[40] ^= 0xFF
    assert parse_png_pixels(bytes(bad_crc)) is None
    assert parse_png_pixels(good[:30]) is None  # truncated
    assert parse_png_pixels(b"not a png at all") is None
    import struct
    import zlib

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0),  # palette
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),  # 16-bit
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),  # Adam7
    ):
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + chunk(b"IEND", b"")
        )
        assert parse_png_pixels(blob) is None


# ------------------------------------------- gold-upsert concurrency


def test_gold_upsert_interleaved_writers(spark, tmp_path):
    """Round-4/6 verdict task #9: two writer threads upserting the same
    (metric_date) partitions concurrently through the snapshot store —
    a writer that loses the commit race on a partition it replaces gets
    ``ConcurrentWriteError`` and recomputes. Afterwards every partition
    holds exactly ONE batch's rows (no interleaved file sets), and every
    batch committed exactly once."""
    import threading

    from smartdatapipeline_spark.sources import snapstore as SS

    path = str(tmp_path / "gold")
    dates = ["2024-01-01", "2024-01-02", "2024-01-03"]

    def frame(batch: int):
        return spark.createDataFrame(
            [(d, m, float(batch), batch) for d in dates for m in range(4)],
            "metric_date string, metric int, value double, batch int",
        )

    errors = []
    conflicts = []

    def writer(batches):
        try:
            for b in batches:
                while True:
                    try:
                        SS.overwrite_partitions(
                            frame(b), path, "metric_date",
                            idempotency_key=f"batch-{b}",
                        )
                        break
                    except SS.ConcurrentWriteError:
                        conflicts.append(b)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors.append(e)

    t1 = threading.Thread(target=writer, args=([1, 3, 5, 7],))
    t2 = threading.Thread(target=writer, args=([2, 4, 6, 8],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    got = SS.read_table(spark, path)
    per_part = {
        str(r["metric_date"]): r["n_batches"]
        for r in got.groupBy("metric_date")
        .agg(F.countDistinct("batch").alias("n_batches"))
        .collect()
    }
    assert set(per_part) == set(dates)
    assert all(n == 1 for n in per_part.values()), per_part
    assert got.count() == len(dates) * 4  # no leftover files
    kinds = [h["kind"] for h in SS.history(path)]
    assert kinds == ["overwrite_partitions"] * 8
