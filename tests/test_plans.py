"""Envelope contract (C4) + skew utilities."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from smartdatapipeline_spark.functions.skew import salted_join
from smartdatapipeline_spark.plans.envelope import error_envelope, ok_envelope


def _clock():
    return dt.datetime(2025, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)


def test_ok_envelope_shape():
    env = ok_envelope([{"a": 1}], source_name="s", metric="m", params={"x": 1}, now=_clock)
    assert env["ok"] is True and env["error"] is None
    assert env["data"] == [{"a": 1}]
    assert env["meta"]["generated_at"] == "2025-01-02T03:04:05Z"
    assert env["meta"]["source_name"] == "s" and env["meta"]["version"]


def test_error_envelope_shape():
    env = error_envelope("MISSING_COLUMNS", "need timestamp,value", details=["ts"], now=_clock)
    assert env["ok"] is False and env["data"] is None
    assert env["error"] == {
        "code": "MISSING_COLUMNS",
        "message": "need timestamp,value",
        "details": ["ts"],
    }


def test_salted_join_matches_plain_join(spark):
    large = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    small = spark.createDataFrame([("hot", 1.0), ("cold", 2.0)], "sk string, w double")
    out = salted_join(large, small, "k", "sk", row_col="v", n_salts=8)
    plain = large.join(small, large.k == small.sk)
    assert out.count() == plain.count() == 505
    assert (
        out.agg(F.sum("w")).first()[0] == plain.agg(F.sum("w")).first()[0]
    )
    # salted rows really spread: the hot key occupies >1 salt bucket
    lg = large.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(8)))
    n_buckets = lg.filter(F.col("k") == "hot").select("_salt").distinct().count()
    assert n_buckets > 1


def test_salted_join_all_keys_salted(spark):
    large = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "k string, v int")
    small = spark.createDataFrame([("a", 10), ("b", 20)], "sk string, w int")
    out = salted_join(large, small, "k", "sk", row_col="v", n_salts=4).orderBy("v")
    assert [(r["k"], r["v"], r["w"]) for r in out.collect()] == [
        ("a", 1, 10),
        ("b", 2, 20),
        ("a", 3, 10),
    ]


def test_register_views_enables_pure_sql(spark):
    """SQL-surface parity: registered views answer spark.sql with the
    same results as the DataFrame path."""
    from smartdatapipeline_spark.session import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert {"events", "lineitem", "orders", "documents"} <= set(names)
    row = spark.sql(
        """
        SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY n DESC, d, event_type LIMIT 1
        """
    ).collect()[0]
    assert row["n"] > 0
    joined = spark.sql(
        """
        SELECT COUNT(*) AS n FROM lineitem l JOIN orders o
        ON l.l_orderkey = o.o_orderkey
        """
    ).collect()[0]
    assert joined["n"] > 0


def test_key_skew_report_known_distribution(spark):
    """Gini and hot-key shares on a hand-computable distribution."""
    from smartdatapipeline_spark.functions.skew import key_skew_report

    # keys: a×6, b×3, c×1 → n_rows=10, ranks asc: c=1(i1), b=3(i2), a=6(i3)
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, "k").first()
    assert (r["n_rows"], r["n_keys"]) == (10, 3)
    assert r["top1_share"] == 0.6
    assert r["top10_share"] == 1.0  # fewer than 10 keys ⇒ everything
    # G = 2*(1*1+2*3+3*6)/(3*10) - 4/3 = 50/30 - 40/30 = 1/3
    assert abs(r["gini"] - 1 / 3) < 1e-12
    # uniform distribution ⇒ Gini 0
    uni = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    assert abs(key_skew_report(uni, "k").first()["gini"]) < 1e-12
