"""Skew-mitigation utilities for 100 TB joins (PERF.md).

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled`` is on in session.py); explicit
salting remains necessary when ONE side must be aggregated or joined on
a key whose hot values overwhelm single tasks even after AQE splits —
e.g. joining events to a per-key dimension where key="" (empty doc,
boilerplate fingerprint) holds 10% of all rows.

``salted_join`` implements the classic replicate-small-side pattern:

    large: key → (key, salt = xxhash64(row_col) mod S)
    small: key → exploded to (key, salt ∈ [0, S))
    join on (key, salt)

Each hot key's rows spread over S reducers; the small side grows ×S,
which is the price — use it only for genuinely skewed keys
(``key_skew_report`` below detects them). Beyond AQE it is the tool
for aggregations-after-join, stream-static joins (no AQE) and sessions
with AQE off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    row_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the pair space spread over ``n_salts`` reducers
    per key: the (big, possibly skewed) ``left`` side gets a
    deterministic per-row salt — ``xxhash64(row_col) mod n_salts``, so
    one hot key's rows scatter uniformly — and the ``right`` side
    replicates ``n_salts``× carrying every salt value. The join key
    becomes (key, salt); every original (left row, right row) pair
    still meets on exactly one salt, so the OUTPUT IS IDENTICAL to the
    plain join (the correctness oracle runs the plain join).

    Cost model: right-side shuffle volume × n_salts buys per-key
    parallelism × n_salts — worth it exactly when a hot key's reducer
    is the stage's critical path. ``row_col`` is any per-row column
    with good hash spread (a primary key; it need not be unique, only
    well-distributed).

    Supported ``how``: inner / left (semantics preserved because right
    replication never duplicates matches per salt — each left row holds
    ONE salt value).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    sl = left.withColumn(
        "_saltl",
        F.pmod(F.xxhash64(F.col(row_col)), F.lit(n_salts)).cast("int"),
    )
    sr = right.withColumn(
        "_saltr", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_saltr", F.col("_saltr").cast("int"))
    cond = (F.col(left_key) == F.col(right_key)) & (
        F.col("_saltl") == F.col("_saltr")
    )
    return sl.join(sr, on=cond, how=how).drop("_saltl", "_saltr")


def key_skew_report(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """The pre-flight skew diagnostic for a join/agg key: row count,
    key cardinality, share held by the hottest 1 and 10 keys, and the
    Gini coefficient of the key-frequency distribution — the numbers
    that decide between a plain shuffle, AQE skew-split, bucketing, or
    an explicit salt (``salted_join``).

    Exact arithmetic end-to-end: counts are BIGINT, the Gini rank-sum
    Σ(i·cᵢ) stays integer until one final double division
    (G = 2·Σ(i·cᵢ)/(n·Σc) − (n+1)/n, ranks ascending with key
    tiebreak). One groupBy(key) plus one tiny ordered window over the
    key-frequency table — the window runs on |keys| rows, not |rows|.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_rank = Window.orderBy(F.col("_c").asc(), F.col("_k").asc())
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.withColumn("_i", F.row_number().over(w_rank)).withColumn(
        "_n", F.count(F.lit(1)).over(w_all)
    )
    return ranked.agg(
        F.sum("_c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        (F.max("_c").cast("double") / F.sum("_c").cast("double")).alias("top1_share"),
        (
            F.coalesce(
                F.sum(F.when(F.col("_i") > F.col("_n") - 10, F.col("_c"))), F.lit(0)
            ).cast("double")
            / F.sum("_c").cast("double")
        ).alias("top10_share"),
        (
            F.lit(2.0) * F.sum(F.col("_i") * F.col("_c")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.sum("_c").cast("double"))
            - (F.count(F.lit(1)) + 1).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("gini"),
    )
