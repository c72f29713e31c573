"""Deterministic dataset splitting & ordering for training pipelines
(BASELINE.json north star; no reference equivalent — semantics pinned by
the DuckDB oracle + tests).

Both operators are pure column expressions keyed on a salted md5 of the
id, so they are: reproducible across runs/engines/cluster sizes,
stable under appends (a doc's split never changes when other docs
arrive — the property random splits lack), and shuffle-free at scan
time (the split is a projection; the shuffle order is one global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(id_col: Column, salt: str, buckets: int = 100) -> Column:
    """salted md5 → stable bucket in [0, buckets)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % buckets


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every row a split label by hash bucket.

    ``weights`` maps split name → percentage (must sum to 100); buckets
    are allocated in dict order, so {"train": 98, "val": 1, "test": 1}
    gives buckets 0-97 / 98 / 99. Output: input + (bucket, split).
    """
    weights = weights or {"train": 98, "val": 1, "test": 1}
    assert sum(weights.values()) == 100, "weights must sum to 100"
    b = _bucket(F.col(id_col), salt)
    expr = None
    lo = 0
    for name, w in weights.items():
        cond = (b >= lo) & (b < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("bucket", b).withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic N-per-group sample: rank rows within each stratum
    by salted id hash and keep the first N — a reproducible balanced
    subset (per-lang / per-domain caps in corpus building). One shuffle
    on the stratum key. Output: input + sample_rank."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        _bucket(F.col(id_col), salt, buckets=2_147_483_647), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", salt: str = "shuffle-v1"
) -> DataFrame:
    """Reproducible global 'shuffle': order by the salted id hash
    (ties broken by id). One sort; change ``salt`` for a fresh epoch
    order. At 100 TB prefer writing with this as the sort key so
    training readers stream in shuffled order with zero extra passes."""
    return df.orderBy(
        _bucket(F.col(id_col), salt, buckets=2_147_483_647), F.col(id_col)
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    temperature: float = 2.0,
) -> DataFrame:
    """Training-mixture reweighting (public multilingual-LM recipe:
    sample domain d ∝ share_d^(1/T), temperature T flattening the
    head): per-domain document counts → normalized sampling weights.

    T=2 (the common default) is computed with ``sqrt`` — IEEE
    correctly-rounded in every engine, so weights are bit-identical
    cross-engine. Other temperatures go through ``pow`` whose last ulp
    is libm-dependent; keep T=2 for oracle-checked paths. The weight
    denominator is an ordered fold over domain name so partition count
    and engine agree on summation order.

    One tiny aggregation (|domains| rows); output (domain, n_docs,
    share, weight) with Σweight = 1.
    """
    if temperature == 2.0:
        scaled = lambda c: F.sqrt(c)  # noqa: E731
    else:
        scaled = lambda c: F.pow(c, 1.0 / temperature)  # noqa: E731
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    s = scaled(F.col("n_docs").cast("double"))
    # one scalar row: exact total + ordered fold of sqrt(n_d) in
    # domain-name order (deterministic summation, engine-agnostic)
    totals = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("domain").alias("o"), s.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("denom"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total").cast("double")).alias(
                "share"
            ),
            (s / F.col("denom")).alias("weight"),
        )
        .orderBy("domain")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    salt: str = "wsample-v1",
    max_weight: int = 16,
) -> DataFrame:
    """Deterministic weight-proportional sample of ``k`` rows
    (Efraimidis–Spirakis A-Res, transcendental-free).

    E-S ranks rows by u^(1/w) (u uniform); the max of w iid uniforms
    has exactly that distribution (CDF x^w), so for INTEGER weights the
    key can be built as max over w salted md5 draws — integer/string
    ops only, hence bit-identical on any engine, unlike a ln()/pow()
    key, and stable under appends like every sampler in this module.

    Plan shape: explode weight → sequence (bounded by ``max_weight``,
    so blow-up is ≤ max_weight×N rows of two columns), per-id max — a
    partial-aggregating shuffle on the id — then global top-k, which
    Spark executes as TakeOrderedAndProject (per-partition heaps, no
    full sort). Weights are clamped to [1, max_weight].
    """
    w = F.least(
        F.greatest(F.col(weight_col).cast("int"), F.lit(1)), F.lit(max_weight)
    )
    drawn = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), w)).alias("_j"),
    ).select(
        id_col,
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"),
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.col("_j").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("_draw"),
    )
    keyed = drawn.groupBy(id_col).agg(F.max("_draw").alias("sample_key"))
    return keyed.orderBy(F.col("sample_key").desc(), F.col(id_col).asc()).limit(k)


def consistent_hash_sample(
    df: DataFrame, key_col: str, pct: int = 10, salt: str = "csample-v1"
) -> DataFrame:
    """Coherent cross-table sampling: keep rows whose key falls in the
    first ``pct`` of 100 stable hash buckets. Any table filtered with
    the same (salt, pct) keeps the SAME key set, so joins between
    sampled tables stay referentially intact — the property Bernoulli
    row sampling destroys. Pure column filter (no shuffle), stable
    under appends/repartitioning, bit-identical cross-engine (salted
    md5, no engine RNG)."""
    return df.filter(_bucket(F.col(key_col), salt) < pct)


def cap_rows_per_key(
    df: DataFrame,
    key_col: str,
    max_rows: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Fair-share cap: keep at most ``max_rows`` rows per key — the
    per-domain/per-source document cap every corpus-curation pipeline
    applies so one crawl host can't dominate the training mix.

    Deterministic: rows rank by ``order_cols`` (so the KEPT rows are
    stable under re-partitioning and appends of later-ranked rows),
    one partitioned window — a single shuffle on the key, never a
    global sort.
    """
    from pyspark.sql.window import Window

    order_cols = order_cols or [key_col]
    w = Window.partitionBy(key_col).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_rows)
        .drop("_rk")
    )


def importance_weights(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    weights, in the repo's transcendental-free exact-rational form:
    hashed word-bigram features, Laplace-smoothed target vs raw bucket
    frequencies, and per-doc weight

        weight = (Σ_b c_b·(tgt_b+1) / Σ_b c_b·(raw_b+1))
               · ((Σ raw + n_buckets) / (Σ tgt + n_buckets))

    — the exact linear-likelihood ratio of the doc's feature counts
    under the two hashed-ngram distributions. (The paper scores with
    Σ c_b·log(p_b/q_b); the rational form keeps the same target-affinity
    ordering signal while every intermediate stays an exact integer, so
    the result is bit-identical on any engine — the discipline every
    oracle-checked operator here follows. Docs with no bigram features
    get weight NULL.)

    Scale shape: one token explode → groupBy(doc, bucket) with map-side
    combine (the per-doc sparse feature vector, ≤ n_buckets entries) →
    bucket totals (n_buckets rows, broadcastable) → one more map-side
    agg back to doc grain. No driver collects; the two integer inner
    products sum as DECIMAL(38,0) (exact to 1e38 — at 100 TB the worst
    term is c·raw_b ≈ 1e5·1e14, summed over ≤4096 buckets ≈ 4e23).
    The ONLY doubles are four correctly-rounded casts of exact integers
    and three IEEE ops, mirrored operation-for-operation in the oracle.

    Target set = rows matching ``target_pred`` (e.g. a language, a
    quality tier, a trusted source) — the "domain you want more of".
    """
    from smartdatapipeline_spark.functions.text import tokens

    toks = df.select(
        F.col(id_col),
        target_pred.cast("int").alias("_is_tgt"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    # Bucket INSIDE the array transform so the explode emits one int per
    # bigram, never the bigram string (r11: the string explode fed the
    # hash-aggregate 30-60 byte rows and showed 4-5x heavy-tail reps in
    # clean-window probes; int rows shrank the agg input ~10x). Values
    # are bit-identical: same _bucket expression over the same strings.
    bigrams = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at("_toks", i),
                F.element_at("_toks", i + 1),
            ),
        ),
        lambda s: ~s.startswith(" ") & ~s.endswith(" "),
    )
    bg = toks.filter(F.size("_toks") >= 2).select(
        id_col,
        "_is_tgt",
        F.explode(
            F.transform(bigrams, lambda s: _bucket(s, salt, n_buckets))
        ).alias("_bk"),
    )
    feat = bg.groupBy(id_col, "_is_tgt", "_bk").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # Cache the BUCKET table (≤ n_buckets rows — storage is nothing),
    # not feat (~docs × distinct-buckets rows — r11 measured that cache
    # costing more than it saves): buckets feeds both the broadcast
    # join and tots, so without it the explode lineage runs 3x and
    # first-run codegen JIT-compiles 3 copies of the md5-lambda stage
    # (the bench-vs-probe dispersion adjudicated in r10 — see
    # BENCH_ADJUDICATIONS.md r11 dsir entry). The result's plan reads
    # it, so the caller releases it (bench/check/probe do).
    buckets = (
        feat.groupBy("_bk")
        .agg(
            F.sum("_c").alias("_raw"),
            F.sum(F.col("_c") * F.col("_is_tgt")).alias("_tgt"),
        )
        .cache()
    )
    tots = buckets.agg(
        (F.sum("_tgt") + F.lit(n_buckets)).cast("decimal(38,0)").alias("_T"),
        (F.sum("_raw") + F.lit(n_buckets)).cast("decimal(38,0)").alias("_R"),
    )
    scored = (
        feat.join(F.broadcast(buckets), "_bk")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("_c").cast("decimal(38,0)") * (F.col("_tgt") + 1)
            ).alias("_A"),
            F.sum(
                F.col("_c").cast("decimal(38,0)") * (F.col("_raw") + 1)
            ).alias("_B"),
        )
    )
    return (
        df.select(F.col(id_col), target_pred.alias("is_target"))
        .join(scored, id_col, "left")
        .crossJoin(F.broadcast(tots))
        .select(
            id_col,
            "is_target",
            (
                (F.col("_A").cast("double") / F.col("_B").cast("double"))
                * (F.col("_R").cast("double") / F.col("_T").cast("double"))
            ).alias("weight"),
        )
    )


def importance_resample(
    weights_df: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """The selection step of DSIR: keep the k docs with the highest
    importance weight (deterministic id tiebreak; featureless NULL-
    weight docs never selected). The paper resamples with Gumbel noise;
    the deterministic top-k is this repo's reproducibility discipline —
    for the stochastic flavor, scale ``weight`` to an integer and feed
    ``weighted_sample`` (exact Efraimidis–Spirakis, also md5-keyed).

    Plan: TakeOrderedAndProject (per-partition heaps) — no global sort.
    """
    return (
        weights_df.filter(F.col("weight").isNotNull())
        .orderBy(F.col("weight").desc(), F.col(id_col).asc())
        .limit(k)
    )
