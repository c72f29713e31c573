"""Model-based document quality classification (the GPT-3 corpus-filter
shape, Brown et al. 2020 Appendix A: a linear classifier trained to
prefer reference-corpus documents, used to filter/importance-sample the
web crawl).

MLlib LogisticRegression over the deterministic hand features from
``text.quality_features`` — no tokenizer/embedding dependency, so the
feature pipeline is pure JVM column math and the only learned state is
|features|+1 doubles that broadcast everywhere. The classic deployment:
fit on (reference positives, random-crawl negatives), score the whole
corpus, keep docs whose score clears a threshold or pass it to
Pareto-style importance sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartdatapipeline_spark.functions.text import quality_features
from smartdatapipeline_spark.session import local_frame

#: feature columns taken from text.quality_features
FEATURES = (
    "n_chars",
    "n_tokens",
    "alpha_ratio",
    "digit_ratio",
    "space_ratio",
    "stop_ratio",
)


def _feature_frame(docs: DataFrame, text_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    feats = quality_features(docs, text_col=text_col)
    arr = F.array(*[F.col(c).cast("double") for c in FEATURES])
    return feats.select(
        "doc_id", array_to_vector(arr).alias("features")
    )


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    reg_param: float = 0.01,
    max_iter: int = 50,
):
    """Fit the reference-vs-crawl classifier. Returns the fitted MLlib
    model (weights = |FEATURES| doubles + intercept; L-BFGS on a convex
    objective — deterministic for fixed inputs). ``positives`` /
    ``negatives`` each need (doc_id, text)."""
    from pyspark.ml.classification import LogisticRegression

    # Single cached partition for the fit (round 10, measured 10×):
    # L-BFGS runs maxIter SEQUENTIAL treeAggregate jobs, so with a
    # many-partition input the fit is ~50 × (per-job scheduling cost)
    # regardless of data size — 10-12 s at sf0.1 for 50k×7 doubles.
    # The GPT-3 recipe's training set is reference-corpus-sized by
    # design (the 100 TB side is the SCORING pass, which stays fully
    # distributed via score_quality_linear), so one partition is right
    # at any deployment scale: 1.1 s, coefficients equal to ~1e-10
    # (gradient summation order; the objective is convex).
    # repartition(1), NOT coalesce(1): coalesce propagates upstream and
    # would silently run the tokenize/hash featurization of BOTH
    # corpora in a single task too (r11 ADVICE); the shuffle barrier
    # keeps feature extraction distributed and single-partitions only
    # the |FEATURES|+1-column fit input.
    train = (
        _feature_frame(positives, text_col)
        .withColumn("label", F.lit(1.0))
        .unionByName(
            _feature_frame(negatives, text_col).withColumn("label", F.lit(0.0))
        )
        .repartition(1)
        .cache()
    )
    try:
        lr = LogisticRegression(
            featuresCol="features",
            labelCol="label",
            regParam=reg_param,
            maxIter=max_iter,
            standardization=True,
        )
        return lr.fit(train)
    finally:
        train.unpersist()


def model_coefficients(model) -> dict[str, float]:
    """Extract the learned state from a fitted LR model: one weight per
    FEATURES entry (MLlib reports coefficients in ORIGINAL feature
    space even with standardization=True) plus ``_intercept``. This
    dict IS the model — |FEATURES|+1 doubles."""
    w = model.coefficients.toArray().tolist()
    return {**dict(zip(FEATURES, w)), "_intercept": float(model.intercept)}


def build_quality_model(
    positives: DataFrame,
    negatives: DataFrame,
    path: str | None = None,
    text_col: str = "text",
    reg_param: float = 0.01,
    max_iter: int = 50,
) -> dict[str, float]:
    """TRAIN step, split from scoring (round-3 VERDICT #5 — same
    build/probe shape as the ANN and cluster indexes): fit once per
    corpus snapshot, persist the coefficient frame, and every
    downstream scoring pass replays it as pure column math at scan
    speed. Returns the coefficient dict; writes (feature, weight)
    parquet when ``path`` is given."""
    model = train_quality_classifier(
        positives, negatives, text_col=text_col, reg_param=reg_param, max_iter=max_iter
    )
    coef = model_coefficients(model)
    if path is not None:
        _persist_coef(positives.sparkSession, coef, path)
    return coef


def _persist_coef(spark, coef: dict[str, float], path: str) -> None:
    # ONE file: the model is |FEATURES|+1 rows. The local table's
    # slices are JVM rows, so coalesce(1) is cheap — 0.17-0.19 s warm
    # vs 0.27-0.35 s writing one file per row (local[32], 4 cores).
    # Over a 32-slice Python collection the same coalesce stalled the
    # write task ~5 s (measured r14).
    local_frame(
        spark,
        [(k, float(v)) for k, v in sorted(coef.items())],
        "feature string, weight double",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def build_quality_model_extremes(
    docs: DataFrame,
    path: str | None = None,
    text_col: str = "text",
    pos_min: float = 0.62,
    neg_max: float = 0.55,
    reg_param: float = 0.01,
    max_iter: int = 50,
) -> dict[str, float]:
    """``build_quality_model`` for the weak-label-extremes recipe (the
    GPT-3 self-training shape every caller here uses), in ONE
    featurization pass (r14, guide §1.2 "don't compute things twice"):
    the former caller pattern featurized the corpus for the quality
    label, joined it back onto the text, then ``_feature_frame``
    re-featurized each extreme — three tokenize+regex passes and a
    corpus self-join. Here labels AND fit vectors come from the same
    ``quality_features`` projection (identical feature values — same
    expressions over the same text), so training is one scan + the
    single-partition convex fit. Coefficients agree with the two-frame
    build to L-BFGS tolerance (~1e-10; the fit input is the same row
    multiset — only the accumulation order in the single partition can
    differ), which every consumer is insensitive to by construction
    (scores feed threshold/property checks, not bit-exact oracles)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = quality_features(docs, text_col=text_col)
    arr = F.array(*[F.col(c).cast("double") for c in FEATURES])
    train = (
        feats.filter(
            (F.col("quality") >= pos_min) | (F.col("quality") <= neg_max)
        )
        .select(
            array_to_vector(arr).alias("features"),
            F.when(F.col("quality") >= pos_min, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("label"),
        )
        # repartition(1), NOT coalesce(1): same rationale as
        # train_quality_classifier — the shuffle barrier keeps the
        # featurization distributed and single-partitions only the
        # |FEATURES|+1-column fit input for the 50 sequential
        # treeAggregate jobs of L-BFGS.
        .repartition(1)
        .cache()
    )
    try:
        lr = LogisticRegression(
            featuresCol="features",
            labelCol="label",
            regParam=reg_param,
            maxIter=max_iter,
            standardization=True,
        )
        coef = model_coefficients(lr.fit(train))
    finally:
        train.unpersist()
    if path is not None:
        _persist_coef(docs.sparkSession, coef, path)
    return coef


def load_quality_model(spark, path: str) -> dict[str, float]:
    """Read a ``build_quality_model`` coefficient frame back to a dict
    (tiny — one collect of |FEATURES|+1 rows)."""
    return {r["feature"]: r["weight"] for r in spark.read.parquet(path).collect()}


def score_quality_linear(
    docs: DataFrame, coef: dict[str, float], text_col: str = "text"
) -> DataFrame:
    """Score a corpus under PREBUILT coefficients — no MLlib at scoring
    time: sigmoid(intercept + w·x) as built-in column expressions over
    ``quality_features``, so the 100 TB scoring pass is scan-speed JVM
    math with the model folded in as literals (the ultimate broadcast).

    Output: (doc_id, quality_prob) — identical math to ``score_quality``
    (MLlib transform) on the same coefficients; parity pinned by tests.
    """
    feats = quality_features(docs, text_col=text_col)
    z = F.lit(coef["_intercept"])
    for c in FEATURES:
        z = z + F.lit(coef[c]) * F.col(c).cast("double")
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select("doc_id", prob.alias("quality_prob"))


def score_quality(
    docs: DataFrame, model, text_col: str = "text"
) -> DataFrame:
    """Score a corpus under a trained classifier.

    Output: (doc_id, quality_prob) — P(reference-like). The transform is
    a broadcast of |FEATURES|+1 doubles; scoring runs at scan speed."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_feature_frame(docs, text_col))
    return scored.select(
        "doc_id",
        F.element_at(vector_to_array("probability"), 2).alias("quality_prob"),
    )


def pareto_keep(
    scored: DataFrame,
    alpha: float = 9.0,
    prob_col: str = "quality_prob",
    seed_col: str = "doc_id",
) -> DataFrame:
    """GPT-3's importance-sampling keep rule (Brown et al. 2020 Appx A):
    keep a document iff ``alpha · (1 − score) < x`` with x drawn from a
    Pareto(α)-ish tail — realized DETERMINISTICALLY per doc by hashing
    the id into (0,1] (re-runs keep the same docs; no RNG state).

    np.random.pareto(α) draws x with CDF 1−(1+x)^(−α); inverting with
    u = hash-uniform gives x = u^(−1/α) − 1.
    """
    u = (
        (F.abs(F.xxhash64(F.col(seed_col).cast("string"), F.lit(alpha))) % F.lit(1_000_000_000))
        .cast("double")
        / 1_000_000_000.0
        + F.lit(5e-10)  # keep u strictly in (0, 1]
    )
    x = F.pow(u, -1.0 / alpha) - 1.0
    return scored.withColumn("keep", (1.0 - F.col(prob_col)) < x)
