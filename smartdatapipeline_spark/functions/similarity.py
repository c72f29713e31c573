"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k (baseline/verifier) and bucketed ANN variants
(the scale path). BASELINE.json north-star extension — no reference
equivalent; semantics pinned by DuckDB oracles + tests.

Scale design:

- **Brute force** is a broadcast nested-loop: broadcast the (small)
  query set against the corpus, keep per-query top-k with a window
  rank. Exact, O(|Q|·N) — the verifier for everything else.
- **Sign-LSH buckets**: bucket = sign bits of the first ``nbits``
  dimensions (a fixed axis-aligned random-hyperplane family — public
  and engine-portable, no RNG state). Join queries to their bucket
  only; at 100 TB, repartition the corpus by bucket once and every
  query probes one partition.
- **IVF-style coarse quantization** would replace the sign buckets with
  trained centroids; the plumbing (bucket → candidates → exact re-rank)
  is identical, so the sign-LSH pipeline is the structural template.

Determinism: dot products are computed with an explicit left fold over
``zip_with`` (index order), in double after exact float→double widening;
ties in top-k rank break on ``vec_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smartdatapipeline_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    """⟨a, b⟩ as a strict left fold in index order (deterministic —
    a parallel sum of float products is not)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


# --------------------------------------------------------------- numpy core
# r14 (optimization guide §4.2): the hot vector math (cosine scoring,
# PQ encode/ADC) moves from interpreted higher-order-function expressions
# to Arrow-batched numpy inside ``mapInArrow`` — Spark keeps doing
# distribution and the final exact rank; whole batches hit vectorized
# native code. Every fold below accumulates IN INDEX ORDER with one
# numpy op per dimension, so each scalar result is the same IEEE-754
# double sequence as the ``dot``/``norm2``/``_l2sq`` column folds above
# (numpy's pairwise ``.sum()`` is deliberately NOT used).


def _mat_from_list_array(col):
    """pa.ListArray of floats → (n, dim) float64 matrix. Raises on
    null/ragged rows — the engine's corpora are fixed-dim and non-null
    by construction; failing loudly beats silently mis-ranking."""
    import numpy as np

    if col.null_count:
        raise ValueError("null embedding row in vector column")
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("null element in vector column")
    offs = col.offsets.to_numpy(zero_copy_only=False)
    lens = np.diff(offs)
    n = len(lens)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    if (lens != lens[0]).any():
        raise ValueError("ragged vector column")
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return vals.reshape(n, int(lens[0]))


def _fold_dot(M, v):
    """⟨row, v⟩ per row of M, strict left fold over dims (== ``dot``)."""
    import numpy as np

    acc = np.zeros(M.shape[0], dtype=np.float64)
    for t in range(M.shape[1]):
        acc = acc + M[:, t] * v[t]
    return acc


def _fold_norm(M):
    """per-row ‖row‖₂ with ``norm2``'s exact fold order."""
    import numpy as np

    acc = np.zeros(M.shape[0], dtype=np.float64)
    for t in range(M.shape[1]):
        acc = acc + M[:, t] * M[:, t]
    return np.sqrt(acc)


def _rank_key(x):
    """Spark orders NaN as larger than every double in BOTH sort
    directions; +inf substitution reproduces that for lexsort keys."""
    import numpy as np

    return np.where(np.isnan(x), np.inf, x)


def _codebook_tensor(codebooks: DataFrame, who: str):
    """Collect an (m·k)-row PQ codebook frame to an (m, k, d) float64
    tensor, cent_id-sorted; LUT/argmin indexing by position requires
    cent_ids 0..k-1 per sub (the pq_train contract) — fail loudly on a
    doctored codebook instead of silently mis-addressing."""
    import numpy as np

    by_sub: dict[int, list] = {}
    for r in codebooks.select("sub", "cent_id", "_cv").collect():
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["cent_id"]), [float(x) for x in r["_cv"]])
        )
    m = len(by_sub)
    if sorted(by_sub) != list(range(m)):
        raise ValueError(f"{who}: non-contiguous subs in codebook")
    for s in by_sub:
        by_sub[s].sort()
        if [c for c, _ in by_sub[s]] != list(range(len(by_sub[s]))):
            raise ValueError(f"{who}: non-contiguous cent_ids in sub {s}")
    k = len(by_sub[0])
    if any(len(e) != k for e in by_sub.values()):
        raise ValueError(f"{who}: ragged codebook")
    return np.array(
        [[cv for _cid, cv in by_sub[j]] for j in range(m)], dtype=np.float64
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (broadcast nested-loop + windowed
    rank). Output: (query_id, neighbor_id, rank, cos_sim); the query
    itself is excluded."""
    # precompute each vector's norm ONCE (outside the pair space — the
    # naive cosine() per pair recomputes both norms |Q|·N times); float
    # multiply is IEEE-commutative so qn·cn is bit-identical either way
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm2(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm2(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """axis-aligned sign-LSH bucket id: bit i = (vec[i] > 0).

    Uses null-safe 0-based ``F.get`` so a vector shorter than ``nbits``
    contributes 0 for the missing dimensions instead of raising
    INVALID_ARRAY_INDEX under ANSI mode (round-3 ADVICE)."""
    bucket = F.lit(0).cast("long")
    for i in range(nbits):
        bucket = bucket + F.when(
            F.get(vec, i) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def ann_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: exact re-rank within the query's sign-LSH bucket only.

    Recall < 1 by construction (bucket boundaries); at scale the corpus
    is partitioned by bucket so each query scans ~N/2^nbits vectors.
    Output: (query_id, neighbor_id, rank, cos_sim, bucket).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm2(F.col(vec_col)).alias("_cn"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm2(F.col(vec_col)).alias("_qn"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "bucket")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    max-cosine centroids (deterministic tiebreak: lowest centroid id).

    ``nprobe=1`` (the default) is the build-side assignment — every
    corpus vector lives in exactly ONE cell of the inverted file.
    ``nprobe>1`` is the QUERY-side multi-probe (r14, r13 VERDICT #6 —
    the standard IVF recall lever, FAISS ``nprobe``): a query fans out
    to its P nearest cells, recovering neighbors that fell just across
    a cell boundary at P× the probe cost (still ~P·N/|C| of the corpus,
    never all of it).

    ``centroids`` is a small (cent_id, _cv, _cn) frame — |C| rows by
    construction (a coarse quantizer's cell count), so it is collected
    once and folded into the projection as LITERAL arrays (r14, guide
    §2.4): assignment is pure per-row column math — no |C|-way row
    explosion carrying the full vector, no corpus-sized window shuffle.
    The per-row sort of the |C| (cos, cent_id) structs reproduces the
    former window's ordering exactly (Spark comparisons treat NaN as
    largest in both paths; cent_id breaks ties ascending). At 100 TB
    this makes assignment a scan-speed projection; the inverted file's
    one repartition-by-cell pass happens downstream.
    Output: (id, _v, _n, cell) — one row per (vector, probed cell)."""
    cents = sorted(
        centroids.select("cent_id", "_cv", "_cn").collect(),
        key=lambda r: r["cent_id"],
    )
    # single Literal nodes (not one F.lit per double) — a |C|·dim tree
    # of scalar literals sends Catalyst planning time through the roof
    cvs = F.lit([[float(x) for x in r["_cv"]] for r in cents])
    cns = F.lit([float(r["_cn"]) for r in cents])
    cids = F.lit([int(r["cent_id"]) for r in cents])
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            (dot(F.col("_v"), F.get(cvs, i)) / (F.col("_n") * F.get(cns, i))).alias(
                "cos"
            ),
            F.get(cids, i).alias("cid"),
        ),
    )
    ranked = F.array_sort(
        scored,
        lambda l, r: (
            F.when(l["cos"] > r["cos"], -1)
            .when(r["cos"] > l["cos"], 1)
            .when(l["cid"] < r["cid"], -1)
            .when(r["cid"] < l["cid"], 1)
            .otherwise(0)
        ),
    )
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm2(F.col(vec_col)).alias("_n"),
    )
    if nprobe <= 1:
        probed = v.select(
            "_id", "_v", "_n", F.element_at(ranked, 1)["cid"].alias("cell")
        )
    else:
        probed = v.select(
            "_id",
            "_v",
            "_n",
            F.explode(
                F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])
            ).alias("cell"),
        )
    return probed.select(
        F.col("_id").alias(id_col), "_v", "_n", "cell"
    )


def _ivf_probe_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    cent_rows: list,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    cell_type: str = "int",
) -> DataFrame:
    """Shared IVF probe core (r14, guide §4.2): per corpus partition,
    one Arrow/numpy pass assigns each vector to its max-cosine cell,
    scores it against the queries probing that cell, and emits the
    partition's per-query top-k candidates; the caller's exact window
    over this superset reproduces the former join+window result
    row-for-row (every fold/tie/NaN rule mirrors the column-expression
    path — see the numpy-core header). ``cent_rows`` is the collected
    (cent_id, _cv, _cn) centroid list — |C| rows by construction.
    Queries are collected driver-side: the former plan broadcast the
    same (query, vector) rows, so the memory class is unchanged; batch
    outsized query sets before calling, exactly as before."""
    import numpy as np

    cents = sorted(cent_rows, key=lambda r: r["cent_id"])
    cids = np.array([int(r["cent_id"]) for r in cents], dtype=np.int64)
    CV = np.array([[float(x) for x in r["_cv"]] for r in cents], dtype=np.float64)
    CN = np.array([float(r["_cn"]) for r in cents], dtype=np.float64)

    q_rows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    qids = [r["_qid"] for r in q_rows]
    QM = np.array([[float(x) for x in r["_qv"]] for r in q_rows], dtype=np.float64)
    if QM.size == 0:
        QM = QM.reshape(0, CV.shape[1] if CV.size else 0)
    P = max(1, nprobe)
    with np.errstate(all="ignore"):
        QN = _fold_norm(QM)
        # query-side probe: same cosine fold + (cos desc, cent_id asc)
        # order as ivf_assign's ranked sort
        by_cell: dict[int, list] = {}
        for qi in range(QM.shape[0]):
            qcos = _fold_dot(CV, QM[qi]) / (QN[qi] * CN)
            for c in np.lexsort((cids, -_rank_key(qcos)))[:P]:
                by_cell.setdefault(int(cids[c]), []).append(qi)

    id_type = dict(corpus.dtypes)[id_col]

    def gen(batches):
        import pyarrow as pa

        pa_int = {"int": pa.int32(), "bigint": pa.int64(), "smallint": pa.int16()}
        id_pa = pa_int.get(id_type)
        cell_pa = pa_int.get(cell_type)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            M = _mat_from_list_array(batch.column(1))
            if M.shape[0] == 0:
                continue
            out_q, out_n, out_s, out_c = [], [], [], []
            with np.errstate(all="ignore"):
                NN = _fold_norm(M)
                # cell assignment: argmax cos, NaN-as-largest, ties to
                # the smallest cent_id (== ivf_assign's ranked[0])
                SC = np.empty((M.shape[0], len(cents)), dtype=np.float64)
                for c in range(len(cents)):
                    SC[:, c] = _fold_dot(M, CV[c]) / (NN * CN[c])
                cell = cids[np.argmax(_rank_key(SC), axis=1)]
                for cell_id, qlist in by_cell.items():
                    mask = cell == cell_id
                    if not mask.any():
                        continue
                    sub_ids = ids[mask]
                    sub_M = M[mask]
                    sub_N = NN[mask]
                    for qi in qlist:
                        keep = sub_ids != qids[qi]
                        nid = sub_ids[keep]
                        if nid.size == 0:
                            continue
                        cos = _fold_dot(sub_M[keep], QM[qi]) / (
                            sub_N[keep] * QN[qi]
                        )
                        top = np.lexsort((nid, -_rank_key(cos)))[:k]
                        out_q.extend([qids[qi]] * len(top))
                        out_n.extend(nid[top].tolist())
                        out_s.extend(cos[top].tolist())
                        out_c.extend([cell_id] * len(top))
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(out_q, type=id_pa),
                        pa.array(out_n, type=id_pa),
                        pa.array(out_s, type=pa.float64()),
                        pa.array(out_c, type=cell_pa),
                    ],
                    names=["query_id", "neighbor_id", "cos_sim", "cell"],
                )

    schema = (
        f"query_id {id_type}, neighbor_id {id_type}, "
        f"cos_sim double, cell {cell_type}"
    )
    return corpus.select(id_col, vec_col).mapInArrow(gen, schema)


def _exact_topk_window(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize corpus and queries to ``n_centroids``
    cells, probe the query's ``nprobe`` nearest cells (r14 multi-probe;
    default 1 = own cell only), exact cosine re-rank.

    Centroids here are the fixed vectors ``id < n_centroids`` —
    deterministic plumbing-first quantizer; swapping in trained k-means
    centroids changes only the ``centroids`` frame, not the pipeline.
    Output: (query_id, neighbor_id, rank, cos_sim, cell)."""
    cent_rows = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("_cv"),
            norm2(F.col(vec_col)).alias("_cn"),
        )
        .collect()
    )
    cand = _ivf_probe_candidates(
        corpus,
        queries,
        cent_rows,
        k,
        nprobe,
        id_col,
        vec_col,
        cell_type=dict(corpus.dtypes)[id_col],
    )
    return _exact_topk_window(cand, k)


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    vec_col: str = "embedding",
) -> DataFrame:
    """TRAINED IVF coarse quantizer via MLlib KMeans (the BASELINE.json
    "MLlib" integration point): fits k centers on the corpus (seeded —
    k-means|| init is deterministic for a fixed seed and partitioning)
    and returns them in the (cent_id, _cv, _cn) shape ``ivf_assign``/
    ``ivf_topk_with_centroids`` consume — swapping the plumbing-first
    quantizer for a trained one changes ONLY this frame, as promised in
    ``ivf_topk``'s contract. Centers are |k| smalls rows — driver round
    trip is k·dim floats, not data."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = local_frame(vectors.sparkSession, rows, "cent_id int, _cv array<double>")
    return cents.select("cent_id", "_cv", norm2(F.col("_cv")).alias("_cn"))


def ivf_topk_with_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """``ivf_topk`` with an explicit (cent_id, _cv, _cn) centroid frame
    (e.g. from ``kmeans_centroids``): corpus quantizes once (one cell
    per vector), queries probe their ``nprobe`` nearest cells (r14 —
    multi-probe recovers boundary-straddling neighbors at P× probe
    cost; a corpus vector lives in exactly one cell, so each (query,
    neighbor) pair scores at most once and needs no dedup), exact
    cosine re-rank over the probed union."""
    cand = _ivf_probe_candidates(
        corpus,
        queries,
        centroids.select("cent_id", "_cv", "_cn").collect(),
        k,
        nprobe,
        id_col,
        vec_col,
        cell_type=dict(centroids.dtypes)["cent_id"],
    )
    return _exact_topk_window(cand, k)


def build_ann_index(
    corpus: DataFrame,
    path: str,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the ANN index layout: corpus written as parquet
    PARTITIONED BY sign-LSH bucket, with the per-vector norm
    precomputed. A probe for one query bucket then reads exactly one
    partition directory (partition pruning — check ``PartitionFilters``
    in the probe's scan), i.e. ~N/2^nbits of the corpus, which is the
    entire point of the index at 100 TB."""
    (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            norm2(F.col(vec_col)).alias("norm"),
            sign_bucket(F.col(vec_col), nbits).alias("bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def probe_ann_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over the materialized index: each query joins only its own
    bucket partition (broadcast queries → partition-pruned scan via the
    bucket join key)."""
    idx = spark.read.parquet(path)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm2(F.col(vec_col)).alias("_qn"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    scored = (
        idx.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("_qv"), F.col("embedding")) / (F.col("_qn") * F.col("norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim", "bucket"
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within sign-LSH buckets:
    (vec_a, vec_b, cos_sim ≥ threshold), a < b. The bucket join keeps
    the pair space near-linear; near-identical vectors land in the same
    bucket with high probability."""
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm2(F.col(vec_col)).alias("_n"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .withColumn(
            "cos_sim",
            dot(F.col("l._v"), F.col("r._v")) / (F.col("l._n") * F.col("r._n")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("l._id").alias("vec_a"),
            F.col("r._id").alias("vec_b"),
            "cos_sim",
        )
    )


def basket_jaccard_pairs(
    baskets: DataFrame,
    id_col: str,
    item_col: str,
    top_k: int = 20,
    max_block_size: int | None = None,
) -> DataFrame:
    """Top-k most-similar entity pairs by Jaccard over their item sets
    (co-purchase / co-engagement similarity), with item-blocked pair
    generation: only pairs sharing ≥1 item are ever materialized.

    ``baskets`` must be DISTINCT (id, item). The pair space is Σ_item
    k_item² — bounded by how many entities share an item, not |ids|².
    ``max_block_size`` drops items shared by more entities than the cap
    (boilerplate items contribute ~no similarity signal but dominate
    the join fan-out; same guard discipline as minhash/fuzzy blocking).
    Jaccard divides exact integer counts: |A∩B| / (|A|+|B|−|A∩B|).

    Output: (id_a, id_b, n_common, size_a, size_b, jaccard), id_a <
    id_b, ordered by (jaccard desc, id_a, id_b), top_k rows.
    """
    b = baskets.select(F.col(id_col).alias("_id"), F.col(item_col).alias("_it"))
    if max_block_size is not None:
        small_items = (
            b.groupBy("_it")
            .agg(F.count(F.lit(1)).alias("_k"))
            .filter(F.col("_k") <= max_block_size)
            .select("_it")
        )
        b = b.join(small_items, "_it")
    # b feeds sizes + both sides of the intersection join (three
    # consumers over an often-expensive distinct fact derivation):
    # cache it; the lazy result reads it, so the caller releases it.
    b = b.cache()
    sizes = b.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    l = b.select(F.col("_id").alias("id_a"), "_it")
    r = b.select(F.col("_id").alias("id_b"), "_it")
    inter = (
        l.join(r, "_it")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("size_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            "size_a",
            "size_b",
            (
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        .limit(top_k)
    )


def quantize_embeddings(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization (the ANN-index compression
    step: 4× smaller vectors, dot products in integer space): scale =
    127/max|x|, qᵢ = round(xᵢ·scale) — entirely higher-order column
    functions (transform/aggregate), zero shuffles, scan-speed.

    Determinism: float32 inputs widen to double exactly; one division,
    one multiply, and HALF-UP rounding per element are identical IEEE
    ops on any engine. The checksum Σ qᵢ·i (1-based) pins the full
    quantized vector in the oracle without materializing it.

    Output: (vec_id, n_dims, max_abs, checksum); zero vectors yield
    NULL max-scale fields rather than ±inf garbage.
    """
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.nullif(max_abs, F.lit(0.0))
    q = F.transform(xd, lambda x: F.round(x * scale).cast("long"))
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(q)),
            lambda v, i: v * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(xd).alias("n_dims"),
        max_abs.alias("max_abs"),
        checksum.alias("checksum"),
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """PRODUCT-QUANTIZATION codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the embedding
    into ``m`` contiguous subvectors and k-means each subspace
    independently — the embedding-compression step of a 100 TB vector
    store (dim·4 bytes → m bytes per vector at k ≤ 256).

    Each of the m fits is a distributed MLlib KMeans over the corpus'
    subvector slice (seeded, deterministic like ``kmeans_centroids``);
    the m·k centers round-trip the driver as model state.

    Output: (sub, cent_id, _cv array<double>) — m·k rows.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    d = dim // m
    spark = vectors.sparkSession
    rows = []
    for j in range(m):
        sub = vectors.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), j * d + 1, d)
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(sub)
        rows += [
            (j, i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    return local_frame(spark, rows, "sub int, cent_id int, _cv array<double>")


def _l2sq(a: Column, b: Column) -> Column:
    """ordered-fold squared L2 — deterministic op order per pair."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest centroid id.

    The codebook is m·k rows by construction, so it is collected once
    and encoding runs as one Arrow/numpy pass over the corpus (r14,
    guide §4.2): per batch, m×k squared-L2 surfaces accumulated
    dimension-by-dimension in ``_l2sq``'s exact fold order, then an
    argmin whose NaN/tie rules reproduce the former
    ``min_by(cent_id, struct(_d, cent_id))`` — ties to the smallest
    centroid id. Zero shuffles (the former shape exploded to m
    rows/vector and paid two corpus-sized exchanges).

    Output: (id_col, codes array<int> length m)."""
    import numpy as np

    CB = _codebook_tensor(codebooks, "pq_encode")
    m, k, d = CB.shape
    id_type = dict(corpus.dtypes)[id_col]

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            M = _mat_from_list_array(batch.column(1))
            if M.shape[0] == 0:
                continue
            codes = np.empty((M.shape[0], m), dtype=np.int32)
            with np.errstate(all="ignore"):
                for j in range(m):
                    acc = np.zeros((M.shape[0], k), dtype=np.float64)
                    for t in range(d):
                        diff = M[:, j * d + t, None] - CB[j, :, t][None, :]
                        acc = acc + diff * diff
                    codes[:, j] = np.argmin(_rank_key(acc), axis=1)
            yield pa.record_batch(
                [ids, pa.array(list(codes), type=pa.list_(pa.int32()))],
                names=[id_col, "codes"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        gen, f"{id_col} {id_type}, codes array<int>"
    )


def pq_adc_topk(
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k (ADC): per query, a lookup table
    LUT[sub][cent] = ‖q_sub − c‖² (m·k doubles, built once per query
    from the literal codebook); a candidate's approximate distance is
    the sum of its m table entries — array indexing per corpus row,
    never a full-dimension distance.

    Plan (r14, guide §4.2): the query LUTs are built driver-side from
    the collected codebook (same ``_l2sq`` term per (sub, cent), exact
    fold order over dims; the former plan broadcast the same Q·m·k LUT
    rows, so the driver-memory class is unchanged — batch outsized
    query sets, exactly as before). One Arrow/numpy pass over the codes
    frame then evaluates every candidate's s-ascending fold of
    LUT[s][codes[s]] — bit-identical additions to the former
    sort-by-sub fold — and emits each partition's per-query top-k; the
    exact window over that superset reproduces the former result
    row-for-row. The former shape exploded codes to N·m rows and paid
    an N·m·Q-row exchange plus a collect_list sort-fold per pair; the
    only shuffle left is the final top-k window.

    Output: (query_id, neighbor_id, rank, adc_dist)."""
    import numpy as np
    from pyspark.sql.window import Window

    CB = _codebook_tensor(codebooks, "pq_adc_topk")
    m, kc, d = CB.shape
    q_rows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    qids = [r["_qid"] for r in q_rows]
    # LUT[q][s, c] = ‖q_sub − c‖², accumulated dim-by-dim in _l2sq's
    # exact fold order
    LUT = np.zeros((len(q_rows), m, kc), dtype=np.float64)
    with np.errstate(all="ignore"):
        for qi, r in enumerate(q_rows):
            qv = np.array([float(x) for x in r["_qv"]], dtype=np.float64)
            for j in range(m):
                acc = np.zeros(kc, dtype=np.float64)
                for t in range(d):
                    diff = qv[j * d + t] - CB[j, :, t]
                    acc = acc + diff * diff
                LUT[qi, j] = acc

    id_type = dict(codes.dtypes)[id_col]

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            codes_col = batch.column(1)
            if codes_col.null_count:
                raise ValueError("pq_adc_topk: null codes row")
            offs = codes_col.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            if len(lens) == 0:
                continue
            if (lens != m).any():
                raise ValueError("pq_adc_topk: codes length != m")
            C = (
                codes_col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
                .reshape(len(lens), m)
            )
            out_q, out_n, out_d = [], [], []
            with np.errstate(all="ignore"):
                for qi in range(len(qids)):
                    # s-ascending fold of LUT[s][codes[s]] — the exact
                    # addition sequence of the former sort-by-sub fold
                    acc = np.zeros(C.shape[0], dtype=np.float64)
                    for s in range(m):
                        acc = acc + LUT[qi, s][C[:, s]]
                    keep = ids != qids[qi]
                    nid = ids[keep]
                    if nid.size == 0:
                        continue
                    dq = acc[keep]
                    top = np.lexsort((nid, _rank_key(dq)))[:k]
                    out_q.extend([qids[qi]] * len(top))
                    out_n.extend(nid[top].tolist())
                    out_d.extend(dq[top].tolist())
            if out_q:
                pa_int = {
                    "int": pa.int32(),
                    "bigint": pa.int64(),
                    "smallint": pa.int16(),
                }
                id_pa = pa_int.get(id_type)
                yield pa.record_batch(
                    [
                        pa.array(out_q, type=id_pa),
                        pa.array(out_n, type=id_pa),
                        pa.array(out_d, type=pa.float64()),
                    ],
                    names=["query_id", "neighbor_id", "adc_dist"],
                )

    dist = codes.select(id_col, "codes").mapInArrow(
        gen, f"query_id {id_type}, neighbor_id {id_type}, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def pq_rerank_topk(
    codebooks: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search the way production runs it (Jégou 2011 §V): the ADC
    scan produces a SHORTLIST of ``shortlist`` candidates per query from
    the compressed codes (m bytes/vector — the only thing the scan
    touches), then exact L2 re-ranks just those few full vectors. The
    re-rank join fetches ``|Q|·shortlist`` full vectors — independent of
    corpus size, so the 100 TB cost profile stays "scan codes, fetch a
    shortlist" while recall@10 climbs from the bare-ADC ~0.5 to ~0.9.

    Output: (query_id, neighbor_id, rank, l2_sq)."""
    from pyspark.sql.window import Window

    cand = pq_adc_topk(
        codebooks, codes, queries, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    exact = (
        # the shortlist is |Q|·shortlist skinny rows by construction —
        # broadcast it so the corpus-side vector fetch is a scan-side
        # hash probe, not a corpus shuffle by neighbor_id (r14, guide §3.1)
        F.broadcast(cand).join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "l2_sq",
            F.aggregate(
                F.zip_with("_qv", "_cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_sq")
    )


def projection_signs(dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """The ±1 sign matrix for ``random_projection``, derived from the
    repo's PORTABLE h60 hash (first 15 md5 hex chars) of "i:j:seed" —
    md5 is engine-independent, so the DuckDB oracle regenerates the
    identical matrix and the projection is bit-exact across engines.
    Computed driver-side once (dim·out_dim md5 calls — plan literals,
    zero per-row hashing on the executors)."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{i}:{j}:{seed}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sign random projection (Achlioptas 2003; the
    database-friendly Johnson–Lindenstrauss transform): y_j =
    (1/√out_dim) · Σ_i x_i·s(i,j), s(i,j) ∈ {−1,+1} from the portable
    h60 hash — the dimensionality-reduction step that runs BEFORE ANN
    at 100 TB (64-dim → 16-dim cuts every downstream distance, bucket,
    and shuffle byte 4×; JL guarantees pairwise distances survive to
    1±ε). Fully columnar: one zip_with multiply + ordered fold per
    output dimension, zero UDFs, zero per-row hashing (the sign matrix
    is a plan literal), and the fold order (i ascending) is fixed so
    the DuckDB oracle reproduces every double bit-for-bit.

    Output long-form (vec_id, j, proj) — one row per output dimension,
    which is what the cross-engine value hash compares exactly."""
    dim = len(emb.select(vec_col).first()[0])
    signs = projection_signs(dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    cols = []
    for j in range(out_dim):
        sj = F.array(*[F.lit(s) for s in signs[j]])
        fold = F.aggregate(
            F.zip_with(F.col(vec_col), sj, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(
            F.struct(F.lit(j).alias("j"), (fold * F.lit(scale)).alias("proj"))
        )
    return emb.select(
        F.col(id_col).alias("vec_id"), F.explode(F.array(*cols)).alias("_p")
    ).select("vec_id", F.col("_p.j").alias("j"), F.col("_p.proj").alias("proj"))


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.25,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_id: bool = False,
) -> DataFrame:
    """Embedding-space decontamination (round 9): flag every corpus
    vector whose cosine to ANY eval-set vector reaches ``threshold`` —
    the semantic complement of the n-gram `dedup.decontaminate` (an
    eval answer PARAPHRASED into training data shares no 8-gram but
    sits next to the eval embedding; cf. the contamination analyses in
    the GPT-3/Llama reports).

    ``exclude_same_id`` (round 10, driver ADVICE): ONLY set this when
    ``eval_set`` is a subset of ``corpus`` sharing its id namespace —
    it drops corpus/eval pairs with equal ids so a vector is never
    "contaminated by itself". The default (False) treats ids as
    unrelated namespaces: an independent eval set whose integer row
    ids happen to collide with corpus ids still flags the genuinely
    contaminated pair instead of silently passing it. (The n-gram
    `decontaminate` has no exclusion at all — same default here.)

    Scale shape mirrors `embedding_near_dup_pairs`: the eval side is
    small by definition and BROADCAST after bucketing, the corpus joins
    only its own sign-LSH bucket — per-corpus-row work is
    |eval ∩ bucket|, never |eval|, and the corpus never shuffles.
    Within-bucket semantics (documented ANN recall trade) — a
    paraphrase pair's vectors land in the same bucket with the usual
    sign-LSH probability; raise nbits=0 to make it exhaustive.

    Output: (id_col, n_eval_hits, max_sim, contaminated) — one row per
    corpus vector; clean rows have n_eval_hits = 0, NULL max_sim.
    """
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        norm2(F.col(vec_col)).alias("_n"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    e = eval_set.select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_ev"),
        norm2(F.col(vec_col)).alias("_en"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    scored = c.join(F.broadcast(e), "bucket")
    if exclude_same_id:
        scored = scored.filter(F.col(id_col) != F.col("_eid"))
    scored = (
        scored.withColumn(
            "cos_sim",
            dot(F.col("_v"), F.col("_ev")) / (F.col("_n") * F.col("_en")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_eval_hits"),
            F.max("cos_sim").alias("max_sim"),
        )
    )
    base = corpus.select(F.col(id_col))
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_eval_hits"), F.lit(0).cast("long")).alias(
            "n_eval_hits"
        ),
        "max_sim",
        (F.coalesce(F.col("n_eval_hits"), F.lit(0)) > 0).alias("contaminated"),
    )
