"""Graph analytics over DataFrame edge lists — PageRank power iteration.

Beyond-reference surface (the reference has no graph operators; its
entity tables still form graphs — customers↔suppliers via order lines —
and centrality over that bipartite graph is a standard warehouse ask).
Companion to the iterative min-label connected components already in
functions/dedup.py (`duplicate_clusters`).

Scale design: each power-iteration step is one equi-join (ranks onto
edge sources — the same src-hash exchange every round, so AQE reuses
the layout) plus one grouped fold per destination. There is no
all-pairs anything; cost per round is O(|E|) shuffled bytes and the
round count is fixed (not data-dependent). `localCheckpoint` cuts
lineage each round exactly like the CC loop, keeping plans flat. No
loop sets a partition count: AQE sizes each round's shuffles, cached
loop-invariant frames included (`session.get_spark`).

Cross-engine determinism: per-destination contributions are summed as
an ordered fold — `aggregate(sort_array(collect_list(struct(src, c))))`
— so the double additions happen in source-id order on every engine and
every partitioning. (A plain SUM(double) would be order-dependent; see
functions/numeric.py.) In-degrees here are bounded (a customer touches
dozens of suppliers), so the per-group list is small; for power-law
graphs ``pagerank(..., src_buckets=B)`` switches to a two-level fold
keyed by (dst, src % B): level 1 folds each bucket's contributions in
src order, level 2 folds the bucket partials in bucket order — a
10⁵-in-degree hub becomes B groups of ~indeg/B instead of one
collect_list the size of the in-degree. Both levels start from 0.0 and
follow a FIXED total order, so the result is deterministic and an
external engine spelling the same two-level fold (see the
graph_pagerank oracle) reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartdatapipeline_spark.cachetrack import release_plan_caches


# round count of the most recent connected_components() call — probe /
# test observability for the O(log diameter) claim, nothing reads it in
# query paths
LAST_CC_ROUNDS = 0


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: add each reverse edge
    (dedup is the caller's business).

    r14 (optimization guide §2.4): emitted via ONE explode per input
    row instead of a self-union — the union shape evaluates the whole
    upstream edge derivation (often a fact-table join + distinct)
    TWICE; the explode yields the identical row multiset from a single
    evaluation. Still zero shuffles."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias(src), F.col(dst).alias(dst)),
                F.struct(F.col(dst).alias(src), F.col(src).alias(dst)),
            )
        ).alias("_e")
    ).select(F.col(f"_e.{src}").alias(src), F.col(f"_e.{dst}").alias(dst))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    residual: float = 0.15,
    src_buckets: "int | str" = 0,
    hub_threshold: int = 1 << 20,
    auto_buckets: int = 32,
    undirected: bool = False,
) -> DataFrame:
    """Unnormalized PageRank (rank₀ = 1, rankᵢ₊₁ = (1−d) + d·Σ
    rank/outdeg over in-edges) for a fixed number of power iterations.

    Returns (node, rank) for every node appearing as src or dst.
    Deterministic bit-for-bit: contributions fold in src order (module
    docstring); division rank/outdeg is a single IEEE op.

    ``src_buckets=B`` (B ≥ 1) enables the two-level power-law fold:
    contributions pre-fold per (dst, src % B) in src order, then the B
    partials fold in bucket order — the per-group state drops from
    in-degree to ~in-degree/B, so a hub node no longer pins one task.
    Requires NUMERIC node ids (the bucket key is ``src % B``, chosen
    because it is trivially reproducible in any SQL oracle — a hash
    bucket would need a cross-engine hash for bit-parity). B=1 is
    bit-identical to the flat fold (a single partial folds from 0.0,
    and 0.0 + x == x for the strictly-positive contributions here);
    B>1 is a DIFFERENT (but fixed) double-addition order, so flat and
    bucketed variants agree only to float tolerance with each other —
    each is individually bit-stable across partitionings and engines.

    ``src_buckets="auto"`` probes the max in-degree (one tiny groupBy
    job on the already-cached edge frame) and picks the flat fold when
    every in-degree ≤ ``hub_threshold``, else the two-level fold with
    ``auto_buckets``. The two-level fold is MEMORY insurance, not
    speed: a reducer materializes an in-degree-sized struct list
    (~64 B/edge), so the flat fold is fine — and measured FASTER, one
    shuffle instead of two — through ~10⁶-degree hubs (64 MB task
    state; 5.9 s flat vs 7.0 s two-level on a 3M-edge / 10⁶-hub probe,
    PERF.md), and only genuinely fails around 10⁸ (6 GB task state).
    The default threshold 2²⁰ flips modes where per-task state starts
    to threaten an executor, not merely where a list gets large. The
    decision is data-deterministic (same input ⇒ same mode ⇒ same
    bits).
    """
    # edge + degree frames are loop-invariant: cache once so the three
    # iteration jobs don't re-derive them from the source plan (the
    # final localCheckpoint cuts lineage, so both release before return)
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).cache()
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_outdeg")).cache()
    if src_buckets == "auto":
        if undirected:
            # r14: on a symmetrized edge list in-degree(_t) ==
            # out-degree(_t), so the probe reads the max off the
            # loop-invariant (cached) degree frame instead of running a
            # second edge-sized aggregation — same decision, one fewer
            # full-edge pass.
            row = deg.agg(F.max("_outdeg").alias("m")).first()
        else:
            row = e.groupBy("_t").agg(F.count(F.lit(1)).alias("_ind")).agg(
                F.max("_ind").alias("m")
            ).first()
        max_indeg = row["m"] or 0
        src_buckets = auto_buckets if max_indeg > hub_threshold else 0
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_t").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    superseded = [nodes]
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _it in range(iterations):
        # r14 (optimization, guide §2.3/§2.4): fold rank/outdeg on the
        # NODE-sized frame first, then attach to edges — ONE edge-sized
        # join per iteration instead of two, and the division happens
        # once per node instead of once per edge (identical IEEE result:
        # same operands, same single division, just not repeated).
        rod = (
            ranks.withColumnRenamed("node", "_s")
            .join(deg, "_s")
            .select("_s", (F.col("rank") / F.col("_outdeg")).alias("_rod"))
        )
        contribs = e.join(rod, "_s").select(
            F.col("_t").alias("node"),
            F.struct(
                F.col("_s").alias("src"), F.col("_rod").alias("c")
            ).alias("_sc"),
        )
        if src_buckets:
            # two-level fold: (dst, src-bucket) partials in src order,
            # then partials in bucket order — bounds per-group state at
            # ~indeg/B for power-law hubs (docstring)
            partials = contribs.groupBy(
                "node",
                F.pmod(F.col("_sc.src").cast("long"), F.lit(src_buckets)).alias(
                    "_bkt"
                ),
            ).agg(
                F.aggregate(
                    F.sort_array(F.collect_list("_sc")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("_p")
            )
            summed = partials.groupBy("node").agg(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_bkt"), F.col("_p")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["_p"],
                ).alias("_s_in")
            )
        else:
            summed = contribs.groupBy("node").agg(
                F.aggregate(
                    F.sort_array(F.collect_list("_sc")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("_s_in")
            )
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            # residual is an explicit literal (not 1−damping) so the
            # SQL oracle can spell the bit-identical constant
            (
                F.lit(residual)
                + F.lit(damping) * F.coalesce(F.col("_s_in"), F.lit(0.0))
            ).alias("rank"),
        )
        # checkpoint every SECOND iteration and always the last (lesson
        # 10: per-round fixed costs — checkpoint write + job — dominate
        # locally; two propagation steps per materialization halves
        # them, and the final cut lets the loop-invariant caches release)
        # Intermediate checkpoints stay lazy (they materialize inside
        # the final one's job); the final one is eager so every
        # superseded checkpoint can be released before returning.
        if _it == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
        elif (_it + 1) % 2 == 0:
            ranks = ranks.localCheckpoint()
            superseded.append(ranks)
    if iterations:  # with no iteration the result still reads ``nodes``
        for ck in superseded:
            release_plan_caches(ck)
    e.unpersist()
    deg.unpersist()
    return ranks


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components: every node labeled with the MIN node id
    reachable through the (undirected) edge graph — THE one min-label
    loop in the repo; ``functions/dedup.py duplicate_clusters`` (and
    through it semantic dedup, crossmodal cluster consumers, the
    cluster index, dedup-aware splits) delegates here, so there is a
    single implementation to audit and tune.

    Iterative min-label propagation (the GraphFrames/Pregel CC shape in
    plain DataFrames): each round a node's label becomes the min of its
    own and its neighbors' labels; converges in O(component diameter)
    rounds — near-dup clusters are shallow, so typically < 5. TWO
    propagation sub-steps run per materialized round: the same total
    shuffle work for the same propagation distance, but HALF the
    checkpoint + convergence-count jobs — locally those fixed per-round
    costs dominate (measured ~2× on the bench corpora). ``_prev``
    carries the round-entry label so convergence is a filter on the
    SAME checkpointed frame (no old/new compare join). Deterministic:
    min is order-independent.

    r14 (optimization): each round ends with one POINTER-DOUBLING step
    — label ← min(label, entry_label[label]), the hash-min path
    compression of Rastogi et al., "Finding Connected Components in
    MapReduce and Beyond". Labels always hold node ids (induction from
    label₀ = id), so a node-sized lookup join composes reachability:
    if round-entry labels cover distance D, the two propagation
    substeps reach D+2 and the compression step composes to 2D+2 —
    geometric, so the round count drops from O(diameter) to
    O(log diameter). The LUT side is the ROUND-ENTRY (already
    checkpointed) label frame, NOT the in-flight post-substep plan: a
    LUT projected off the lazy `cur` plan would recompute the whole
    2-substep propagation subtree a second time per round (measured
    +20% on dup_clusters — the first r14 attempt), while the entry
    frame is materialized and free to re-join. The fixpoint is
    untouched: entry labels are component-member ids and label(w) ≤ w
    (labels non-increasing from id), so compression preserves both
    loop invariants, and the convergence test is the same "no change
    across the whole round" filter — unchanged ⇒ in particular
    propagation-stable ⇒ every label already equals its component min.

    ``edges`` is taken as directed input and symmetrized here; ``nodes``
    is one column ``id_col`` (isolated nodes label themselves).
    Output: (id_col, cluster).
    """
    # r14: symmetrize via explode, not self-union — the union form
    # evaluated the (often iterative-pair-derivation) edge subtree
    # twice inside this one checkpoint job (see symmetrize()).
    both = symmetrize(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")),
        src="_src",
        dst="_dst",
    )
    both = both.localCheckpoint(eager=True)
    labels = (
        nodes.select(F.col(id_col).alias("_id"))
        .distinct()
        .withColumn("_label", F.col("_id"))
        .localCheckpoint(eager=True)
    )
    # each round's checkpoint supersedes the last: release the old one
    # once the new one is materialized, so only the result's stays
    # persisted, for the caller to release from the result's plan
    ckpt = labels
    rounds = 0
    for _round in range(max_iter):
        rounds += 1
        cur = labels.select("_id", "_label", F.col("_label").alias("_prev"))
        for _sub in range(2):
            nbr_min = (
                both.join(cur, both["_dst"] == cur["_id"])
                .groupBy("_src")
                .agg(F.min("_label").alias("_nbr"))
            )
            cur = cur.join(nbr_min, cur["_id"] == nbr_min["_src"], "left").select(
                F.col("_id"),
                F.least(
                    F.col("_label"), F.coalesce(F.col("_nbr"), F.col("_label"))
                ).alias("_label"),
                F.col("_prev"),
            )
        if _round > 0:
            # pointer doubling (docstring): the LUT is the round-ENTRY
            # label frame — already materialized by last round's
            # checkpoint, so this lookup join never recomputes the
            # propagation subtree. Round 0's entry labels are the
            # identity (label₀ = id), where the compression is a no-op
            # — skip the join there.
            lut = labels.select(
                F.col("_id").alias("_l_id"), F.col("_label").alias("_l_lbl")
            )
            cur = cur.join(lut, cur["_label"] == lut["_l_id"], "left").select(
                F.col("_id"),
                F.least(
                    F.col("_label"),
                    F.coalesce(F.col("_l_lbl"), F.col("_label")),
                ).alias("_label"),
                F.col("_prev"),
            )
        new_labels = cur.localCheckpoint(eager=True)
        release_plan_caches(ckpt)
        ckpt = new_labels
        changed = (
            new_labels.filter(F.col("_label") != F.col("_prev")).limit(1).count()
        )
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    release_plan_caches(both)
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = rounds
    return labels.select(
        F.col("_id").alias(id_col), F.col("_label").alias("cluster")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Minimum-hop distance from a seed set over a directed edge list,
    bounded by ``max_hops`` — frontier-expansion BFS as DataFrame ops.

    Each round joins ONLY the current frontier (not the visited set)
    against the edge list, anti-joins out already-visited nodes, and
    unions into the visited frame — O(edges touched) per round, round
    count fixed. ``localCheckpoint`` per round keeps the plan flat
    exactly like the CC / PageRank loops. All outputs are exact
    integers.

    ``seeds``: one column named ``node``. Output: (node, hops).
    """
    # the edge frame is loop-invariant and often derives from a fact
    # join — cache it so each hop's jobs don't re-run that derivation
    # (pre-fix, 3 hops re-ran the orders⋈lineitem distinct 3×)
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).distinct().cache()
    visited = (
        seeds.select("node").distinct().withColumn("hops", F.lit(0)).localCheckpoint()
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        # every leaf of this union is already materialized (seed + nxt
        # checkpoints), so the union plan stays flat without its own
        # checkpoint — re-checkpointing it was one pure-overhead job/hop
        visited = visited.unionByName(nxt)
        frontier = nxt
    e.unpersist()
    return visited


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle count over an UNDIRECTED simple graph (input:
    one row per edge in either orientation; self-loops and duplicate
    orientations are normalized away).

    Algorithm: canonicalize every edge to (lo, hi) with lo < hi and
    count each triangle once as an ordered wedge-close: edges (a,b),
    (b,c) with a<b<c close iff (a,c) is an edge. Two equi-joins — the
    wedge join on the shared middle vertex b, the closing join on
    (a,c) — no pair space beyond actual wedges. The a<b<c ordering is
    the standard degeneracy trick that keeps every triangle's wedge
    count at exactly one (no /3 correction, no double counting), and
    bounds wedge fan-out by the FORWARD degree, which orientation by
    vertex id keeps near-average for non-adversarial graphs (a
    power-law hub graph wants degree-ordering instead — same plan, sort
    key swapped).

    Output: (node, n_triangles) for every node in ≥1 triangle.

    The canonical edge frame feeds BOTH sides of the wedge join AND the
    closing join (three consumers), so it is cached — otherwise the
    whole upstream derivation (often a heavy fact-table self-join) re-
    runs up to 5×. The returned plan is lazy and reads the cache, so
    callers release it with ``release_plan_caches`` after materializing.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .cache()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").filter(F.col("y") < F.col("z"))
    closing = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = wedges.join(closing, ["x", "z"])
    per_corner = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_corner
