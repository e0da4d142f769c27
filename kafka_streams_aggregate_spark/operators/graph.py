"""Distributed graph analytics: deterministic fixed-point PageRank.

Companion to the connected-components min-label propagation in
``operators/dedup.py`` — together they cover the two graph primitives a
training-data pipeline needs (duplicate clustering, and authority
scoring to pick the canonical document / entity in a cluster).

Determinism design (same trick as the IVF k-means coarse quantizer in
``operators/similarity.py``): ranks are exact fixed-point BIGINTs
at scale 1e12 and every per-edge contribution is an integer division
``(85 * rank) div (100 * out_degree)``. Integer sums are
order-independent, so each iteration — and therefore the whole run —
is bit-reproducible under any partitioning and exactly mirrored by an
unrolled SQL oracle. The truncation "leaks" a bounded sub-ulp of rank
mass per edge per iteration; the scale makes that loss < 1e-12 of
total mass, and both engines leak identically.

Dangling nodes (no out-edges) keep their teleport share and simply do
not redistribute — the standard simplified treatment; documented
rather than hidden.

Scale shape: each iteration is one equi-join ranks->edges on the
source id plus one groupBy on the destination id — the classic
join/agg PageRank found in every large-scale engine. The edge list is
materialized once, hash-partitioned on the JOIN key (src): ranks come
out of each iteration partitioned on nid (= src values), so the
per-round join needs no exchange on either side and the only shuffle
per iteration is the map-side-combined incoming-sum. Lineage is
truncated per iteration with localCheckpoint so the plan stays flat at
high iteration counts; only scalar counts ever reach the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # fixed-point rank scale (1.0 == 1e12)


def pagerank_fixed_point(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Deterministic PageRank: ``iterations`` rounds of
    ``rank = 15%*teleport + 85%*incoming``, all in exact BIGINT
    fixed-point. Returns (id, rank_fp) with sum(rank_fp) <= SCALE.

    ``edges`` must be directed (emit both directions for an undirected
    graph) and deduplicated; ``nodes`` is the full vertex set (superset
    of edge endpoints, so isolated vertices keep teleport rank).
    """
    n_nodes = nodes.count()
    # Materialize the edge list once, with the source out-degree folded
    # in: every iteration joins it, and without this the (possibly
    # expensive) edge derivation — e.g. a distinct co-occurrence
    # self-join — re-executes per round and the degree join repeats
    # 'iterations' times. The degree is a count() window over src, not
    # a groupBy+join: one shuffle computes it AND leaves the edges
    # hash-partitioned on src — the join key — so no per-iteration
    # exchange of the (big) edge side.
    edges = (
        edges.withColumn(
            "deg",
            F.count(F.lit(1)).over(Window.partitionBy(src_col)).cast("bigint"),
        )
        .localCheckpoint(eager=False)
    )
    # The full vertex set is re-joined every round (teleport for nodes
    # with no incoming edges); partition it on nid once instead of
    # re-scanning + re-shuffling the source table per iteration.
    nodes_p = (
        nodes.select(F.col(id_col).alias("nid"))
        .repartition(F.col("nid"))
        .localCheckpoint(eager=False)
    )
    init = F.lit(SCALE // n_nodes).cast("bigint")
    teleport = F.lit((15 * (SCALE // n_nodes)) // 100).cast("bigint")

    ranks = nodes_p.select("nid", init.alias("rank_fp"))
    # Merge-join hints on both per-iteration joins: ranks and nodes are
    # O(vertex count) — broadcasting them is a small-input artifact AQE
    # would pick locally but that OOMs the driver at scale (and even
    # locally: iterations x broadcast builds accumulate on a default-
    # sized driver heap). Both joins are between sides already hash-
    # partitioned on the join key, so SMJ here is sort-only, exchange-
    # free.
    for _ in range(iterations):
        contrib = (
            ranks.join(edges.hint("merge"), ranks["nid"] == edges[src_col])
            .select(
                F.col(dst_col).alias("nid"),
                F.expr("(85 * rank_fp) div (100 * deg)")
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("nid")
            .agg(F.sum("c").cast("bigint").alias("incoming"))
        )
        ranks = (
            nodes_p.join(contrib.hint("merge"), "nid", "left")
            .select(
                "nid",
                (teleport + F.coalesce(F.col("incoming"), F.lit(0)))
                .cast("bigint")
                .alias("rank_fp"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("nid").alias(id_col), "rank_fp")


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection, Raghavan et al. 2007): every node starts as its own
    label; each round every node adopts the most frequent label among
    its neighbors, ties broken by SMALLEST label — the determinism
    rule that makes the fixed round count reproducible under any
    partitioning (vanilla LPA's random tie-break is not
    cross-engine-comparable). Synchronous update: round k+1 reads only
    round k's labels.

    Scale shape: per round ONE shuffle join (edges x labels on src)
    + one (dst, label) count aggregate + one per-node argmin-argmax
    window-free reduction via max_by over (count, -label) — state is
    one label per node, edges are reused from a checkpoint, and the
    label frame is checkpointed per round to cut the lineage (same
    rule as pagerank_fixed_point above). Bounded rounds, not
    convergence-tested — the contract a 100 TB run can budget.
    Expects edges pre-symmetrized; returns (node, label).

    The edge frame is lineage-cut at entry (round-12; the r11
    closeness lesson — the caller's edge derivation re-executes per
    round otherwise: the registered co-occurrence build alone costs
    seconds, and interleaved A/B at sf0.1 measured 7.8 -> 4.8s
    best-of-3 with the cut).
    """
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        neigh = (
            edges.join(
                labels.withColumnRenamed("node", src_col), src_col
            )
            .groupBy(F.col(dst_col).alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # most frequent neighbor label, smallest label on ties:
        # max_by over the lexicographic (n, -label) pair
        labels = (
            neigh.groupBy("node")
            .agg(
                F.expr("max_by(label, struct(n, -label))").alias("label")
            )
            .localCheckpoint(eager=True)
        )
        # isolated nodes (none here: edges are symmetrized) would keep
        # their own label via a left join; nodes frame pins membership
        labels = nodes.join(labels, "node", "left").select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )
    return labels


def hits_scores(edges: DataFrame, iters: int = 2) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999), UNNORMALIZED, fixed
    iteration count — the mutual-reinforcement centrality PageRank
    doesn't give (a node can be a great *hub* without being an
    *authority*). Unnormalized HITS from an all-ones start is pure
    integer arithmetic: after t iterations, auth(v) counts the
    alternating forward/backward paths of the matrix power (A^T A)^...
    — so every score is an EXACT int64 and the whole run is
    bit-reproducible under any partitioning and exactly mirrored by an
    unrolled SQL oracle (the same determinism design as the
    fixed-point PageRank above, without even needing fixed-point: no
    division occurs). Normalization, when a consumer wants it, is a
    single final divide by the max — done OUTSIDE the compared
    columns. Magnitude bound: scores grow like (max degree)^(2*iters);
    with iters=2 and degree <= ~1e3 that is <= ~1e12 — document before
    raising iters.

    ``edges``: directed (src, dst), deduped. Each iteration is two
    equi-join + groupBy-sum rounds (auth over incoming hubs, hub over
    outgoing auths) — the Pregel shape, linear in |E| per round.

    Output: (node, hub, auth) BIGINT, one row per node appearing as
    src or dst (isolated endpoints score 0 on the missing side).
    """
    if iters < 1:
        raise ValueError("hits_scores: iters must be >= 1")
    # The edge subtree feeds 2*iters joins plus the node derivation —
    # well past the N>=3 recompute threshold (CLAUDE.md): checkpoint
    # once so an expensive upstream build (collect_set explode + dedup)
    # is not re-executed per iteration. Same for the node set (2*iters
    # + 2 consumers).
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = nodes.select("node", F.lit(1).cast("bigint").alias("h"))
    a = None
    for _ in range(iters):
        a = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        a = (
            nodes.join(a, "node", "left")
            .select("node", F.coalesce("a", F.lit(0)).cast("bigint").alias("a"))
            .localCheckpoint(eager=True)
        )
        h = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy(edges["src"].alias("node"))
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        h = (
            nodes.join(h, "node", "left")
            .select("node", F.coalesce("h", F.lit(0)).cast("bigint").alias("h"))
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("auth"))
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
) -> DataFrame:
    """Earliest-arrival TEMPORAL reachability (Wu et al., VLDB 2014):
    a path is valid only if edge timestamps are nondecreasing along it
    — the traversal static BFS gets WRONG on any time-stamped graph
    (an edge that departed before you arrived is not usable). Returns,
    per node reachable within ``hops``, the minimum arrival time.

    ``edges``: (src, dst, ts) with integer timestamps (epoch days per
    the repo's date-arithmetic rule); ``seeds``: (node, arrival).

    Correctness of the per-round min fold: earlier arrival DOMINATES —
    every continuation feasible from arrival t' >= t (edges need
    ts >= arrival) is feasible from t, so keeping only each node's
    minimum arrival per frontier round loses no reachable node and no
    earlier arrival; the oracle's recursive CTE explores ALL
    (node, arrival) pairs and MINs at the end, landing on the same
    values. All comparisons are exact int64.

    Scale shape: ``hops`` rounds of one equi-join on src + one
    min-groupBy — the Pregel frontier shape, linear in |E| per round;
    lineage truncated per round. The reached set is NOT broadcast (it
    is graph-sized in the worst case) — the join shuffles on src,
    matching the edge list's partitioning.
    """
    # r16-opt: lineage-cut the EDGE side too (the round-11 closeness
    # lesson) — every hop round consumes e, and without the cut each
    # round re-derived the caller's whole edge build (join +
    # collect_set + double explode + dedupe for the co-purchase
    # graph). Interleaved A/B at sf0.1: best 5.41 -> 3.23s, opt side
    # steady 3.2-3.6s across 5 reps vs 5.4-16.3 plain.
    e = edges.select(
        "src", "dst", F.col("ts").cast("bigint").alias("ts")
    ).localCheckpoint(eager=True)
    reached = seeds.select(
        "node", F.col("arrival").cast("bigint").alias("arrival")
    ).localCheckpoint(eager=True)
    for _ in range(hops):
        nxt = (
            reached.join(e, reached["node"] == e["src"])
            .where(F.col("ts") >= F.col("arrival"))
            .select(F.col("dst").alias("node"), F.col("ts").alias("arrival"))
        )
        reached = (
            reached.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("arrival").cast("bigint").alias("arrival"))
            .localCheckpoint(eager=True)
        )
    return reached


def triangle_counts(edges: DataFrame, topk: int = 100) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED graph
    given as its canonical directed form (src < dst, deduplicated) —
    the clustering-coefficient numerator and the classic graph-quality
    metric.

    Algorithm: wedge join — for every wedge (a<b, b<c) probe the
    closing edge (a<c). With edges canonically ordered this
    enumerates each triangle exactly once (the compact-forward
    scheme), so per-node counts are each triangle counted once per
    corner. Two equi-joins, both on edge keys; no node ever sees more
    than its degree² wedges (the standard bound; degree-ordering the
    canonical form caps the worst case at scale).

    Output: top-k nodes by (n_triangles DESC, node ASC) — total
    order. Exact int64 counts.
    """
    a = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    b = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = (
        a.join(b, "b")
        .join(closing, ["a", "c"])
        .select("a", "b", "c")
    )
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    w = Window.orderBy(F.col("n_triangles").desc(), F.col("node").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
    )


def link_prediction_ra(
    edges: DataFrame, topk: int = 100, scale: int = 10**9
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lu, Zhang 2009) —
    score NON-adjacent pairs by how much 'resource' their common
    neighbors forward: RA(a,b) = sum over z in N(a) ∩ N(b) of
    1/deg(z). RA is the common-neighbor family member that needs no
    logarithm (Adamic-Adar's ln(deg) is the repo's banned
    transcendental), so the exact-integer surrogate
    ``scale div deg(z)`` summed in int64 is cell-exact cross-engine.

    Input: canonical directed edges (src < dst, deduplicated).
    Shape: symmetrize once, one degree aggregate, a wedge self-join
    on the hub z (volume = sum deg(z)^2 — the same bound the
    triangle counter documents; support-cut edges keep it
    near-linear), an anti-join against existing edges, and one
    top-k. Output: (node_a, node_b, n_common, ra_scaled, rank) with
    node_a < node_b, rank 1..topk by (ra_scaled DESC, a, b).
    """
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    za = sym.select(F.col("src").alias("z"), F.col("dst").alias("node_a"))
    zb = sym.select(F.col("src").alias("z"), F.col("dst").alias("node_b"))
    wedges = (
        za.join(zb, "z")
        .where(F.col("node_a") < F.col("node_b"))
        .join(deg, "z")
    )
    scored = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.expr(f"{scale} div deg")).cast("bigint").alias("ra_scaled"),
    )
    nonedges = scored.join(
        edges.select(
            F.col("src").alias("node_a"), F.col("dst").alias("node_b")
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
    w = Window.orderBy(
        F.col("ra_scaled").desc(), F.col("node_a").asc(), F.col("node_b").asc()
    )
    return (
        nonedges.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
    )


def bipartite_projection(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    min_support: int = 2,
    topk: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite relation (e.g.
    customer x part purchases) onto the right-hand side — the
    "bought X also bought Y" graph a recommender pipeline starts
    from: for parts a < b, weight = n_ab / sqrt(n_a * n_b) (cosine
    normalization — the raw co-count over-ranks popular items).

    Exactness: n_ab, n_a, n_b are exact int64; the weight is one
    int64 multiply + one sqrt (IEEE-exact) + one divide, identically
    spelled cross-engine — bit-equal doubles, totally ordered by
    (weight DESC, a, b). ``min_support`` prunes singleton co-counts
    BEFORE the weight computation.

    ``max_degree`` (round-12, the r11 verdict's hot-key fix) caps the
    deg² self-join fan-out BEFORE pair generation: left keys with
    more than ``max_degree`` distinct right items are DROPPED from
    the projection — the operators/dedup.py shingle df-cap pattern
    (a 10^4-part power customer would emit 10^8 pairs from ONE key at
    100x scale; its co-purchases are weak preference signal exactly
    because it buys everything — dropping it is the standard,
    documented co-occurrence approximation). The dropped-key count is
    emitted as the constant ``n_capped`` audit column (1-row
    broadcast) so the approximation self-reports; sizes/co-counts are
    all computed on the capped relation (internally consistent
    cosine). With ``max_degree=None`` the audit column is omitted and
    behavior is unchanged.

    Input ``pairs`` must be DISTINCT (left, right) tuples, and with
    ``max_degree`` set their left keys must be non-null: the degree
    window groups NULL left keys together and keeps them while the
    group is under the cap. Output:
    (item_a, item_b, n_common, n_a, n_b, weight, rank[, n_capped]).
    """
    lc, rc = left_col, right_col
    # r16-opt (the N>=3-consumers rule): this operator fans ``pairs``
    # out to deg/cap-audit/sizes/a/b — without a lineage cut the
    # caller's pair-build subtree replays per consumer (measured on
    # q_bipartite_projection's orders-x-lineitem distinct: NINE scans
    # of each base table with no cut). The materialized frame is the
    # distinct bipartite relation itself — bounded by the input.
    #
    # r17-opt (guide §2.4, the r16 verdict's item 1): the degree CAP is
    # a count() WINDOW over the left key folded into the checkpointed
    # frame, not a groupBy + join back — the r16 plan replayed the
    # deg-aggregate + cap-SMJ once per downstream consumer (sizes/a/b/
    # audit, ~4x) off the entry checkpoint, and each replay compiled
    # its own whole-stage-codegen class: interleaved fresh-JVM A/B at
    # sf0.1 measured cold 19.6-21.6s (join-cap) vs 12.5-13.5s
    # (window-cap) with warm within ~1s of each other. The cap filter
    # downstream of the checkpoint is a plain predicate — nothing
    # replays. (localCheckpoint pins the pair relation to executor
    # storage: bounded by the input relation, the operator's peak
    # storage term.)
    pairs = pairs.select(lc, rc)
    capped_1row = None
    if max_degree is not None:
        pw = pairs.withColumn(
            "_deg",
            F.count(F.lit(1)).over(Window.partitionBy(lc)).cast("bigint"),
        ).localCheckpoint(eager=True)
        capped_1row = (
            pw.where(F.col("_deg") > max_degree)
            .select(lc)
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_capped"))
        )
        pairs = pw.where(F.col("_deg") <= max_degree).select(lc, rc)
    else:
        pairs = pairs.localCheckpoint(eager=True)
    sizes = pairs.groupBy(rc).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    a = pairs.select(F.col(lc).alias("_l"), F.col(rc).alias("item_a"))
    b = pairs.select(F.col(lc).alias("_l"), F.col(rc).alias("item_b"))
    co = (
        a.join(b, "_l")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .where(F.col("n_common") >= min_support)
    )
    sa = sizes.select(F.col(rc).alias("item_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col(rc).alias("item_b"), F.col("_n").alias("n_b"))
    weighted = (
        co.join(sa, "item_a")
        .join(sb, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("weight"),
        )
    )
    w = Window.orderBy(
        F.col("weight").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    )
    out = weighted.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= topk)
    if capped_1row is not None:
        out = out.crossJoin(F.broadcast(capped_1row))
    return out


def closeness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Closeness centrality from SAMPLED seed nodes within a bounded
    hop radius — the tractable form for a 100 TB graph (exact
    closeness needs all-pairs shortest paths; the standard estimator
    [Eppstein-Wang 2001] runs BFS from a seed sample, and bounding the
    radius caps every round's frontier).

    ``edges``: directed (src, dst), unit weight; ``seeds``: (seed)
    rows. Multi-source BFS carries (seed, node, dist) state: each of
    ``hops`` rounds is one equi-join on src + one min-dist groupBy per
    (seed, node) — the Pregel frontier shape, linear in |E| per round,
    lineage cut per round. State is seeds x reached (NOT broadcast:
    worst case |seeds| * |V|); the join shuffles on the edge key.

    The per-round min fold is exact for unit weights: BFS level order
    means a node's first discovery distance is final; keeping the
    min per round loses nothing the oracle's full recursive
    enumeration would find within the same hop bound.

    Output per seed (all exact int64): n_reached (EXCLUDING the seed
    itself), dist_sum, and the bounded-radius closeness
        closeness_ppm = (scale * n_reached) div dist_sum
    (inverse average distance, scaled; NULL when nothing is reached).
    Unreachable-node penalty variants recompose from (n_reached,
    dist_sum) without re-running the BFS.
    """
    # The edge list feeds one join PER HOP — without a lineage cut a
    # caller's expensive derivation (e.g. the registered query's
    # lineitem DISTINCT + symmetrize) re-executes every round (the
    # CLAUDE.md N>=3-consumers rule). Measured at sf0.1 (20 seeds,
    # hops=3): 18.9s -> 6.8s.
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    reached = (
        seeds.select(
            F.col("seed"),
            F.col("seed").alias("node"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .dropDuplicates(["seed"])
        .localCheckpoint(eager=True)
    )
    for _ in range(hops):
        nxt = (
            reached.join(e, reached["node"] == e["src"])
            .select(
                "seed",
                F.col("dst").alias("node"),
                (F.col("dist") + 1).cast("bigint").alias("dist"),
            )
        )
        reached = (
            reached.unionByName(nxt)
            .groupBy("seed", "node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .localCheckpoint(eager=True)
        )
    per_seed = (
        reached.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum("dist").cast("bigint").alias("dist_sum"),
        )
    )
    return per_seed.select(
        "seed",
        "n_reached",
        "dist_sum",
        F.expr(f"CAST(({scale} * n_reached) div dist_sum AS BIGINT)").alias(
            "closeness_ppm"
        ),
    )


def degree_assortativity(edges: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002) —
    do high-degree nodes attach to other hubs (r > 0, social-network
    shape) or to leaves (r < 0, internet/dependency shape)? THE
    one-number topology fingerprint after the degree distribution.

    r = Pearson correlation of endpoint degrees over the SYMMETRIZED
    edge list (each undirected edge contributes both (d_u, d_v) and
    (d_v, d_u) — the standard convention, which also makes
    sum_x == sum_y by construction; the operator keeps both sums so
    the oracle needs no such reasoning):

        r = (M*Sxy - Sx*Sy) / (sqrt(M*Sxx - Sx^2) * sqrt(M*Syy - Sy^2))

    Every S-term is an exact int64 (bound: M * max_deg^2 < 2^63); the
    float tail is the fixed chain cast->sqrt, cast->sqrt, multiply,
    divide — sqrt is IEEE-exact, so the whole chain is bit-equal
    cross-engine. A degree-regular graph (zero variance) reports NULL.

    Shape: one degree aggregate + two degree joins onto the edge list
    (degree table keyed like the edges' own shuffle) + one scalar
    aggregate. Output: one row (m, sum_x, sum_y, sum_xy, sum_x2,
    sum_y2, assortativity).
    """
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    paired = (
        sym.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed(
                "deg", "dy"
            ),
            "dst",
        )
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sum_x"),
        F.sum("dy").cast("bigint").alias("sum_y"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sum_xy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sum_x2"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("sum_y2"),
    )
    return agg.select(
        "m",
        "sum_x",
        "sum_y",
        "sum_xy",
        "sum_x2",
        "sum_y2",
        F.when(
            (F.expr("m * sum_x2 - sum_x * sum_x") > 0)
            & (F.expr("m * sum_y2 - sum_y * sum_y") > 0),
            F.expr(
                "CAST(m * sum_xy - sum_x * sum_y AS DOUBLE)"
                " / (sqrt(CAST(m * sum_x2 - sum_x * sum_x AS DOUBLE))"
                " * sqrt(CAST(m * sum_y2 - sum_y * sum_y AS DOUBLE)))"
            ),
        ).alias("assortativity"),
    )


def ktruss(edges: DataFrame, k: int = 4, rounds: int = 3) -> DataFrame:
    """Bounded-round k-truss decomposition (Cohen 2008) — the
    EDGE-centric cohesion filter one notch stronger than k-core: keep
    only edges participating in >= k-2 triangles AMONG KEPT EDGES,
    iterated to the fixed point. Trusses are the standard
    community-core extractor where k-core over-admits (a hub with
    many leaves is high-core but zero-truss).

    ``edges``: canonical undirected form (src < dst, deduplicated).
    Each round: one wedge self-join (the compact-forward triangle
    enumeration — every triangle found exactly once as a<b<c), a
    per-edge support count (each triangle credits its three edges),
    and a peel; lineage cut per round. ``rounds`` is bounded (the
    k-core scoping rule) and the LAST round's support is recomputed
    on the survivor set, so ``converged`` (min support >= k-2 over
    survivors) is DATA-COMPUTED — under-peeling at bigger scale
    self-reports instead of lying.

    Output: surviving edges (src, dst, support, converged) — exact
    int64 support; empty when the truss is empty (then trivially
    converged).
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)

    def _support(cur: DataFrame) -> DataFrame:
        x = cur.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        y = cur.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        z = cur.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        tris = x.join(y, "b").join(z, ["a", "c"]).select("a", "b", "c")
        sides = (
            tris.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(
                tris.select(F.col("b").alias("src"), F.col("c").alias("dst"))
            )
            .unionAll(
                tris.select(F.col("a").alias("src"), F.col("c").alias("dst"))
            )
        )
        counts = sides.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("bigint").alias("support")
        )
        return cur.join(counts, ["src", "dst"], "left").select(
            "src",
            "dst",
            F.coalesce(F.col("support"), F.lit(0))
            .cast("bigint")
            .alias("support"),
        )

    thresh = k - 2
    for _ in range(rounds):
        e = (
            _support(e)
            .where(F.col("support") >= thresh)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    final = _support(e)
    min_support = final.agg(
        F.coalesce(F.min("support"), F.lit(thresh)).alias("ms")
    )
    return final.crossJoin(F.broadcast(min_support)).select(
        "src",
        "dst",
        "support",
        (F.col("ms") >= thresh).alias("converged"),
    )


def dyad_census(edges: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Holland–Leinhardt dyad census of a DIRECTED graph — the
    first-order structural health check before any directed analysis
    (HITS, PageRank): of all ordered node pairs that interact, how
    many are MUTUAL (both directions), how many ASYMMETRIC (one), and
    what fraction of arcs are reciprocated?

        reciprocity_ppm = (scale * 2 * n_mutual_pairs) div n_arcs

    Exact construction without a self-join: canonicalize each arc to
    its unordered pair (lo, hi) + a direction bit, then ONE groupBy
    counts distinct directions per pair — mutual iff both bits
    present. Null dyads (never-interacting pairs, the census's third
    class) are reported as the closed-form remainder
    n_nodes*(n_nodes-1)/2 - interacting_pairs rather than
    materialized (at 100 TB the null class is ~all pairs — counting
    it by enumeration is the classic quadratic trap).

    Self-loops are dropped (a dyad is two distinct nodes); duplicate
    arcs collapse. Output: one row (n_nodes, n_arcs, n_mutual,
    n_asymmetric, n_null, reciprocity_ppm).
    """
    arcs = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    pairs = arcs.select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        (F.col("src") < F.col("dst")).cast("int").alias("fwd"),
    )
    per_pair = pairs.groupBy("lo", "hi").agg(
        F.countDistinct("fwd").cast("bigint").alias("n_dirs")
    )
    nodes = (
        arcs.select(F.col("src").alias("node"))
        .unionAll(arcs.select(F.col("dst").alias("node")))
        .distinct()
        .count()
    )
    agg = per_pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("interacting"),
        F.coalesce(
            F.sum(F.when(F.col("n_dirs") == 2, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_mutual"),
    )
    return agg.select(
        F.lit(nodes).cast("bigint").alias("n_nodes"),
        F.expr("CAST(interacting + n_mutual AS BIGINT)").alias("n_arcs"),
        "n_mutual",
        F.expr("CAST(interacting - n_mutual AS BIGINT)").alias(
            "n_asymmetric"
        ),
        F.expr(
            f"CAST(CAST({nodes} AS BIGINT) * CAST({max(nodes - 1, 0)}"
            " AS BIGINT) div 2 - interacting AS BIGINT)"
        ).alias("n_null"),
        F.when(
            F.expr("interacting + n_mutual > 0"),
            F.expr(
                f"CAST(({scale} * 2 * n_mutual)"
                " div (interacting + n_mutual) AS BIGINT)"
            ),
        ).alias("reciprocity_ppm"),
    )


def link_prediction_jaccard(
    edges: DataFrame, topk: int = 100, scale: int = 1_000_000
) -> DataFrame:
    """Jaccard-coefficient link prediction — the normalized companion
    of ``link_prediction_ra``: score non-adjacent pairs by neighbor
    overlap J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — exact integer
    ppm via ``scale * common div (deg_a + deg_b - common)``; unlike
    RA it penalizes hub-heavy pairs, so the two scorers disagree
    exactly where hubs dominate (the reason to ship both).

    Input: canonical directed edges (src < dst, deduplicated).
    Shape: the same bounded wedge join as RA (volume sum deg(z)²) +
    two degree joins on the PAIR table (never data-sized), anti-join
    against existing edges, total-ordered top-k via sort+limit
    (TakeOrderedAndProject: per-partition heaps, no single-partition
    global window over the pair table; rank is assigned on the k
    survivors). The edge frame feeds >= 5 consumers (sym twice, the
    wedge's two sides, degrees, the anti-join) and its derivation is
    the expensive subtree when the caller passes a co-occurrence
    self-join — the N>=3-consumers lineage cut applies (measured at
    sf0.1: the co-purchase edge build alone is 3.6s; uncheckpointed
    the query pays it repeatedly, 7.7 -> ~4s)."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    za = sym.select(F.col("src").alias("z"), F.col("dst").alias("node_a"))
    zb = sym.select(F.col("src").alias("z"), F.col("dst").alias("node_b"))
    common = (
        za.join(zb, "z")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    nonedges = common.join(
        edges.select(
            F.col("src").alias("node_a"), F.col("dst").alias("node_b")
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
    scored = (
        nonedges.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                f"CAST(({scale} * n_common) div (deg_a + deg_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    top = scored.orderBy(
        F.col("jaccard_ppm").desc(),
        F.col("node_a").asc(),
        F.col("node_b").asc(),
    ).limit(topk)
    w = Window.orderBy(
        F.col("jaccard_ppm").desc(),
        F.col("node_a").asc(),
        F.col("node_b").asc(),
    )
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def clustering_coefficient(
    edges: DataFrame, topk: int = 100, scale: int = 1_000_000
) -> DataFrame:
    """Local clustering coefficient per node — how close each node's
    neighborhood is to a clique: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1))
    in exact integer ppm; the node-level texture metric that k-core
    and k-truss summarize structurally.

    Triangles per corner come from the compact-forward wedge join
    (each triangle once, then counted at all three corners — the
    ``triangle_counts`` machinery); degrees from one symmetrized
    aggregate. Nodes of degree < 2 report NULL (coefficient
    undefined). Output: top-k by (cc_ppm DESC, deg DESC, node ASC) —
    total order, NULLs excluded by the rank predicate.

    The edge frame feeds 5 consumers (three triangle sides + sym
    twice) — the N>=3-consumers lineage cut applies when the caller
    passes an expensive co-occurrence derivation."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    a = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    b = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = a.join(b, "b").join(closing, ["a", "c"]).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    tcounts = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    joined = deg.join(tcounts, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
            "n_triangles"
        ),
    )
    scored = joined.select(
        "node",
        "deg",
        "n_triangles",
        F.expr(
            f"CASE WHEN deg >= 2 THEN CAST(({scale} * 2 * n_triangles)"
            " div (deg * (deg - 1)) AS BIGINT) END"
        ).alias("cc_ppm"),
    ).where(F.col("cc_ppm").isNotNull())
    w = Window.orderBy(
        F.col("cc_ppm").desc(), F.col("deg").desc(), F.col("node").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
    )


def ppr_seeds(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "seed",
) -> DataFrame:
    """Personalized PageRank toward a seed set — the recommendation /
    similarity-to-cohort twin of ``pagerank_fixed_point``, same exact
    BIGINT fixed-point discipline (teleport 15%, damping 85%, integer
    division per hop — no float accumulation order to disagree on):

        rank_0(v)   = SCALE div n_seeds          if v is a seed, else 0
        rank_t+1(v) = is_seed(v) * (15 * (SCALE div n_seeds)) div 100
                      + sum over in-edges (85 * rank_t(u)) div (100 * deg(u))

    Mass leaks at dangling nodes and by integer floor — both engines
    floor identically, so results are cell-exact. Only nodes with
    nonzero rank are emitted (frontier-sized, not graph-sized, for
    few iterations — the 100 TB point: state grows with the explored
    ball, not the vertex set).

    ``edges`` directed + deduplicated (symmetrize for undirected);
    one scalar count() of the DISTINCT seed set reaches the driver
    (round-12 fix: counting the raw frame made duplicate seed rows
    skew init/teleport mass relative to the documented
    rank_0 = SCALE div n_seeds per distinct seed)."""
    seeds_p = (
        seeds.select(F.col(seed_col).alias("nid"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    n_seeds = seeds_p.count()
    if n_seeds == 0:
        raise ValueError("ppr_seeds: empty seed set")
    edges = edges.withColumn(
        "deg",
        F.count(F.lit(1)).over(Window.partitionBy(src_col)).cast("bigint"),
    ).localCheckpoint(eager=False)
    init = SCALE // n_seeds
    teleport = (15 * init) // 100
    ranks = seeds_p.select("nid", F.lit(init).cast("bigint").alias("rank_fp"))
    for _ in range(iterations):
        contrib = (
            ranks.join(edges, ranks["nid"] == edges[src_col])
            .select(
                F.col(dst_col).alias("nid"),
                F.expr("(85 * rank_fp) div (100 * deg)")
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("nid")
            .agg(F.sum("c").cast("bigint").alias("incoming"))
        )
        ranks = (
            contrib.join(
                seeds_p.select("nid", F.lit(1).alias("is_seed")), "nid", "full"
            )
            .select(
                "nid",
                (
                    F.coalesce(F.col("is_seed"), F.lit(0)).cast("bigint")
                    * F.lit(teleport).cast("bigint")
                    + F.coalesce(F.col("incoming"), F.lit(0)).cast("bigint")
                ).alias("rank_fp"),
            )
            .where(F.col("rank_fp") > 0)
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("nid").alias("node"), "rank_fp")


def modularity_score(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str = "node",
    label_col: str = "community",
    scale: int = 1_000_000,
) -> DataFrame:
    """Newman modularity of a node partition over an undirected graph
    — the standard "is this community structure better than chance?"
    audit for any clustering/LPA/attribute partition. With m = |E|
    (undirected), m_c = intra-community edges, D_c = sum of degrees
    of community members, every community's contribution collapses to
    ONE exact rational over the common denominator 4m²:

        Q = sum_c (4*m*m_c - D_c^2) / (4*m^2)

    so per-community contributions AND the global Q are exact
    integer divisions (ppm-scaled, floor leak identical
    cross-engine). The scale-multiplied numerator
    scale * (4*m*m_c - D_c^2) is bounded by 4e6 * m^2 — past int64 at
    m ~ 1.5e6 edges — so it is accumulated on DECIMAL(38,0) (the
    ANOVA-tail pattern; DuckDB widens to HUGEINT natively): exact to
    m ~ 1.5e15 edges, far past any real graph.

    ``edges``: one row per undirected edge (src < dst convention not
    required but rows must be unique edges, no symmetrization).
    ``labels``: (node, community), one row per node. Edges whose
    endpoint has no label are dropped (audited via n_unlabeled... the
    caller guarantees total labeling here — both registered inputs
    label every node). Output: one row per community
    (community, n_nodes, m_intra, degree_sum, contrib_ppm) plus the
    constant global q_ppm column (1-row broadcast)."""
    la = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_ca")
    )
    lb = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_cb")
    )
    e = (
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .join(la.withColumnRenamed("_n", "_s"), "_s")
        .join(lb.withColumnRenamed("_n", "_d"), "_d")
        # e feeds 4 consumers (m, intra, both degree legs) and carries
        # the caller's edge derivation — N>=3-consumers lineage cut
        .localCheckpoint(eager=True)
    )
    m_1row = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        e.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_intra"))
    )
    deg = (
        e.select(F.col("_s").alias("node"), F.col("_ca").alias("community"))
        .unionAll(
            e.select(
                F.col("_d").alias("node"), F.col("_cb").alias("community")
            )
        )
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree_sum"))
    )
    nn = labels.groupBy(F.col(label_col).alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    per_c = (
        nn.join(deg, "community", "left")
        .join(intra, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("m_intra"), F.lit(0))
            .cast("bigint")
            .alias("m_intra"),
            F.coalesce(F.col("degree_sum"), F.lit(0))
            .cast("bigint")
            .alias("degree_sum"),
        )
        .crossJoin(F.broadcast(m_1row))
        .select(
            "community",
            "n_nodes",
            "m_intra",
            "degree_sum",
            F.expr(
                f"CAST((CAST({scale} AS DECIMAL(38,0))"
                " * (4 * CAST(m AS DECIMAL(38,0)) * m_intra"
                " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum))"
                " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
            ).alias("contrib_ppm"),
            F.expr(
                "4 * CAST(m AS DECIMAL(38,0)) * m_intra"
                " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum"
            ).alias("_num"),
            "m",
        )
    )
    q_1row = per_c.agg(
        F.expr(
            f"CAST((CAST({scale} AS DECIMAL(38,0)) * sum(_num))"
            " div (4 * CAST(max(m) AS DECIMAL(38,0)) * max(m))"
            " AS BIGINT)"
        ).alias("q_ppm")
    )
    return per_c.drop("_num", "m").crossJoin(F.broadcast(q_1row))


def transitivity_global(edges: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Global transitivity (3 * triangles / wedges) of an undirected
    graph — the one-row clustering audit next to the per-node
    coefficient: what fraction of open wedges close? Triangles via
    the compact-forward enumeration (edges kept as src < dst, two
    ordered joins — every triangle counted exactly once); wedges =
    sum over nodes of deg*(deg-1)/2 on the symmetrized degree. Exact
    int64 end to end; ratio ppm by one division (bounded by 1e6 since
    3T <= W always). Output: (n_edges, n_triangles, n_wedges,
    transitivity_ppm). The edge frame feeds 6 consumers (three
    triangle sides, sym twice, the edge count) — N>=3-consumers
    lineage cut."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    x = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    y = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    z = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = x.join(y, "b").join(z, ["a", "c"])
    tri_1row = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    wed_1row = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .agg(
            F.sum(F.expr("deg * (deg - 1)"))
            .cast("bigint")
            .alias("n_wedges_x2"),
        )
    )
    m_1row = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        m_1row.crossJoin(F.broadcast(tri_1row))
        .crossJoin(F.broadcast(wed_1row))
        .select(
            "n_edges",
            "n_triangles",
            F.expr("CAST(n_wedges_x2 div 2 AS BIGINT)").alias("n_wedges"),
            F.expr(
                "CASE WHEN n_wedges_x2 > 0 THEN CAST("
                f"({scale} * 3 * n_triangles * 2) div n_wedges_x2"
                " AS BIGINT) END"
            ).alias("transitivity_ppm"),
        )
    )


def frequent_itemset_triples(
    pairs: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    min_support: int = 3,
    topk: int = 100,
) -> DataFrame:
    """Frequent 3-itemsets with exact support — one Apriori level past
    the co-purchase pair mining the projection/link-prediction family
    does: which TRIPLES of items co-occur in >= min_support baskets?

    Shape: canonical a < b < c enumeration via two ordered self-joins
    on the basket key (per-basket cost C(deg,3) — bounded by the same
    per-basket degree the wedge operators document; cap hot baskets
    upstream at 100x scale, the bipartite max_degree pattern), then
    one (a,b,c) count. ``pairs`` must be DISTINCT (basket, item)
    tuples. Exact int64 end to end; top-k total-ordered by
    (support DESC, a, b, c). Output: (item_a, item_b, item_c,
    support, rank)."""
    bk = "_bk"
    base = pairs.select(
        F.col(basket_col).alias(bk), F.col(item_col).alias("item")
    ).localCheckpoint(eager=True)  # feeds the three join legs
    a = base.select(bk, F.col("item").alias("item_a"))
    b = base.select(bk, F.col("item").alias("item_b"))
    c = base.select(bk, F.col("item").alias("item_c"))
    triples = (
        a.join(b, bk)
        .where(F.col("item_a") < F.col("item_b"))
        .join(c, bk)
        .where(F.col("item_b") < F.col("item_c"))
        .groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= min_support)
    )
    top = triples.orderBy(
        F.col("support").desc(), "item_a", "item_b", "item_c"
    ).limit(topk)
    w = Window.orderBy(
        F.col("support").desc(), "item_a", "item_b", "item_c"
    )
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
    topk: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Sampled-seed betweenness centrality within a bounded hop
    radius — hop-bounded Brandes (2001): which nodes BROKER the
    shortest paths? The exact algorithm needs all-pairs BFS; the
    standard estimator runs the two Brandes passes from a seed
    sample, and bounding the radius caps every frontier (the
    closeness_sampled scoping discipline — radius first, seeds
    second).

    Forward pass: per-seed BFS LEVELS carrying the shortest-path
    COUNT sigma (level k's sigma = sum of its level-(k-1) BFS
    predecessors' sigmas; a node is excluded from level k if seen at
    any earlier level — per-seed anti-joins, the Pregel shape, one
    edge join per hop). Backward pass: dependency accumulation
    delta(v) = sum over DAG successors w of sigma_v/sigma_w *
    (1 + delta_w), kept as ppm-FLOORED integers — each term is one
    exact integer division floor(sigma_v * (scale + delta_w) div
    sigma_w), so the sum is aggregation-order independent and
    cell-exact cross-engine (the ANOVA floor discipline applied to
    Brandes). Betweenness(v) = sum of delta over seeds and levels
    1..hops-1 (seeds and frontier-edge nodes excluded, the standard
    endpoint convention).

    Output: top-``topk`` (node, betweenness_fp, rank) under the
    (betweenness_fp DESC, node) total order. Every frame is
    per-seed keyed (worst case |seeds| x |V|) and lineage-cut per
    round; the edge frame feeds one join per hop per direction."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    lvl0 = (
        seeds.select(
            F.col("seed"),
            F.col("seed").alias("node"),
            F.lit(1).cast("bigint").alias("sigma"),
        )
        .dropDuplicates(["seed"])
        .localCheckpoint(eager=True)
    )
    levels = [lvl0]
    seen = lvl0.select("seed", "node")
    for _ in range(hops):
        cand = (
            levels[-1]
            .join(e, levels[-1]["node"] == e["src"])
            .select("seed", F.col("dst").alias("node"), "sigma")
        )
        nxt = (
            cand.join(seen, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("seed", "node")).localCheckpoint(
            eager=True
        )
    # Backward accumulation: delta over levels hops-1 .. 1 (the
    # outermost level's delta is zero by construction).
    bc = None
    delta_next = None  # (seed, node, d_fp) of level k+1
    for k in range(hops - 1, 0, -1):
        up = levels[k + 1].select(
            F.col("seed"),
            F.col("node").alias("_w"),
            F.col("sigma").alias("_sw"),
        )
        if delta_next is not None:
            up = up.join(
                delta_next.select(
                    "seed",
                    F.col("node").alias("_w"),
                    F.col("d_fp").alias("_dw"),
                ),
                ["seed", "_w"],
                "left",
            ).select(
                "seed",
                "_w",
                "_sw",
                F.coalesce(F.col("_dw"), F.lit(0)).cast("bigint").alias("_dw"),
            )
        else:
            up = up.select(
                "seed", "_w", "_sw", F.lit(0).cast("bigint").alias("_dw")
            )
        cur = levels[k].select(
            "seed", "node", F.col("sigma").alias("_sv")
        )
        delta_cur = (
            cur.join(e, cur["node"] == e["src"])
            .select("seed", "node", "_sv", F.col("dst").alias("_w"))
            .join(up, ["seed", "_w"])
            .groupBy("seed", "node")
            .agg(
                F.sum(
                    F.expr(f"(_sv * ({scale} + _dw)) div _sw")
                )
                .cast("bigint")
                .alias("d_fp")
            )
            .localCheckpoint(eager=True)
        )
        delta_next = delta_cur
        part = delta_cur.groupBy("node").agg(
            F.sum("d_fp").cast("bigint").alias("betweenness_fp")
        )
        bc = part if bc is None else (
            bc.unionByName(part)
            .groupBy("node")
            .agg(F.sum("betweenness_fp").cast("bigint").alias("betweenness_fp"))
        )
    from pyspark.sql import Window

    ranked = bc.select(
        "node",
        "betweenness_fp",
        F.row_number()
        .over(Window.orderBy(F.col("betweenness_fp").desc(), F.col("node")))
        .cast("bigint")
        .alias("rank"),
    )
    return ranked.where(F.col("rank") <= topk)


def community_merge_step(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str = "node",
    label_col: str = "community",
    scale: int = 1_000_000,
) -> DataFrame:
    """One greedy modularity-agglomeration round (a CNM step,
    Clauset-Newman-Moore 2004) over an existing partition — the
    refinement move next to label_propagation/modularity_score: for
    every CONNECTED community pair, the exact cross-multiplied
    modularity gain of merging

        delta_num(a, b) = 2m * e_ab - tot_a * tot_b
        (from dQ = e_ab/m - tot_a*tot_b/(2m^2), x 2m^2)

    then each community picks its best partner (max delta, tie
    smallest partner id) and only MUTUAL best pairs with positive
    delta merge (the standard parallel-agglomeration trick — mutual
    matching makes merges disjoint, so dQ terms are ADDITIVE and the
    post-merge modularity PROVABLY increases whenever any merge
    fires; asserted in tests). Merged label = the smaller id.

    All integer-exact: delta comparisons are int64 (tot products are
    bounded by 4m^2), Q before/after computed as the modularity_score
    rational on DECIMAL(38,0). Best-partner selection is a
    row_number under (delta DESC, partner ASC) — the max_by-struct
    form has no DuckDB twin (the round-9 argmax rule). Plan shape:
    one labeled-edge frame (checkpointed — it feeds the pair rollup,
    both degree legs, and both Q evaluations), community-sized
    frames after that. Output ONE row: (n_communities, n_merges,
    n_communities_after, q_before_ppm, q_after_ppm)."""
    la = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_ca")
    )
    lb = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_cb")
    )
    e = (
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .join(la.withColumnRenamed("_n", "_s"), "_s")
        .join(lb.withColumnRenamed("_n", "_d"), "_d")
        .select("_ca", "_cb")
        .localCheckpoint(eager=True)  # feeds pairs/degrees/Q x2
    )
    m_1row = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    tot = (
        e.select(F.col("_ca").alias("c"))
        .unionAll(e.select(F.col("_cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
        .localCheckpoint(eager=True)  # feeds cand legs + Q x2
    )
    pairs = (
        e.where(F.col("_ca") != F.col("_cb"))
        .select(
            F.least("_ca", "_cb").alias("lo"),
            F.greatest("_ca", "_cb").alias("hi"),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_ab"))
    )
    cand = (
        pairs.select(F.col("lo").alias("c"), F.col("hi").alias("partner"), "e_ab")
        .unionAll(
            pairs.select(
                F.col("hi").alias("c"), F.col("lo").alias("partner"), "e_ab"
            )
        )
        .join(tot.select(F.col("c"), F.col("tot").alias("tot_c")), "c")
        .join(
            tot.select(
                F.col("c").alias("partner"), F.col("tot").alias("tot_p")
            ),
            "partner",
        )
        .crossJoin(F.broadcast(m_1row))
        .select(
            "c",
            "partner",
            F.expr("2 * m * e_ab - tot_c * tot_p")
            .cast("bigint")
            .alias("delta_num"),
        )
        .where(F.col("delta_num") > 0)
    )
    w_best = Window.partitionBy("c").orderBy(
        F.col("delta_num").desc(), F.col("partner")
    )
    best = (
        cand.select("c", "partner", F.row_number().over(w_best).alias("_rn"))
        .where(F.col("_rn") == 1)
        .select("c", "partner")
    )
    b2 = best.select(
        F.col("c").alias("partner"), F.col("partner").alias("c")
    )
    merges = (
        best.join(b2, ["c", "partner"])
        .where(F.col("c") < F.col("partner"))
        .select(F.col("c").alias("m_lo"), F.col("partner").alias("m_hi"))
        .localCheckpoint(eager=True)  # feeds relabel + count
    )

    def _q_num(edge_frame: DataFrame) -> DataFrame:
        intra = (
            edge_frame.where(F.col("_ca") == F.col("_cb"))
            .groupBy(F.col("_ca").alias("c"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("e_cc"))
        )
        t = (
            edge_frame.select(F.col("_ca").alias("c"))
            .unionAll(edge_frame.select(F.col("_cb").alias("c")))
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
        )
        return (
            t.join(intra, "c", "left")
            .crossJoin(F.broadcast(m_1row))
            .agg(
                F.sum(
                    F.expr(
                        "4 * CAST(m AS DECIMAL(38,0))"
                        " * COALESCE(e_cc, 0)"
                        " - CAST(tot AS DECIMAL(38,0)) * tot"
                    )
                ).alias("_qn")
            )
        )

    remap = merges.select(
        F.col("m_hi").alias("_old"), F.col("m_lo").alias("_new")
    )
    e_after = (
        e.join(remap.withColumnRenamed("_old", "_ca"), "_ca", "left")
        .select(
            F.coalesce(F.col("_new"), F.col("_ca")).alias("_ca2"), "_cb"
        )
        .join(remap.withColumnRenamed("_old", "_cb"), "_cb", "left")
        .select(
            F.col("_ca2").alias("_ca"),
            F.coalesce(F.col("_new"), F.col("_cb")).alias("_cb"),
        )
    )
    n_comm = labels.agg(
        F.countDistinct(label_col).cast("bigint").alias("n_communities")
    )
    n_merge = merges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merges")
    )
    qb = _q_num(e).select(F.col("_qn").alias("_qb"))
    qa = _q_num(e_after).select(F.col("_qn").alias("_qa"))
    return (
        n_comm.crossJoin(n_merge)
        .crossJoin(qb)
        .crossJoin(qa)
        .crossJoin(m_1row)
        .select(
            "n_communities",
            "n_merges",
            (F.col("n_communities") - F.col("n_merges"))
            .cast("bigint")
            .alias("n_communities_after"),
            F.expr(
                f"CAST((CAST({scale} AS DECIMAL(38,0)) * _qb)"
                " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
            ).alias("q_before_ppm"),
            F.expr(
                f"CAST((CAST({scale} AS DECIMAL(38,0)) * _qa)"
                " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
            ).alias("q_after_ppm"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
    alpha_inv: int = 4,
    top_n: int = 20,
) -> DataFrame:
    """Katz centrality, scaled-integer exact — the walk-counting
    centrality (eigenvector centrality's damped cousin: every walk of
    length l into a node contributes alpha^l). With alpha = 1/m for
    integer m, multiplying through by m^L keeps every term integer:

        katz_scaled = sum_{l=1..L} m^(L-l) * X_l,
        X_l(v) = sum_{(u,v) in E} X_{l-1}(u),  X_0 = 1

    (= m^L * sum alpha^l (A^l 1), same ranking as Katz with the
    constant term dropped). Each iteration is ONE edges-join +
    groupBy — |E| rows per round regardless of degree (walk SUMS, not
    frontier sets: no hop-radius explosion, the r11 closeness
    lesson's favorable shape), with the vector localCheckpoint'd per
    round (lineage cut) and the edge frame checkpointed once for its
    ``iters`` consumers. X_l grows like avg_degree^l, so keep L small
    (the alpha < 1/lambda_max convergence rule has the same flavor);
    terms stay well inside int64 at repo scale and the final sum is
    DECIMAL(38,0)-safe. Output: top ``top_n`` nodes by
    (katz_scaled desc, node) with their per-length walk counts x1,
    x2 and rank.

    Requires ``iters >= 2``: the output schema carries the fixed
    per-length columns x1 and x2, so a single-iteration run has no
    x2 to emit (fails loud here instead of an AnalysisException in
    the final select)."""
    if iters < 2:
        raise ValueError(f"katz_centrality requires iters >= 2, got {iters}")
    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("src"),
            F.col(dst_col).cast("bigint").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # iters consumers
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = nodes.select("node", F.lit(1).cast("bigint").alias("v"))
    acc = None
    for lvl in range(1, iters + 1):
        x = (
            e.join(x, x["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("v").cast("bigint").alias("v"))
            .localCheckpoint(eager=True)
        )
        weight = alpha_inv ** (iters - lvl)
        term = x.select(
            "node",
            (F.col("v") * F.lit(weight)).cast("bigint").alias("term"),
            F.col("v").alias(f"x{lvl}"),
        )
        if acc is None:
            acc = term
        else:
            acc = (
                acc.join(term, "node", "full")
                .select(
                    "node",
                    (
                        F.coalesce(acc["term"], F.lit(0))
                        + F.coalesce(term["term"], F.lit(0))
                    ).alias("term"),
                    *[
                        F.coalesce(F.col(f"x{j}"), F.lit(0)).alias(f"x{j}")
                        for j in range(1, lvl + 1)
                        if f"x{j}" in acc.columns + term.columns
                    ],
                )
                .localCheckpoint(eager=True)
            )
    w_rank = Window.orderBy(F.col("katz_scaled").desc(), F.col("node"))
    return (
        acc.select(
            "node",
            F.col("term").cast("bigint").alias("katz_scaled"),
            F.col("x1").cast("bigint").alias("x1"),
            F.col("x2").cast("bigint").alias("x2"),
        )
        .select(
            "node",
            "katz_scaled",
            "x1",
            "x2",
            F.row_number().over(w_rank).cast("bigint").alias("rank"),
        )
        .where(F.col("rank") <= top_n)
    )


def rich_club_bipartite(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    thresholds: tuple[int, ...] = (4, 8, 16),
) -> DataFrame:
    """Bipartite rich-club profile — do high-degree left nodes
    preferentially connect to high-degree right nodes? The classic
    rich-club coefficient phi(k) = edges among the >k-degree club
    over the possible count, in the bipartite form where possible =
    |S_k| * |P_k|:

        density_ppm(k) = (1e6 * E_k) div (|S_k| * |P_k|)

    computed per threshold from ONE deduplicated edge frame with
    per-side degrees attached (two groupBys + two joins, reused
    across thresholds via a checkpoint — the threshold sweep is a
    constant-size union, not a re-scan). Rows with an empty club on
    either side emit NULL density. Output per threshold:
    (k_threshold, n_src_club, n_dst_club, n_club_edges,
    density_ppm)."""
    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("src"),
            F.col(dst_col).cast("bigint").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("sdeg")
    )
    ddeg = e.groupBy("dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("ddeg")
    )
    tagged = (
        e.join(sdeg, "src").join(ddeg, "dst").localCheckpoint(eager=True)
    )
    out = None
    for k in thresholds:
        row = (
            tagged.agg(
                F.countDistinct(
                    F.when(F.col("sdeg") > k, F.col("src"))
                )
                .cast("bigint")
                .alias("n_src_club"),
                F.countDistinct(
                    F.when(F.col("ddeg") > k, F.col("dst"))
                )
                .cast("bigint")
                .alias("n_dst_club"),
                F.sum(
                    F.expr(
                        f"CASE WHEN sdeg > {k} AND ddeg > {k}"
                        " THEN 1 ELSE 0 END"
                    )
                )
                .cast("bigint")
                .alias("n_club_edges"),
            )
            .select(
                F.lit(k).cast("bigint").alias("k_threshold"),
                "n_src_club",
                "n_dst_club",
                "n_club_edges",
                F.expr(
                    "CASE WHEN n_src_club * n_dst_club > 0 THEN"
                    " CAST((1000000 * n_club_edges)"
                    " div (n_src_club * n_dst_club) AS BIGINT) END"
                ).alias("density_ppm"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out
