"""Iterative graph analytics on DataFrames: deterministic PageRank.

The dedup tier already runs one graph algorithm at scale — pointer-
jumping connected components (operators/dedup.py) labels near-duplicate
clusters. PageRank adds the other workhorse: importance scores over an
edge list, used in training-data pipelines to weight documents by
link/citation authority and to rank users/pages for sampling.

Spark shape: the classic iterate-as-join loop. What does not change
across rounds is made once, before the loop: each edge joined with its
source's out-weight (eo), the node set, and N from one count(), so the
teleport term and the initial rank are integer literals. Each round is
  inflow = eo ⋈ rank (on src) ∪ one zero row per node → groupBy node
  rank'  = teleport + damping · inflow
one join and one aggregate, both keyed on node ids; the zero rows make
the aggregate emit every node, so no join carries the node table.
Iterations are a fixed small count and the only driver-side state is
N. Each round's rank is checkpointed so the next round's plan starts
from it; under AQE, making that checkpoint runs the round's shuffle
stages while the plan is built (4 jobs a round, 13 of the 14 jobs of
pagerank_user_graph).

Determinism contract (the interesting part): ranks are carried as
BIGINT units (1e9 = rank 1.0) and EVERY step is integer arithmetic —
contributions divide with integer DIV, and damping is a rational
(85/100 for d=0.85) applied as (num·x) DIV den, never a float multiply
(0.85 has no exact binary representation; floor(0.85·x) in doubles
disagrees with exact decimal math whenever 85·x ≡ 0 mod 100, which a
DuckDB DECIMAL oracle would hit constantly). With no float anywhere,
the fixed point is bit-identical in any engine and independent of
partial-aggregation order — an iterative algorithm that is
differentially checkable against unrolled-CTE SQL, which float
PageRank is not.

Dangling nodes (no out-edges) keep their mass out of circulation —
ranks sum to < 1, the standard "no dangling redistribution" variant;
relative order, which is what sampling weights consume, is unaffected.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.shape import loop_checkpoint

UNITS = 10**9


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-unit PageRank over a (src, dst) edge list.

    Returns (node, rank_units, rank): rank_units is the exact BIGINT
    fixed-point score, rank its 1e-9-scaled double view. Multi-edges
    are collapsed first (an edge is a link, not a count): this is
    pagerank_weighted over the distinct edges with every weight 1,
    where (rank·1) DIV Σ1 is rank DIV outdeg."""
    links = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return pagerank_weighted(
        links.distinct().withColumn("w", F.lit(1)), iterations, damping
    )


def consecutive_user_edges(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    group_col: str = "event_type",
    tiebreak_col: str = "event_id",
    max_gap_s: int | None = None,
) -> DataFrame:
    """Derive a directed user graph from an event stream: u → v when v
    acts immediately after u within the same group's time-ordered
    stream (the "who follows whom" graph). One window pass partitioned
    by group — at scale the partition key is the group, so no global
    sort; self-loops are dropped.

    `max_gap_s` (optional): keep an edge only when the two events are
    within this many seconds — the SPARSE interaction graph (actual
    temporal proximity, not mere stream adjacency) that density-
    sensitive algorithms like k-core need; unset preserves the
    original dense adjacency graph the PageRank/LPA queries pin."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    # gap compared in exact integer MICROSECONDS (unix_micros == DuckDB
    # epoch_us on naive-UTC ts) — no float boundary an engine can flip
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    out = events.select(
        F.lag(user_col).over(w).alias("src"),
        F.col(user_col).alias("dst"),
        (us - F.lag(us).over(w)).alias("__gap_us"),
    ).filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
    if max_gap_s is not None:
        out = out.filter(F.col("__gap_us") <= max_gap_s * 1_000_000)
    return out.drop("__gap_us")


def resolve_ancestors(
    parents: DataFrame,
    rounds: int = 6,
    node: str = "node",
    parent: str = "parent",
) -> DataFrame:
    """Resolve every node's ROOT and DEPTH in a forest by pointer
    doubling — Spark has no WITH RECURSIVE, and a row-at-a-time walk
    would take depth iterations; doubling takes ceil(log2(depth)):
    each round joins the ancestor table with itself, so after round i
    every node knows its 2^i-step ancestor and the summed distance.
    Roots must self-loop (parent == node) with implicit distance 0 —
    the saturating fixed point that makes extra rounds harmless.
    `rounds`=6 resolves any depth <= 64.

    Cost shape: `rounds` self-joins shuffling one row per node — the
    classic log-round technique (same family as the pointer-jumping
    connected components in dedup.py). All arithmetic is integer, so
    the result is engine-exact and a DuckDB recursive CTE can oracle
    it."""
    a = parents.select(
        F.col(node).alias("n"),
        F.col(parent).alias("anc"),
        F.when(F.col(parent) == F.col(node), F.lit(0))
        .otherwise(F.lit(1))
        .alias("d"),
    )
    for _ in range(rounds):
        nxt = a.select(
            F.col("n").alias("n2"), F.col("anc").alias("anc2"), F.col("d").alias("d2")
        )
        # a is consumed TWICE per round (probe + ancestor sides), so
        # the lazy plan doubled per round (2^6 copies by round 6) —
        # truncate lineage (guide §3.3). Under AQE, making the checkpoint
        # RDD runs the shuffle stages above it while the plan is built
        a = (
            a.join(nxt, a.anc == nxt.n2)
            .select("n", F.col("anc2").alias("anc"), (F.col("d") + F.col("d2")).alias("d"))
            .localCheckpoint(eager=False)
        )
    return a.select(
        F.col("n").alias(node),
        F.col("anc").alias("root"),
        F.col("d").alias("depth"),
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Simplify a directed edge list to canonical undirected edges:
    (a, b) with a < b, self-loops dropped, multi-edges collapsed —
    the shared first step of every wedge-family operator."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degree_oriented(
    e: DataFrame, deg: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Orient each canonical edge (a, b) from its lower-(degree, id)
    endpoint to the higher one — the compact-forward orientation
    (Latapy 2008; Cohen's MapReduce triangles 2009) that turns the
    wedge self-join's Σ deg(v)² bound into Σ outdeg(v)², with
    outdeg(v) ≤ O(√m) on ANY graph (a node keeps an out-edge only
    toward neighbors of equal-or-higher degree, and there can be at
    most 2√m nodes of degree ≥ √m). On a hub-and-spoke graph the hub
    — deg(hub)² wedge rows under id-orientation — ends up with
    out-degree ≈ 0: its wedges are enumerated from the low-degree
    leaves instead, each contributing O(1).

    `e` is the canonical (a, b) edge table; `deg` is (node, degree)
    over the same simplification. Returns (u, v, dv): the edge
    oriented u→v with (deg(u), u) < (deg(v), v), carrying v's degree
    so wedge enumeration can order endpoint pairs by the SAME total
    order without re-joining degrees. `keep` columns of `e` (edge
    payloads like weights) pass through unchanged — the edge is the
    same edge whichever way it points."""
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("dv"),
        *[F.col(c) for c in keep],
    )


def _oriented_closed_wedges(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Enumerate each triangle of the canonical edge set EXACTLY once
    as (u, w_x, w_y): u is the triangle's minimum node under the
    (degree, id) total order, and (w_x, w_y) its other two corners in
    that same order. Mechanism: degree-orient the edges, self-join the
    out-adjacency on the low-degree end u (cost Σ outdeg(u)², the
    compact-forward bound), order each wedge's endpoints by (dv, v),
    and keep wedges whose closing edge exists in the oriented table —
    which it does iff x—y are adjacent, since orientation preserves
    exactly the (lower → higher) direction the wedge ordering asks
    for."""
    o = _degree_oriented(e, deg).localCheckpoint(eager=False)
    o1 = o.select("u", F.col("v").alias("w_x"), F.col("dv").alias("_dx"))
    o2 = o.select("u", F.col("v").alias("w_y"), F.col("dv").alias("_dy"))
    wedges = o1.join(o2, "u").filter(
        (F.col("_dx") < F.col("_dy"))
        | ((F.col("_dx") == F.col("_dy")) & (F.col("w_x") < F.col("w_y")))
    )
    return wedges.join(
        o.select(F.col("u").alias("w_x"), F.col("v").alias("w_y")),
        ["w_x", "w_y"],
        "left_semi",
    ).select("u", "w_x", "w_y")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Count triangles in the undirected graph of an edge list — the
    clustering-structure primitive (community density, spam-graph
    detection). Returns one row: (n_nodes, n_edges, n_wedges,
    n_triangles), all exact BIGINTs.

    `n_wedges` is the standard wedge census Σ C(deg(v), 2) over ALL
    centers, computed from the degree table — so the global clustering
    coefficient is the textbook 3·n_triangles / n_wedges. (The
    min-id-centered wedge JOIN below is just the triangle-closing
    mechanism and is never reported; an earlier revision reported its
    count, which under-counts the census.)

    Shape: symmetrize + dedup to canonical a<b edges (one shuffle),
    DEGREE-ORIENT them (lower-(degree, id) endpoint → higher, see
    _degree_oriented), self-join the out-adjacency on the low-degree
    end, and close each wedge with a semi-join against the oriented
    edges. Join volume is Σ outdeg(v)² with outdeg ≤ O(√m) — the
    compact-forward bound — vs the Σ deg(v)² an id-oriented wedge
    join pays (a single 10⁶-degree hub: 10¹² wedge rows from one key
    there, ~0 here; measured in tools/graph_sketch_scaling.py's
    hub-graph row). Every join keys on node ids and the output is a
    constant-size row."""
    e = _canonical_edges(edges, src, dst)
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tri = _oriented_closed_wedges(e, deg)
    # each crossJoin side is a single-row global aggregate; the explicit
    # broadcast keeps the plan a BroadcastNestedLoopJoin of scalars even
    # with AQE off (AQE would broadcast them anyway, but the plan-audit
    # config disables it and must not degrade to a shuffled BNLJ)
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(F.broadcast(e.agg(F.count("*").alias("n_edges"))))
        .crossJoin(
            F.broadcast(
                deg.agg(
                    # coalesce: SUM over an empty degree table is NULL, but
                    # an empty graph has 0 wedges, not unknown-many
                    F.coalesce(
                        F.sum(F.expr("degree * (degree - 1) DIV 2")), F.lit(0)
                    ).alias("n_wedges")
                )
            )
        )
        .crossJoin(F.broadcast(tri.agg(F.count("*").alias("n_triangles"))))
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: how close a node's
    neighborhood is to a clique — 2·T(v) / (deg(v)·(deg(v)−1)), the
    per-node refinement of triangle_count (spam rings score high,
    broadcast hubs score low). Returns (node, degree, n_triangles,
    coeff) with coeff NULL for degree < 2.

    Shape: the same degree-oriented wedge-close joins as
    triangle_count (Σ outdeg² ≤ O(m^1.5) total work — the
    compact-forward bound, not the Σ deg² an id-oriented join pays on
    hub graphs), but each closed triangle (u, x, y) explodes into its
    three member nodes and aggregates per node — one extra narrow
    shuffle on node id. Degrees and triangle counts are exact BIGINTs;
    the coefficient is one IEEE division of them, so any engine agrees
    bit-for-bit."""
    e = _canonical_edges(edges, src, dst)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    closed = _oriented_closed_wedges(e, deg)
    tri_nodes = (
        closed.select(
            F.explode(F.array("u", "w_x", "w_y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = deg.join(tri_nodes, "node", "left").withColumn(
        "n_triangles", F.coalesce("n_triangles", F.lit(0))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        (2.0 * F.col("n_triangles"))
        / (F.col("degree") * (F.col("degree") - 1)),
    )
    return out.select("node", "degree", "n_triangles", coeff.alias("coeff"))


def common_neighbor_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    block_size: int = 4096,
) -> DataFrame:
    """Common-neighbor counts for every unordered node pair with at
    least one shared neighbor — the enumeration core of
    common-neighbors / Jaccard / Adamic-Adar link prediction. Returns
    (a, b, common_n) with a < b; pairs include ADJACENT ones (callers
    anti-join the edge list to keep only link-prediction candidates).

    Exact CN is inherently a full wedge census — every wedge
    (x, m, y) contributes one count, so Σ C(deg(m), 2) output rows
    are unavoidable and degree orientation does NOT apply (orientation
    changes which endpoint ENUMERATES a wedge, which is enough for
    triangle counting where one witness suffices, but CN must count
    every center — see _degree_oriented for the triangle-side story).
    What CAN be fixed is the skew: a naive self-join on the center
    puts ALL of a hub's C(deg, 2) pair generation on the single
    reducer that owns its key — a 10⁶-degree node is 5·10¹¹ rows from
    one task. This implementation BLOCK-DECOMPOSES each center's
    neighbor set: neighbors hash into G = ⌈deg/block_size⌉ buckets,
    the left side replicates each neighbor to the block range
    [own..G-1], and the join keys on (center, target_block) — so a
    hub's pair generation spreads over G ≈ deg/B join keys of
    ≤ deg·B work each, while shuffle volume grows only by the
    replication factor ≈ deg/(2B) ≪ output size. Low-degree centers
    (G = 1) degenerate to the plain self-join with zero replication,
    so small graphs pay ~nothing. The final (a, b) count aggregation
    is keyed on the PAIR — diverse keys, no skew. Output is identical
    for any block_size (the hash only routes work), so the operator
    stays differentially checkable against a brute-force oracle."""
    pairs = _cn_pair_stream(edges, src, dst, block_size)
    return pairs.groupBy(
        F.least("pa", "pb").alias("a"),
        F.greatest("pa", "pb").alias("b"),
    ).agg(F.count(F.lit(1)).alias("common_n"))


def _cn_pair_stream(
    edges: DataFrame, src: str, dst: str, block_size: int
) -> DataFrame:
    """The block-decomposed wedge ENUMERATION stage of
    common_neighbor_counts: one (pa, pb) row per wedge, each unordered
    pair emitted exactly once per shared neighbor. Split out so the
    skew-isolation tooling (tools/wedge_hub_scaling.py) can time the
    stage the blocking actually fixes — the downstream (pa, pb) count
    has diverse keys and is output-bound by definition."""
    sym_a = _canonical_edges(edges, src, dst)
    sym = sym_a.select(
        F.col("a").alias("node"), F.col("b").alias("o")
    ).unionByName(
        sym_a.select(F.col("b").alias("node"), F.col("a").alias("o"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    g_tbl = deg.select(
        "node",
        ((F.col("deg") + block_size - 1) / block_size)
        .cast("long")
        .alias("n_blocks"),
    )
    # materialized once: nb feeds BOTH sides of the block-decomposed
    # self-join below — without this the sym/deg/g_tbl chain (two
    # shuffles over the edge list) ran twice in one plan (guide §1.2).
    nb = sym.join(g_tbl, "node").select(
        "node",
        "o",
        F.pmod(F.xxhash64("o"), F.col("n_blocks")).alias("g"),
        "n_blocks",
    ).localCheckpoint(eager=False)
    left = nb.select(
        "node",
        F.col("o").alias("pa"),
        F.col("g").alias("ga"),
        F.explode(
            F.sequence(F.col("g"), F.col("n_blocks") - 1)
        ).alias("tb"),
    )
    right = nb.select(
        "node", F.col("o").alias("pb"), F.col("g").alias("gb")
    )
    # merge hint: this join is a deliberate many-to-many expansion —
    # every probe key matches ~block_size rows. A broadcast hash join
    # (Spark's pick while the adjacency is small) pays a hashed-
    # relation probe per OUTPUT row (measured 12x slower than the
    # sorted-run merge at 8*10^8 outputs), and at cluster scale the
    # adjacency never fits the broadcast threshold anyway — so pin the
    # strategy the big-data plan uses and let the (center, block) key
    # spread the reducers.
    #
    # Explicit join-key repartition: AQE coalesces the join's INPUT
    # exchanges by input bytes (2.2 MB of adjacency → 2 partitions at
    # the 1 MB minPartitionSize floor) but this join's OUTPUT is
    # ~10× its input by construction, so the whole wedge expansion ran
    # on 2 tasks (measured 6.9 of 38s executor time, the stage at the
    # top of every link_prediction profile). Same defect class as the
    # r14 skew-witness finding — AQE cannot see join-output explosion.
    # A user repartition with an explicit partition count is final
    # (AQE never coalesces it), matches the join keys so the merge
    # join reuses the exchange, and sizes to max(cores, configured
    # shuffle partitions) — locally the core count, on a cluster
    # whatever spark.sql.shuffle.partitions the deployment tuned.
    try:  # non-numeric on some deployments (e.g. "auto") — fall back
        conf_parts = int(
            edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (ValueError, TypeError):
        conf_parts = 0
    n_out = max(
        edges.sparkSession.sparkContext.defaultParallelism, conf_parts
    )
    return left.repartition(n_out, "node", "tb").join(
        right.repartition(n_out, "node", "gb").hint("merge"),
        (left.node == right.node) & (left.tb == right.gb),
    ).filter(
        (F.col("ga") < F.col("gb"))
        | ((F.col("ga") == F.col("gb")) & (F.col("pa") < F.col("pb")))
    )


def clustering_coefficients_weighted(
    edges: DataFrame, src: str = "src", dst: str = "dst", weight: str = "w"
) -> DataFrame:
    """Barrat et al. (PNAS 2004) weighted local clustering coefficient:

        c_w(i) = Σ_{triangles (i,j,h)} (w_ij + w_ih) / (s_i · (k_i − 1))

    (the paper's Σ over ORDERED neighbor pairs of (w_ij+w_ih)/2 — each
    triangle appears twice, so the halves cancel; with constant weights
    this reduces to the unweighted 2T/(k(k−1)) exactly), where s_i is
    the node's STRENGTH (sum of incident edge weights) and
    k_i its degree — hub nodes whose heavy edges participate in
    triangles score higher than ones whose triangles hang off trivial
    edges, the refinement the unweighted coefficient can't see (spam
    rings with strong internal traffic vs incidental mutuals).

    Input is a directed weighted edge list; both directions collapse
    into one undirected edge whose weight is the SUM (u→v plus v→u
    traffic is one relationship's intensity). Non-positive-weight edges
    are dropped (same stance as pagerank_weighted). With integer
    weights every numerator/denominator term is an exact BIGINT — the
    coefficient is one IEEE division of two exact integers, so a DuckDB
    CTE oracle agrees bit-for-bit.

    Shape: same DEGREE-ORIENTED wedge-close joins as
    clustering_coefficients (Σ outdeg² — the compact-forward bound)
    with the weight carried through orientation (the edge is the same
    edge whichever way it points); each closed triangle explodes into
    its three member contributions (w_ij + w_ih at member i) and
    aggregates per node — one extra narrow shuffle on node id. Returns
    (node, degree, strength, n_triangles, coeff_w); coeff_w NULL for
    degree < 2."""
    directed = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
    ).filter((F.col("s") != F.col("d")) & (F.col("w") > 0))
    e = (
        directed.select(
            F.least("s", "d").alias("a"),
            F.greatest("s", "d").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    deg = (
        e.select(F.col("a").alias("node"), "w")
        .unionByName(e.select(F.col("b").alias("node"), "w"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"), F.sum("w").alias("strength"))
    )
    o = _degree_oriented(
        e, deg.select("node", "degree"), keep=("w",)
    ).localCheckpoint(eager=False)
    o1 = o.select(
        "u",
        F.col("v").alias("w_x"),
        F.col("dv").alias("_dx"),
        F.col("w").alias("w_ax"),
    )
    o2 = o.select(
        "u",
        F.col("v").alias("w_y"),
        F.col("dv").alias("_dy"),
        F.col("w").alias("w_ay"),
    )
    wedges = o1.join(o2, "u").filter(
        (F.col("_dx") < F.col("_dy"))
        | ((F.col("_dx") == F.col("_dy")) & (F.col("w_x") < F.col("w_y")))
    )
    closed = wedges.join(
        o.select(
            F.col("u").alias("w_x"),
            F.col("v").alias("w_y"),
            F.col("w").alias("w_xy"),
        ),
        ["w_x", "w_y"],
    )
    contribs = (
        closed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        (F.col("w_ax") + F.col("w_ay")).alias("c"),
                    ),
                    F.struct(
                        F.col("w_x").alias("node"),
                        (F.col("w_ax") + F.col("w_xy")).alias("c"),
                    ),
                    F.struct(
                        F.col("w_y").alias("node"),
                        (F.col("w_ay") + F.col("w_xy")).alias("c"),
                    ),
                )
            ).alias("t")
        )
        .groupBy(F.col("t.node").alias("node"))
        .agg(
            (F.count("*") ).alias("n_triangles"),
            F.sum("t.c").alias("tri_w"),
        )
    )
    out = (
        deg.join(contribs, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .withColumn("tri_w", F.coalesce("tri_w", F.lit(0)))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.col("tri_w")
        / (F.col("strength") * (F.col("degree") - 1)).cast("double"),
    )
    return out.select(
        "node", "degree", "strength", "n_triangles", coeff.alias("coeff_w")
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted integer-unit PageRank: mass flows along each edge in
    proportion to its integer weight — contrib = (rank·w) DIV Σw(src)
    instead of rank DIV outdeg. Same determinism contract as
    pagerank(): every step exact BIGINT arithmetic, damping as the
    rational num/100, so an unrolled-CTE oracle matches rank_units
    exactly. Multi-edges should be pre-aggregated into weights (that IS
    the weighting); rank·w stays < 2^63 for weights up to ~9×10⁹ per
    edge at unit scale 1e9.

    Non-positive weights are dropped up front: a src whose Σw is 0
    would make `(rank·w) DIV wsum` NULL in Spark (silently vanishing
    from the sum) but a division-by-zero ERROR in a DuckDB oracle —
    divergent failure behavior. Filtering w > 0 pins one semantic
    (zero-weight edges carry no mass and define no denominator) that
    both engines agree on."""
    num = int(round(damping * 100))  # damping as the rational num/100
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).alias("w"),
    ).filter(F.col("w") > 0)
    # the loop invariants, joined once: each edge with its source's
    # out-weight, and the node set. eo feeds every round's join and
    # nodes every round's union, so both are checkpointed; the count
    # below makes nodes' blocks
    eo = e.join(
        e.groupBy("src").agg(F.sum("w").alias("wsum")), "src"
    ).localCheckpoint(eager=False)
    nodes = (
        eo.select(F.col("src").alias("node"))
        .unionByName(eo.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:  # no edges: nothing to rank, and 1/N is undefined
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    # teleport (1-d)·units/N and the initial rank units/N, as exact
    # integer literals (Python // is SQL DIV on non-negative operands)
    teleport = (100 - num) * UNITS // (100 * n)
    rank = nodes.select("node", F.lit(UNITS // n).cast("long").alias("rank_units"))
    # every node gets a zero inflow row, so the one aggregate below
    # emits every node: no left join against the node table per round
    zero = nodes.select("node", F.lit(0).cast("long").alias("c"))
    for _ in range(iterations):
        inflow = (
            eo.join(rank, eo.src == rank.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_units * w) DIV wsum").alias("c"),
            )
            .unionByName(zero)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # the checkpoint keeps each round's plan one round deep; a plan
        # with no per-round checkpoints measured slower
        rank = loop_checkpoint(
            inflow.select(
                "node",
                (F.expr(f"({num} * inflow) DIV 100") + F.lit(teleport))
                .cast("long")
                .alias("rank_units"),
            )
        )
    return rank.select(
        "node",
        "rank_units",
        (F.col("rank_units") / float(UNITS)).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 2007) made DETERMINISTIC: every node starts
    labeled with its own id; each round it adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label — an
    explicit total order, where the paper's random tie-break makes
    every run (and every engine) disagree. A fixed iteration count
    makes the output a pure function of the graph (synchronous LPA can
    oscillate on bipartite structures; bounded rounds sidestep
    convergence detection, which would need a driver-side loop test).

    Shape: per round, one join (neighbor labels), one count aggregation
    per (node, label), one window to pick the argmax — all keyed on
    node ids, the same iterate-as-join discipline as pagerank().
    Isolated nodes never appear (an edge list has no degree-0 nodes).
    Returns (node, label) — equal labels = same community."""
    from pyspark.sql import Window

    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    # nbr feeds the node mint and every round's join — checkpoint
    # lazily so the distinct chain computes once and round plans stay
    # flat (guide §1.2)
    nbr = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=False)
    nodes = nbr.select(F.col("a").alias("node")).distinct()
    lbl = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(iterations):
        counts = (
            nbr.join(lbl, nbr.b == lbl.node)
            .select(F.col("a").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # NOTE: no per-round checkpoint on lbl — measured SLOWER (the
        # per-round block write outweighs the 3-round linear plan);
        # nbr's checkpoint above is the one that pays
        lbl = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("node", "label")
        )
    return lbl


def label_propagation_weighted(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted label propagation — the weighted twin the PageRank and
    clustering families already have: a node adopts the label with the
    largest SUM OF EDGE WEIGHTS among its neighbors (Raghavan et al.'s
    extension; a frequent contact outvotes many one-off ones), ties
    still broken by smallest label, fixed `iterations` rounds. With
    all weights 1 this reduces exactly to label_propagation (pinned in
    tests). Weights must be positive integers for the exact-BIGINT
    contract (same stance as pagerank_weighted: non-positive weights
    are dropped, not propagated); the undirected neighbor weight is
    the SUM of both directions' weights, so a↔b multi-edges reinforce.

    Shape: identical iterate-as-join discipline — per round one
    neighbor join, one (node, label) weight-sum aggregation, one
    window argmax, all keyed on node ids. Returns (node, label)."""
    from pyspark.sql import Window

    e = (
        edges.select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(weight).cast("long").alias("wt"),
        )
        .filter((F.col("a") != F.col("b")) & (F.col("wt") > 0))
    )
    # nbr feeds the node mint and every round's join — checkpoint
    # lazily so the weight-sum chain computes once and round plans stay
    # flat (guide §1.2; r16: the unweighted twin had this, the weighted
    # variant re-ran the doubled-edge groupBy in all 3 rounds + mint)
    nbr = (
        e.unionByName(
            e.select(
                F.col("b").alias("a"), F.col("a").alias("b"), "wt"
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("wt").alias("wt"))
        .localCheckpoint(eager=False)
    )
    nodes = nbr.select(F.col("a").alias("node")).distinct()
    lbl = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iterations):
        counts = (
            nbr.join(lbl, nbr.b == lbl.node)
            .select(F.col("a").alias("node"), "label", "wt")
            .groupBy("node", "label")
            .agg(F.sum("wt").alias("cnt"))
        )
        # NOTE: no per-round checkpoint on lbl — measured SLOWER (the
        # per-round block write outweighs the 3-round linear plan);
        # nbr's checkpoint above is the one that pays
        lbl = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("node", "label")
        )
    return lbl


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman, "Network
    structure and minimum degree", Social Networks 1983; the standard
    distributed formulation — see also Montresor et al., "Distributed
    k-core decomposition", PODC 2011): repeatedly delete every node
    whose degree in the surviving induced subgraph is < k until a
    fixed point. What survives is the maximal subgraph where everyone
    has >= k neighbors — the dense backbone that filters out tendrils
    and one-off interactions (spam/bot cores, community scaffolds).

    Semantics: the graph is SIMPLIFIED first — undirected, multi-edges
    collapsed, self-loops dropped — so degree means distinct
    neighbors. Peeling converges in at most the graph's degeneracy
    ordering depth; `max_rounds` caps the loop (extra rounds after the
    fixed point are no-ops, the resolve_ancestors saturation
    argument), and the loop early-exits when a round removes nothing
    (one bounded driver count per round). Returns (node, core_degree)
    for the surviving nodes — core_degree is the node's degree INSIDE
    the core, >= k by construction.

    Cost shape per round: one alive-filtered edge join (node-id keyed,
    both sides shuffle on id) + one degree aggregate; the alive set
    localCheckpoints each round so lineage stays flat and the next
    round scans materialized ids, not the whole peeling history. At
    100 TB the edge table dominates; rounds are degeneracy-bounded
    (tens for real social graphs), each a pair of id-keyed shuffles."""
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = ue.select(F.col("a").alias("node"), F.col("b").alias("o")).unionByName(
        ue.select(F.col("b").alias("node"), F.col("a").alias("o"))
    )
    alive = sym.select("node").distinct().localCheckpoint(eager=False)
    n_alive = alive.count()
    for _ in range(max_rounds):
        deg = (
            sym.join(alive, "node")
            .join(alive.select(F.col("node").alias("o")), "o")
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        nxt = (
            deg.filter(F.col("deg") >= k)
            .select("node")
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        alive = nxt
        if n_nxt == n_alive:
            break
        n_alive = n_nxt
    return (
        sym.join(alive, "node")
        .join(alive.select(F.col("node").alias("o")), "o")
        .groupBy("node")
        .agg(F.count("*").alias("core_degree"))
    )


def bfs_hops(
    edges: DataFrame,
    source: int | None = None,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 15,
) -> DataFrame:
    """Single-source BFS hop distance — the missing shortest-path
    primitive beside PageRank (importance), LPA (communities),
    triangles (clustering), and k-core (density): which nodes can the
    source reach, and in how many hops (unweighted shortest path =
    BFS level). The distributed formulation is frontier relaxation
    (Pregel/GraphX's canonical example, re-expressed as DataFrame
    joins): dist₀ = {source: 0}; each round extends the settled set by
    one hop — candidates = neighbors(dist) at hop+1, then a min()
    aggregate keeps the earliest hop per node. BFS levels are
    monotone, so a settled node's hop never changes (min() is a no-op
    on it) and extra rounds past convergence are no-ops — the same
    saturation argument that makes kcore/resolve_ancestors oracle-able
    by a fixed unrolled-CTE depth.

    Semantics: undirected simplified graph (multi-edges collapsed,
    self-loops dropped), matching kcore. Integer-exact by construction
    (hops are counts) — differentially checkable against an unrolled
    SQL twin. `source=None` elects the best-connected node (max
    distinct-neighbor degree, smallest id on ties) from the SAME
    simplified graph — one degree aggregate + a 1-row driver fetch,
    so callers never rebuild the simplification just to pick a
    source; an empty edge list yields an empty (node, hop) frame.

    Unlike kcore, BFS has no saturation-by-depth guarantee: if round
    max_rounds still settles new nodes, nodes further away are
    silently absent from "every reachable node", and an unrolled
    oracle of the same depth cannot detect it — so that condition is
    surfaced as a RuntimeWarning (the per-round count is already paid
    for the early-exit).

    Cost shape per round: one frontier-filtered edge join (node-id
    keyed) + one min() aggregate; dist localCheckpoints each round so
    lineage stays flat. Early-exits when a round settles nothing (one
    bounded driver count per round). At 100 TB the per-round cost is
    |frontier ⋈ edges| — the standard BFS bound; rounds are bounded by
    graph diameter (small-world graphs: tens)."""
    spark = edges.sparkSession
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = ue.select(
        F.col("a").alias("node"), F.col("b").alias("o")
    ).unionByName(ue.select(F.col("b").alias("node"), F.col("a").alias("o")))
    if source is None:
        src_row = (
            sym.groupBy("node")
            .agg(F.count("*").alias("deg"))
            .orderBy(F.desc("deg"), F.asc("node"))
            .first()
        )
        if src_row is None:  # empty graph — nothing reachable
            return spark.createDataFrame([], "node long, hop int")
        source = int(src_row["node"])
    dist = spark.createDataFrame(
        [(int(source), 0)], "node long, hop int"
    ).localCheckpoint(eager=False)
    # TRUE frontier relaxation: each round joins only the nodes settled
    # LAST round (the frontier), not the whole settled set — the
    # |frontier ⋈ edges| bound the docstring always claimed. The old
    # shape re-joined and re-aggregated every settled node every round
    # (|settled ⋈ edges| work, growing per round); BFS monotonicity (a
    # settled node's hop never improves) makes the two identical in
    # output, so only the anti-join against the settled set is needed
    # to drop re-reached nodes. Convergence = an empty frontier.
    frontier = dist
    converged = False
    for _ in range(max_rounds):
        new = loop_checkpoint(
            sym.join(frontier, "node")
            .select(F.col("o").alias("node"), (F.col("hop") + 1).alias("hop"))
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            .join(dist.select("node"), "node", "left_anti")
        )
        n_new = new.count()
        if n_new == 0:
            converged = True
            break
        dist = loop_checkpoint(dist.unionByName(new))
        frontier = new
    if not converged:
        # the final allowed round may have settled the LAST frontier —
        # then nothing is missing and the warning would be a false
        # positive. One extra probe (anti-join of the would-be next
        # frontier against the settled set) decides: warn only when
        # another round would actually add nodes.
        would_add = (
            sym.join(dist, "node")
            .select(F.col("o").alias("node"))
            .join(dist.select("node"), "node", "left_anti")
            .limit(1)
            .count()
        )
        if would_add > 0:
            warnings.warn(
                f"bfs_hops: round {max_rounds} still settled new nodes — "
                "nodes beyond that depth are absent; raise max_rounds",
                RuntimeWarning,
                stacklevel=2,
            )
    return dist


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman, "Assortative mixing
    in networks", PRL 2002): the Pearson correlation of endpoint
    degrees over all edges — positive when hubs attach to hubs
    (social networks), negative when hubs attach to leaves
    (hub-and-spoke infrastructure). THE one-number summary of a
    graph's mixing structure, and a standard sanity check before
    sampling or partitioning a graph at scale.

    Construction: simplified undirected graph (kcore's contract);
    per-node distinct-neighbor degrees from one aggregate; each edge
    contributes BOTH orientations (x=deg(u),y=deg(v)) and (y,x) — the
    standard undirected convention, which also makes Σx == Σy and
    Σx² == Σy², so r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²) is a single
    exact-integer rational. Σxy and Σx² are Σ over 2|E| orientations
    of deg(u)·deg(v) and can pass 2⁶³ on hub-heavy web-scale graphs
    (max degree 10⁶ over 10⁹ orientations → ~10²¹), so they
    accumulate in DECIMAL(38,0) from the first product — never a
    BIGINT sum that would throw under ANSI — mirroring the DuckDB
    twin's HUGEINT. num/den are emitted as the correctly-rounded
    DOUBLE of the exact decimal value (both engines round the SAME
    integer → bit-identical), and r_micro is ONE micro-quantized IEEE
    division of them (the house one-IEEE-expression contract).

    Cost shape: one degree aggregate + two node-id-keyed broadcast-able
    joins of the degree table onto the edge list + one scalar
    aggregate. At 100 TB the degree table is |V| rows — shuffle-join
    it on node id; everything else is map-side."""
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = ue.select(
        F.col("a").alias("node"), F.col("b").alias("o")
    ).unionByName(ue.select(F.col("b").alias("node"), F.col("a").alias("o")))
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    # both orientations: join deg onto each end of the symmetrized list
    pairs = (
        sym.join(deg, "node")
        .select(F.col("o").alias("node"), F.col("deg").alias("x"))
        .join(deg, "node")
        .select("x", F.col("deg").alias("y"))
    )
    agg = pairs.agg(
        F.count("*").alias("m2"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    # the Σ-products accumulate in DECIMAL(38,0) (the DuckDB twin uses
    # HUGEINT) and num/den leave as the correctly-rounded DOUBLE of the
    # exact decimal — identical across engines because both round the
    # same integer; r_micro is the single IEEE division
    return agg.select(
        F.expr("CAST(m2 / 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CAST(m2 AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("num"),
        F.expr(
            "CAST(CAST(m2 AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("den"),
        F.expr(
            "CASE WHEN CAST(m2 AS DECIMAL(38,0)) * sxx"
            "        = CAST(sx AS DECIMAL(38,0)) * sx THEN CAST(0 AS BIGINT)"
            " ELSE CAST(FLOOR("
            "   CAST(CAST(m2 AS DECIMAL(38,0)) * sxy"
            "        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            " / CAST(CAST(m2 AS DECIMAL(38,0)) * sxx"
            "        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            "  * 1000000) AS BIGINT) END"
        ).alias("r_micro"),
    )
