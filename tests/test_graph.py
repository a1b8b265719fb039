"""Integer-unit PageRank: fixed-point sanity, determinism, edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    graph,
)

UNITS = graph.UNITS


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_star_graph_center_dominates(spark):
    # everyone links to node 0
    e = _edges(spark, [(i, 0) for i in range(1, 6)])
    pr = {r.node: r.rank_units for r in graph.pagerank(e, iterations=3).collect()}
    assert pr[0] > pr[1]
    # leaves are symmetric → identical ranks
    assert len({pr[i] for i in range(1, 6)}) == 1


def test_cycle_is_uniform(spark):
    # a 4-cycle is rank-regular: every node keeps exactly the same score
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    ranks = {
        r.rank_units for r in graph.pagerank(e, iterations=5).collect()
    }
    assert len(ranks) == 1
    # and the value is the damped fixed point of u = 0.85u + 0.15/N
    # (integer arithmetic loses at most a few units per iteration)
    assert abs(next(iter(ranks)) - UNITS // 4) < 10


def test_dangling_node_keeps_teleport_only(spark):
    # 1 → 2; node 2 has no out-edges; nobody links to 1
    e = _edges(spark, [(1, 2)])
    pr = {r.node: r.rank_units for r in graph.pagerank(e, iterations=3).collect()}
    teleport = (15 * UNITS) // (100 * 2)
    assert pr[1] == teleport  # no inflow after iteration 1
    assert pr[2] > pr[1]


def test_multi_edges_collapse(spark):
    # duplicate edges must not double a contribution
    once = graph.pagerank(_edges(spark, [(1, 2), (2, 1)]), iterations=3)
    dup = graph.pagerank(
        _edges(spark, [(1, 2), (1, 2), (2, 1)]), iterations=3
    )
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, dup.collect())
    )


def test_deterministic_across_partitionings(spark):
    pairs = [(i, (i * 7) % 23) for i in range(200) if i != (i * 7) % 23]
    a = graph.pagerank(_edges(spark, pairs), iterations=3).collect()
    b = graph.pagerank(
        _edges(spark, pairs).repartition(13), iterations=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_consecutive_user_edges_window(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "click"),
            (2, "2024-01-01 00:00:01", 20, "click"),
            (3, "2024-01-01 00:00:02", 10, "click"),
            (4, "2024-01-01 00:00:00", 30, "view"),
            (5, "2024-01-01 00:00:03", 30, "view"),  # self-loop dropped
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        map(tuple, graph.consecutive_user_edges(ev).collect())
    )
    assert got == [(10, 20), (20, 10)]


def test_resolve_ancestors_chain_and_forest(spark):
    # two trees: a 7-deep chain rooted at 1 (needs 3 doubling rounds)
    # and a star rooted at 100
    pairs = [(1, 1), (2, 1), (3, 2), (4, 3), (5, 4), (6, 5), (7, 6), (8, 7)]
    pairs += [(100, 100), (101, 100), (102, 100)]
    par = spark.createDataFrame(pairs, "node long, parent long")
    got = {
        r.node: (r.root, r.depth)
        for r in graph.resolve_ancestors(par, rounds=6).collect()
    }
    assert got[1] == (1, 0)
    assert got[8] == (1, 7)
    assert got[5] == (1, 4)
    assert got[100] == (100, 0)
    assert got[102] == (100, 1)


def test_resolve_ancestors_saturates_beyond_needed_rounds(spark):
    # extra rounds past saturation change nothing (root self-loop)
    pairs = [(1, 1), (2, 1), (3, 2)]
    par = spark.createDataFrame(pairs, "node long, parent long")
    a = sorted(map(tuple, graph.resolve_ancestors(par, rounds=2).collect()))
    b = sorted(map(tuple, graph.resolve_ancestors(par, rounds=6).collect()))
    assert a == b


def test_triangle_count_known_graphs(spark):
    # K4: 4 triangles, 6 edges; plus a disconnected path (0 triangles)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10, 11), (11, 12)]
    e = _edges(spark, k4 + path)
    r = graph.triangle_count(e).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (7, 8, 4)
    # true wedge census Σ C(deg,2): K4 nodes 4·C(3,2)=12, path center
    # C(2,2)=1 → 13; global clustering coeff = 3T/wedges = 12/13
    assert r.n_wedges == 13


def test_triangle_count_direction_and_duplicates_collapse(spark):
    # (1,2) twice + (2,1): one undirected edge; triangle counted once
    e = _edges(spark, [(1, 2), (1, 2), (2, 1), (2, 3), (3, 1)])
    r = graph.triangle_count(e).collect()[0]
    assert (r.n_edges, r.n_triangles) == (3, 1)


def test_clustering_coefficients_known_graph(spark):
    # K4 ∪ path: K4 nodes have coeff 1.0 (deg 3, 3 triangles each);
    # the path's middle node has deg 2 and no triangle → 0.0; leaves
    # have deg 1 → NULL
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10, 11), (11, 12)]
    got = {
        r.node: (r.degree, r.n_triangles, r.coeff)
        for r in graph.clustering_coefficients(
            _edges(spark, k4 + path)
        ).collect()
    }
    assert got[0] == (3, 3, 1.0)
    assert got[11] == (2, 0, 0.0)
    assert got[10] == (1, 0, None)


def test_weighted_pagerank_favors_heavy_edge(spark):
    # star: 1→3 with weight 9, 2→3 weight 1; 3→1 and 3→2 weight 1.
    # Node 3 gets all of 1's and 2's mass either way; but 1 receives
    # half of 3's mass (equal out-weights), so ranks split 3 > 1 = 2
    e = spark.createDataFrame(
        [(1, 3, 9), (2, 3, 1), (3, 1, 1), (3, 2, 1)],
        "src long, dst long, w long",
    )
    pr = {r.node: r.rank_units for r in graph.pagerank_weighted(e).collect()}
    assert pr[3] > pr[1] and pr[1] == pr[2]
    # asymmetric out-weights: 3→1 weight 3, 3→2 weight 1 → 1 beats 2
    e2 = spark.createDataFrame(
        [(1, 3, 1), (2, 3, 1), (3, 1, 3), (3, 2, 1)],
        "src long, dst long, w long",
    )
    pr2 = {
        r.node: r.rank_units for r in graph.pagerank_weighted(e2).collect()
    }
    assert pr2[1] > pr2[2]


def test_weighted_pagerank_uniform_weights_equal_unweighted(spark):
    pairs = [(i, (i * 7) % 23) for i in range(100) if i != (i * 7) % 23]
    e = spark.createDataFrame(pairs, "src long, dst long")
    ew = e.withColumn("w", F.lit(5))  # uniform weights cancel out
    a = sorted(map(tuple, graph.pagerank(e, iterations=3).collect()))
    b = sorted(
        map(tuple, graph.pagerank_weighted(ew, iterations=3).collect())
    )
    assert a == b


def _jobs(spark, build) -> int:
    """Spark jobs started while `build()` makes a plan and collects it;
    the DAG scheduler hands out job ids in sequence, so the ids consumed
    count every job (lazy checkpoints run some while the plan is built)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    build().collect()
    return dag.nextJobId() - before


def test_pagerank_rounds_cost_at_most_four_jobs(spark):
    # the loop invariants (edge ⋈ out-weight, node set, N) are made once,
    # so each extra round is one checkpointed join → union → aggregate:
    # two extra rounds add at most 8 jobs
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)])
    ew = e.withColumn("w", F.lit(2))
    for run in (
        lambda it: graph.pagerank(e, iterations=it),
        lambda it: graph.pagerank_weighted(ew, iterations=it),
    ):
        assert _jobs(spark, lambda: run(5)) - _jobs(spark, lambda: run(3)) <= 8


def test_pagerank_of_no_edges_is_empty(spark):
    e = _edges(spark, [])
    assert graph.pagerank(e).collect() == []
    assert graph.pagerank_weighted(e.withColumn("w", F.lit(1))).collect() == []


def test_clustering_coefficients_weighted_known_graph(spark):
    """Triangle {1,2,3} with w12=2, w13=4, w23=6 plus pendant 1-4 w=8:
    c_w(1) = (2+4)/(14·2), c_w(2) = (2+6)/8, c_w(3) = (4+6)/10,
    node 4 deg 1 → NULL. Reverse-direction traffic sums into the
    undirected weight; constant weights reduce to the unweighted
    coefficient."""
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (1, 3, 4), (2, 3, 6), (1, 4, 8)],
        "src long, dst long, w long",
    )
    got = {
        r.node: (r.degree, r.strength, r.n_triangles, r.coeff_w)
        for r in graph.clustering_coefficients_weighted(e).collect()
    }
    assert got[1] == (3, 14, 1, (2 + 4) / (14 * 2))
    assert got[2] == (2, 8, 1, (2 + 6) / (8 * 1))
    assert got[3] == (2, 10, 1, (4 + 6) / (10 * 1))
    assert got[4] == (1, 8, 0, None)

    # constant weights ≡ unweighted coefficient
    k4 = [(a, b, 1) for a in range(4) for b in range(4) if a < b]
    ew = spark.createDataFrame(k4, "src long, dst long, w long")
    got_w = {
        r.node: r.coeff_w
        for r in graph.clustering_coefficients_weighted(ew).collect()
    }
    got_u = {
        r.node: r.coeff
        for r in graph.clustering_coefficients(
            spark.createDataFrame(
                [(a, b) for a, b, _ in k4], "src long, dst long"
            )
        ).collect()
    }
    assert got_w == got_u


def test_clustering_weighted_drops_nonpositive_and_self_loops(spark):
    e = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 0), (1, 1, 9), (3, 1, -5)],
        "src long, dst long, w long",
    )
    got = {r.node: r.degree for r in graph.clustering_coefficients_weighted(e).collect()}
    assert got == {1: 1, 2: 1}


def test_label_propagation_two_cliques_bridge(spark):
    """Two K4 cliques joined by one bridge edge: after 3 rounds each
    clique converges to its minimum id; the bridge does not merge
    them (a single cross-edge never outvotes 3 in-clique neighbors)."""
    k4a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4b = [(a + 10, b + 10) for a, b in k4a]
    e = _edges(spark, k4a + k4b + [(3, 10)])
    got = {r.node: r.label for r in graph.label_propagation(e).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}


def test_label_propagation_deterministic_across_partitionings(spark):
    pairs = [(i, (i * 11) % 29) for i in range(120) if i != (i * 11) % 29]
    a = sorted(map(tuple, graph.label_propagation(_edges(spark, pairs)).collect()))
    b = sorted(
        map(
            tuple,
            graph.label_propagation(
                _edges(spark, pairs).repartition(13)
            ).collect(),
        )
    )
    assert a == b


def test_weighted_lpa_reduces_to_unweighted_on_constant_weights(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src long, dst long",
    )
    w1 = edges.withColumn("w", F.lit(1))
    got = sorted(
        map(tuple, graph.label_propagation_weighted(w1, iterations=3).collect())
    )
    want = sorted(
        map(tuple, graph.label_propagation(edges, iterations=3).collect())
    )
    assert got == want


def test_weighted_lpa_heavy_edge_outvotes_light_ones(spark):
    """Node 10 has two light neighbors labeled 1,2 and one heavy
    neighbor labeled 3 (weight 5): after one round it must adopt 3 —
    the weighted argmax the unweighted variant cannot express."""
    edges = spark.createDataFrame(
        [(10, 1, 1), (10, 2, 1), (10, 3, 5)], "src long, dst long, w long"
    )
    got = {
        r.node: r.label
        for r in graph.label_propagation_weighted(edges, iterations=1).collect()
    }
    assert got[10] == 3
    # unweighted would tie-break to the SMALLEST neighbor label (1)
    unw = {
        r.node: r.label
        for r in graph.label_propagation(
            edges.select("src", "dst"), iterations=1
        ).collect()
    }
    assert unw[10] == 1


def test_weighted_lpa_drops_nonpositive_weights(spark):
    edges = spark.createDataFrame(
        [(10, 3, 5), (10, 4, 0), (10, 5, -2), (3, 10, 1)],
        "src long, dst long, w long",
    )
    lbl = {
        r.node: r.label
        for r in graph.label_propagation_weighted(edges, iterations=1).collect()
    }
    # nodes 4 and 5 only touch 10 via non-positive edges: excluded
    assert set(lbl) == {10, 3}


def test_kcore_peels_cascade_and_keeps_clique(spark):
    # K4 on {1,2,3,4} plus a chain 4-5-6: the 3-core is exactly the K4
    # — 5 and 6 peel (degree < 3), and peeling 6 then 5 must CASCADE
    # (5's degree drops when 6 goes). Multi-edges and direction must
    # not inflate degrees: every edge appears twice, some reversed.
    base = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        base + [(b, a) for a, b in base], "src long, dst long"
    )
    rows = {r.node: r.core_degree for r in graph.kcore(edges, k=3).collect()}
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_empty_when_k_exceeds_density(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    assert graph.kcore(edges, k=3).count() == 0  # triangle degrees are 2
    assert graph.kcore(edges, k=2).count() == 3  # the triangle IS a 2-core


def test_consecutive_user_edges_gap_filter(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 100, "a"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 30), 200, "a"),   # 30s after
        (3, dt.datetime(2024, 1, 1, 0, 5, 0), 300, "a"),    # 270s after
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    dense = graph.consecutive_user_edges(ev)
    sparse = graph.consecutive_user_edges(ev, max_gap_s=60)
    assert dense.count() == 2
    assert [(r.src, r.dst) for r in sparse.collect()] == [(100, 200)]


def test_bfs_hops_path_graph_levels(spark):
    # 0-1-2-3 path: hops are exactly the level numbers
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    hops = {r.node: r.hop for r in graph.bfs_hops(e, 0).collect()}
    assert hops == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_hops_unreachable_nodes_absent(spark):
    # two components: BFS from 0 never reaches the 10-11 island
    e = _edges(spark, [(0, 1), (10, 11)])
    hops = {r.node: r.hop for r in graph.bfs_hops(e, 0).collect()}
    assert hops == {0: 0, 1: 1}


def test_bfs_hops_min_over_multiple_paths(spark):
    # diamond: 0→(1,2)→3 plus a long detour 0-4-5-3; hop(3) is the min
    e = _edges(
        spark, [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (4, 5), (5, 3)]
    )
    hops = {r.node: r.hop for r in graph.bfs_hops(e, 0).collect()}
    assert hops[3] == 2 and hops[5] == 2 and hops[4] == 1


def test_bfs_hops_direction_ignored(spark):
    # edge direction must not matter (undirected contract)
    e = _edges(spark, [(1, 0), (2, 1)])
    hops = {r.node: r.hop for r in graph.bfs_hops(e, 0).collect()}
    assert hops == {0: 0, 1: 1, 2: 2}


def test_bfs_hops_elects_max_degree_source(spark):
    # source=None: node 1 has the highest distinct-neighbor degree (3)
    # → elected as hop-0 root
    e = _edges(spark, [(1, 0), (1, 2), (1, 3), (3, 4)])
    hops = {r.node: r.hop for r in graph.bfs_hops(e).collect()}
    assert hops == {1: 0, 0: 1, 2: 1, 3: 1, 4: 2}


def test_bfs_hops_empty_graph_returns_empty(spark):
    # self-loops simplify away → empty graph → empty frame, no crash
    e = _edges(spark, [(7, 7)])
    out = graph.bfs_hops(e)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "hop"]


def test_bfs_hops_warns_when_truncated(spark):
    # 6-node path with max_rounds=3: round 3 still settles node 3, so
    # nodes 4-5 are silently absent — the RuntimeWarning must fire
    import warnings as w

    e = _edges(spark, [(i, i + 1) for i in range(5)])
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        hops = {
            r.node: r.hop
            for r in graph.bfs_hops(e, 0, max_rounds=3).collect()
        }
    assert hops == {0: 0, 1: 1, 2: 2, 3: 3}
    assert any(
        issubclass(c.category, RuntimeWarning)
        and "settled new nodes" in str(c.message)
        for c in caught
    )
    # converged runs stay silent
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        graph.bfs_hops(e, 0, max_rounds=15).collect()
    assert not [c for c in caught if issubclass(c.category, RuntimeWarning)]


def test_degree_assortativity_star_is_negative(spark):
    # star: hub degree 5 pairs with leaf degree 1 → perfectly
    # disassortative, r = -1 (r_micro = -1000000)
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    row = graph.degree_assortativity(e).collect()[0]
    assert row.n_edges == 5
    assert row.r_micro == -1000000


def test_degree_assortativity_regular_graph_degenerate(spark):
    # cycle: every degree is 2 → zero variance → defined-as-zero branch
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    row = graph.degree_assortativity(e).collect()[0]
    assert row.den == 0 and row.r_micro == 0


# ---------------------------------------------------------------- r9:
# degree-oriented wedge machinery + block-decomposed CN census


def test_degree_orientation_hub_has_zero_out_degree(spark):
    # star: the hub (deg n) must never be a wedge CENTER under the
    # (degree, id) orientation — all edges orient leaf → hub, so the
    # Σ outdeg² wedge bound is 0 where id-orientation (hub = min id)
    # pays C(n, 2)
    n = 50
    e = _edges(spark, [(0, i) for i in range(1, n + 1)])
    canon = graph._canonical_edges(e, "src", "dst")
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    o = graph._degree_oriented(canon, deg)
    out_deg = {r.u: r.c for r in o.groupBy("u").agg(F.count("*").alias("c")).collect()}
    assert 0 not in out_deg  # hub enumerates no wedges
    assert all(v == 1 for v in out_deg.values())
    # and the orientation is the promised total order: deg(u) <= deg(v)
    rows = o.collect()
    dmap = {r.node: r.degree for r in deg.collect()}
    for r in rows:
        assert (dmap[r.u], r.u) < (dmap[r.v], r.v)
        assert r.dv == dmap[r.v]


def test_triangle_count_on_hub_plus_rim(spark):
    # wheel graph: hub 0 + rim cycle 1..8 — every rim edge closes a
    # triangle with the hub; 8 rim triangles, no others
    rim = [(i, i % 8 + 1) for i in range(1, 9)]
    spokes = [(0, i) for i in range(1, 9)]
    e = _edges(spark, rim + spokes)
    r = graph.triangle_count(e).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (9, 16, 8)
    # clustering agrees per node: hub closes 8 of C(8,2)=28 wedges
    cc = {x.node: x for x in graph.clustering_coefficients(e).collect()}
    assert cc[0].n_triangles == 8 and cc[0].degree == 8
    # each rim node: triangles (i-1, i, hub) and (i, i+1, hub)
    assert all(cc[i].n_triangles == 2 and cc[i].degree == 3 for i in range(1, 9))


def test_common_neighbor_counts_matches_bruteforce(spark):
    import itertools
    import random

    rnd = random.Random(9)
    pairs = sorted({tuple(sorted(rnd.sample(range(12), 2))) for _ in range(30)})
    e = _edges(spark, [(a, b) for a, b in pairs])
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for x, y in itertools.combinations(sorted(adj), 2):
        cn = len(adj[x] & adj[y])
        if cn:
            expect[(x, y)] = cn
    got = {
        (r.a, r.b): r.common_n
        for r in graph.common_neighbor_counts(e).collect()
    }
    assert got == expect
    # block decomposition is routing, not semantics: a block size far
    # below every degree must yield the identical census
    got_blocked = {
        (r.a, r.b): r.common_n
        for r in graph.common_neighbor_counts(e, block_size=2).collect()
    }
    assert got_blocked == expect


def test_common_neighbor_counts_star(spark):
    # star: every leaf pair shares exactly the hub; hub pairs with no one
    n = 10
    e = _edges(spark, [(0, i) for i in range(1, n + 1)])
    rows = graph.common_neighbor_counts(e, block_size=4).collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r.common_n == 1 and r.a >= 1 for r in rows)


def test_loop_checkpoint_reliable_path_when_dir_set(spark, tmp_dir):
    """VERDICT r15 item 9: iterative loops (CC / PageRank / BFS) take
    the RELIABLE checkpoint path when the session has a checkpoint dir
    (restartable rounds at 100 TB), and results are identical to the
    default executor-local path — checkpointing moves blocks, never
    data content."""
    import os

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dedup,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    local = sorted(
        (r.id, r.component)
        for r in dedup.connected_components(edges).collect()
    )
    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    ckdir = os.path.join(tmp_dir, "reliable_ck")
    sc.setCheckpointDir(ckdir)
    try:
        reliable = sorted(
            (r.id, r.component)
            for r in dedup.connected_components(edges).collect()
        )
        assert reliable == local
        # the reliable path actually wrote checkpoint data there
        assert any(os.scandir(ckdir)), "no reliable checkpoint written"
    finally:
        # un-set for the rest of the suite (None is not accepted by the
        # JVM setter; clear the underlying option directly — the scala
        # setter name contains '$', so reach it via getattr)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
