"""Graph queries over the event-proximity user graph: PageRank,
label propagation, k-core, BFS, clustering and link prediction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    graph,
)

from catalog import query
from catalog._common import _q, _sql_q, _t


@query(f"""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            e AS (SELECT DISTINCT src, dst FROM raw
                  WHERE src IS NOT NULL AND src <> dst),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            nt AS (SELECT COUNT(*) AS n FROM nodes),
            od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
            r0 AS (SELECT node, 1000000000 // n AS ru FROM nodes, nt),
            c1 AS (SELECT dst AS node, SUM(ru // outdeg) AS inflow
                   FROM e JOIN r0 ON e.src = r0.node JOIN od USING (src)
                   GROUP BY 1),
            r1 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c1 USING (node), nt),
            c2 AS (SELECT dst AS node, SUM(ru // outdeg) AS inflow
                   FROM e JOIN r1 ON e.src = r1.node JOIN od USING (src)
                   GROUP BY 1),
            r2 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c2 USING (node), nt),
            c3 AS (SELECT dst AS node, SUM(ru // outdeg) AS inflow
                   FROM e JOIN r2 ON e.src = r2.node JOIN od USING (src)
                   GROUP BY 1),
            r3 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c3 USING (node), nt)
            SELECT node, CAST(ru AS BIGINT) AS rank_units,
                   {_sql_q("ru / 1000000000.0", 6)} AS rank
            FROM r3
            ORDER BY rank_units DESC, node ASC
            LIMIT 50
        """)
def q_pagerank_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the who-follows-whom user graph (operators/
    graph.py): edges u→v when v acts right after u in the same event
    type's time-ordered stream, then 3 integer-unit PageRank iterations
    (damping 85/100 as a rational, every step exact BIGINT math). The
    DuckDB oracle unrolls the 3 iterations as CTEs and matches
    rank_units EXACTLY — a differentially-checked iterative graph
    algorithm, which float PageRank cannot be. Top-50 by rank."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev)
    pr = graph.pagerank(edges, iterations=3, damping=0.85)
    return (
        pr.select("node", "rank_units", _q(F.col("rank"), 6).alias("rank"))
        .orderBy(F.desc("rank_units"), F.asc("node"))
        .limit(50)
    )


@query("""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            e AS (
                SELECT DISTINCT src AS a, dst AS b
                FROM raw WHERE src IS NOT NULL AND src <> dst
            ),
            nbr AS (
                SELECT DISTINCT a, b FROM (
                    SELECT a, b FROM e UNION ALL SELECT b, a FROM e
                )
            ),
            l0 AS (SELECT DISTINCT a AS node, a AS label FROM nbr),
            l1 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY COUNT(*) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l0 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            l2 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY COUNT(*) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l1 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            l3 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY COUNT(*) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l2 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            dummy AS (SELECT 1)
            SELECT node, label FROM l3 ORDER BY node
        """)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the who-follows-whom graph
    (graph.label_propagation): synchronous LPA with the random
    tie-break replaced by smallest-label — a total order that makes 3
    rounds a pure function of the graph, oracled by 3 unrolled
    count-argmax CTEs. Returns every node's community label."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev)
    return graph.label_propagation(edges, iterations=3).orderBy("node")


@query("""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            de AS (
                SELECT src AS a, dst AS b, CAST(COUNT(*) AS BIGINT) AS wt
                FROM raw WHERE src IS NOT NULL AND src <> dst
                GROUP BY 1, 2
            ),
            nbr AS (
                SELECT a, b, CAST(SUM(wt) AS BIGINT) AS wt FROM (
                    SELECT a, b, wt FROM de
                    UNION ALL SELECT b, a, wt FROM de
                ) GROUP BY 1, 2
            ),
            l0 AS (SELECT DISTINCT a AS node, a AS label FROM nbr),
            l1 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY SUM(n.wt) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l0 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            l2 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY SUM(n.wt) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l1 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            l3 AS (
                SELECT node, label FROM (
                    SELECT n.a AS node, l.label,
                           ROW_NUMBER() OVER (
                               PARTITION BY n.a
                               ORDER BY SUM(n.wt) DESC, l.label ASC
                           ) AS rk
                    FROM nbr n JOIN l2 l ON n.b = l.node
                    GROUP BY n.a, l.label
                )
                WHERE rk = 1
            ),
            dummy AS (SELECT 1)
            SELECT node, label FROM l3 ORDER BY node
        """)
def q_label_propagation_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted LPA (graph.label_propagation_weighted) on the
    who-follows-whom graph with edge weight = follow count (the
    multi-edge count the unweighted variant collapses) — completing
    the weighted twin set beside pagerank_weighted and
    clustering_weighted. Deterministic: weight-sum argmax with
    smallest-label tie-break, 3 fixed rounds, exact BIGINT weight
    sums; oracled by 3 unrolled weighted count-argmax CTEs."""
    ev = _t(spark, sf_dir, "events")
    edges = (
        graph.consecutive_user_edges(ev)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    return graph.label_propagation_weighted(edges, iterations=3).orderBy(
        "node"
    )


@query("""
            WITH RECURSIVE nodes AS (
                SELECT user_id,
                       CAST(dense_rank() OVER (ORDER BY user_id ASC)
                            AS BIGINT) AS r
                FROM (SELECT DISTINCT user_id FROM events)
            ),
            par AS (
                SELECT user_id, r,
                       CASE WHEN r = 1 THEN 1
                            WHEN ('0x' || substring(md5('tree:'
                                     || CAST(r AS VARCHAR)), 1, 15)
                                 )::UBIGINT % 2 = 0
                                 THEN GREATEST(1, r // 2)
                            ELSE GREATEST(1, r // 3)
                       END AS p
                FROM nodes
            ),
            walk AS (
                SELECT r, p AS anc,
                       CASE WHEN p = r THEN 0 ELSE 1 END AS d
                FROM par
                UNION ALL
                SELECT w.r, q.p, w.d + 1
                FROM walk w JOIN par q ON w.anc = q.r
                WHERE w.anc <> q.p
            )
            SELECT user_id, r, CAST(MAX(d) AS BIGINT) AS depth
            FROM (SELECT par.user_id, walk.r, walk.d
                  FROM walk JOIN par USING (r))
            GROUP BY 1, 2
            ORDER BY r
        """)
def q_hierarchy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE, the Spark way: resolve depth-to-root for every
    node of an irregular forest using pointer doubling
    (graph.resolve_ancestors — 6 self-joins resolve any depth ≤ 64,
    vs depth sequential steps for a naive walk). Spark has no recursive
    CTE; this is the log-round equivalent, and the DuckDB oracle IS the
    real WITH RECURSIVE — the differential gate proves the two
    formulations equal. The demo forest hangs off the ranked distinct
    users with an md5-parity parent rule (r DIV 2 or r DIV 3), so the
    tree is irregular enough that depth requires actual traversal.
    Node ids are minted DISTRIBUTIVELY — cutpoint buckets + per-bucket
    row_number + bounded offsets, the same machinery as
    q_order_quartiles — so even the scaffolding has no single-partition
    window. (The operator itself takes any (node, parent) table.)"""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    # materialized once: the quantile pass, the bucket-offset collect,
    # and the forest build each re-ran the events scan + distinct.
    us = ev.select("user_id").distinct().localCheckpoint(eager=False)
    cuts = sorted(
        set(
            us.stat.approxQuantile(
                "user_id", [i / 8 for i in range(1, 8)], 0.001
            )
        )
    )
    pid = sum(
        (F.when(F.col("user_id") > F.lit(c), 1).otherwise(0) for c in cuts),
        F.lit(0),
    ).alias("pid")
    part = us.select("user_id", pid)
    offs, acc = [], 0
    for p, n in sorted(
        (r.pid, r.n)
        for r in part.groupBy("pid").agg(F.count("*").alias("n")).collect()
    ):
        offs.append((p, acc))
        acc += n
    off_df = spark.createDataFrame(offs, "pid int, off long")
    wb = W.partitionBy("pid").orderBy(F.asc("user_id"))
    nodes = (
        part.join(F.broadcast(off_df), "pid")
        .withColumn("r", (F.col("off") + F.row_number().over(wb)).cast("long"))
        .select("user_id", "r")
    )
    parity = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("tree:"), F.col("r"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    parent = (
        F.when(F.col("r") == 1, F.lit(1))
        .when(parity == 0, F.greatest(F.lit(1), F.expr("r DIV 2")))
        .otherwise(F.greatest(F.lit(1), F.expr("r DIV 3")))
    )
    par = nodes.select("user_id", "r", parent.alias("p"))
    resolved = graph.resolve_ancestors(
        par.select(F.col("r").alias("node"), F.col("p").alias("parent")),
        rounds=6,
    )
    return (
        par.join(resolved, par.r == resolved.node)
        .select("user_id", "r", "depth")
        .orderBy("r")
    )


@query("""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            e AS (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM raw WHERE src IS NOT NULL AND src <> dst
            ),
            nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
            deg AS (
                SELECT n, COUNT(*) AS degree FROM (
                    SELECT a AS n FROM e UNION ALL SELECT b FROM e
                ) GROUP BY 1
            ),
            w AS (
                SELECT e1.a, e1.b AS x, e2.b AS y
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
            )
            SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
                   (SELECT COUNT(*) FROM e) AS n_edges,
                   (SELECT CAST(COALESCE(SUM(degree * (degree - 1) // 2), 0)
                                AS BIGINT)
                    FROM deg) AS n_wedges,
                   (SELECT COUNT(*) FROM w
                    WHERE EXISTS (SELECT 1 FROM e
                                  WHERE e.a = w.x AND e.b = w.y)
                   ) AS n_triangles
        """)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the who-follows-whom user graph
    (graph.triangle_count over consecutive_user_edges): nodes, edges,
    wedges, triangles as one exact-integer row. Triangles are the
    clustering primitive — the same wedge-close join pattern a spam/
    collusion detector runs at corpus scale. DuckDB oracle is the
    identical canonical-edge three-way join."""
    ev = _t(spark, sf_dir, "events")
    return graph.triangle_count(graph.consecutive_user_edges(ev))


@query(f"""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            e AS (
                SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM raw WHERE src IS NOT NULL AND src <> dst
            ),
            deg AS (
                SELECT node, COUNT(*) AS degree FROM (
                    SELECT a AS node FROM e
                    UNION ALL SELECT b FROM e
                ) GROUP BY 1
            ),
            w AS (
                SELECT e1.a, e1.b AS x, e2.b AS y
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
            ),
            closed AS (
                SELECT * FROM w
                WHERE EXISTS (SELECT 1 FROM e
                              WHERE e.a = w.x AND e.b = w.y)
            ),
            tn AS (
                SELECT node, COUNT(*) AS n_triangles FROM (
                    SELECT UNNEST([a, x, y]) AS node FROM closed
                ) GROUP BY 1
            )
            SELECT deg.node, degree,
                   COALESCE(n_triangles, 0) AS n_triangles,
                   {_sql_q(
                       "CASE WHEN degree >= 2 THEN "
                       "CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)"
                       " / (degree * (degree - 1)) END", 6
                   )} AS coeff
            FROM deg LEFT JOIN tn USING (node)
            ORDER BY node
        """)
def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficients of the who-follows-whom
    graph (graph.clustering_coefficients): degree, triangle membership
    count, and 2T/(d(d-1)) — exact integers plus one IEEE division, so
    the whole census hash-matches the DuckDB twin. The per-node view of
    triangle_count's global census."""
    ev = _t(spark, sf_dir, "events")
    cc = graph.clustering_coefficients(graph.consecutive_user_edges(ev))
    return cc.select(
        "node",
        "degree",
        "n_triangles",
        _q(F.col("coeff"), 6).alias("coeff"),
    ).orderBy("node")


@query(f"""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            d AS (
                SELECT src AS s, dst AS dd, COUNT(*) AS w
                FROM raw WHERE src IS NOT NULL AND src <> dst
                GROUP BY 1, 2
            ),
            e AS (
                SELECT LEAST(s, dd) AS a, GREATEST(s, dd) AS b,
                       CAST(SUM(w) AS BIGINT) AS w
                FROM d GROUP BY 1, 2
            ),
            deg AS (
                SELECT node, COUNT(*) AS degree,
                       CAST(SUM(w) AS BIGINT) AS strength
                FROM (
                    SELECT a AS node, w FROM e
                    UNION ALL SELECT b, w FROM e
                ) GROUP BY 1
            ),
            tri AS (
                SELECT e1.a AS na, e1.b AS nx, e2.b AS ny,
                       e1.w AS wax, e2.w AS way, e3.w AS wxy
                FROM e e1
                JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            contrib AS (
                SELECT na AS node, wax + way AS c FROM tri
                UNION ALL SELECT nx, wax + wxy FROM tri
                UNION ALL SELECT ny, way + wxy FROM tri
            ),
            tn AS (
                SELECT node, COUNT(*) AS n_triangles,
                       CAST(SUM(c) AS BIGINT) AS tri_w
                FROM contrib GROUP BY 1
            )
            SELECT deg.node, degree, strength,
                   COALESCE(n_triangles, 0) AS n_triangles,
                   {_sql_q(
                       "CASE WHEN degree >= 2 THEN "
                       "CAST(COALESCE(tri_w, 0) AS DOUBLE)"
                       " / (strength * (degree - 1)) END", 6
                   )} AS coeff_w
            FROM deg LEFT JOIN tn USING (node)
            ORDER BY node
        """)
def q_clustering_weighted_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Barrat weighted clustering coefficients of the who-follows-whom
    MULTIGRAPH (graph.clustering_coefficients_weighted): edge weight =
    follow count, strength = summed incident traffic, coefficient =
    Σ(w_ij+w_ih over triangles) / (s·(k−1)) — all numerators and
    denominators exact BIGINTs, one IEEE division at the end, so the
    DuckDB CTE twin hash-matches. Completes the weighted tier begun by
    pagerank_weighted_graph (the r4 verdict's scope-boundary item)."""
    ev = _t(spark, sf_dir, "events")
    edges = (
        graph.consecutive_user_edges(ev)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    cc = graph.clustering_coefficients_weighted(edges)
    return cc.select(
        "node",
        "degree",
        "strength",
        "n_triangles",
        _q(F.col("coeff_w"), 6).alias("coeff_w"),
    ).orderBy("node")


@query(f"""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       user_id AS dst
                FROM events
            ),
            e AS (SELECT src, dst, COUNT(*) AS w FROM raw
                  WHERE src IS NOT NULL AND src <> dst
                  GROUP BY 1, 2),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            nt AS (SELECT COUNT(*) AS n FROM nodes),
            ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e
                   GROUP BY 1),
            r0 AS (SELECT node, 1000000000 // n AS ru FROM nodes, nt),
            c1 AS (SELECT dst AS node, SUM((ru * w) // wsum) AS inflow
                   FROM e JOIN r0 ON e.src = r0.node JOIN ws USING (src)
                   GROUP BY 1),
            r1 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c1 USING (node), nt),
            c2 AS (SELECT dst AS node, SUM((ru * w) // wsum) AS inflow
                   FROM e JOIN r1 ON e.src = r1.node JOIN ws USING (src)
                   GROUP BY 1),
            r2 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c2 USING (node), nt),
            c3 AS (SELECT dst AS node, SUM((ru * w) // wsum) AS inflow
                   FROM e JOIN r2 ON e.src = r2.node JOIN ws USING (src)
                   GROUP BY 1),
            r3 AS (SELECT nodes.node,
                          (85 * COALESCE(inflow, 0)) // 100
                          + 15000000000 // (100 * n) AS ru
                   FROM nodes LEFT JOIN c3 USING (node), nt)
            SELECT node, CAST(ru AS BIGINT) AS rank_units,
                   {_sql_q("ru / 1000000000.0", 6)} AS rank
            FROM r3
            ORDER BY rank_units DESC, node ASC
            LIMIT 50
        """)
def q_pagerank_weighted_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the who-follows-whom graph: edge weight =
    how many times v followed u (the multi-edge count the unweighted
    variant collapses), so frequent followers transfer proportionally
    more mass — graph.pagerank_weighted, same exact-BIGINT contract,
    oracled by 3 unrolled weighted CTEs. Top-50 by rank."""
    ev = _t(spark, sf_dir, "events")
    edges = (
        graph.consecutive_user_edges(ev)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    pr = graph.pagerank_weighted(edges, iterations=3, damping=0.85)
    return (
        pr.select("node", "rank_units", _q(F.col("rank"), 6).alias("rank"))
        .orderBy(F.desc("rank_units"), F.asc("node"))
        .limit(50)
    )


@query(lambda: _kcore_sql(3, 20))
def q_kcore_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the TEMPORAL user interaction graph (operators/
    graph.py: kcore — Seidman 1983 peeling, the PODC 2011 distributed
    formulation): edges only between users acting within 60 s of each
    other in the same stream (the sparse actual-proximity graph —
    exact integer-microsecond gap, no float boundary; the unfiltered
    adjacency graph is so dense its 3-core is the identity),
    then iteratively delete nodes with < 3 distinct neighbors in the
    surviving induced subgraph until fixed point. What remains is the
    dense interaction backbone with tendrils and one-off interactions
    peeled away — the graph tier's density filter beside PageRank
    (importance), LPA (communities), and triangles (clustering). At
    the driver's sf0.01 the peel is a real cascade (130 of 149 nodes
    survive with in-core degrees 3-11). Integer-exact by construction
    (degrees are counts), so the DuckDB twin unrolls the peeling
    rounds as MATERIALIZED CTEs and matches every (node, core_degree)
    row — extra unrolled rounds past the fixed point are no-ops, the
    hierarchy_resolve saturation argument. Output: surviving nodes
    with their in-core degree, node-ordered."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev, max_gap_s=60)
    return graph.kcore(edges, k=3, max_rounds=20).orderBy("node")


@query(lambda: _bfs_sql(15))
def q_bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance over the 60 s temporal-proximity
    user graph (graph.bfs_hops — frontier relaxation, the Pregel
    canonical example as DataFrame joins): from the best-connected
    user (max distinct-neighbor degree, smallest id on ties — a
    deterministic source both engines compute identically), how many
    hops to every reachable user. The missing shortest-path primitive
    beside PageRank/LPA/triangles/k-core; what a pipeline runs to
    measure reach, diameter bounds, and influence radius. BFS levels
    are monotone, so rounds past convergence are no-ops — the kcore
    saturation argument — and the DuckDB twin unrolls the same rounds
    as MATERIALIZED CTEs over the identical simplified undirected
    graph. Integer-exact by construction (hops are counts). Shape per
    round: one frontier⋈edges id-keyed join + one min() aggregate;
    the source election happens INSIDE bfs_hops (source=None) on the
    already-simplified graph — one degree aggregate + a 1-row driver
    fetch, no duplicate simplification, and an empty proximity graph
    yields an empty frame instead of a None dereference. Output:
    (node, hop), node-ordered."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev, max_gap_s=60)
    return graph.bfs_hops(edges, max_rounds=15).orderBy("node")


def _prox_graph_sql(gap_s: int = 60) -> str:
    """Simplified undirected temporal-proximity user graph as a CTE
        prefix (raw → ue → sym), parameterized by the max gap."""
    return f"""
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       LAG(epoch_us(ts)) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS pus,
                       user_id AS dst,
                       epoch_us(ts) AS us
                FROM events
            ),
            ue AS (SELECT DISTINCT least(src, dst) AS a,
                                   greatest(src, dst) AS b
                   FROM raw WHERE src IS NOT NULL AND src <> dst
                     AND us - pus <= {gap_s * 1_000_000}),
            sym AS MATERIALIZED (SELECT a AS node, b AS o FROM ue
                    UNION ALL SELECT b, a FROM ue)"""

_PROX_GRAPH = _prox_graph_sql(60)


@query(_PROX_GRAPH
    + """,
            deg AS MATERIALIZED (
                SELECT node, COUNT(*) AS deg FROM sym GROUP BY node),
            p AS (
                SELECT dx.deg AS x, dy.deg AS y
                FROM sym s
                JOIN deg dx ON s.node = dx.node
                JOIN deg dy ON s.o = dy.node
            ),
            agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
                       CAST(SUM(x) AS HUGEINT) AS sx,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy
                FROM p
            )
            SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
                   CAST(m2 * sxy - sx * sx AS DOUBLE) AS num,
                   CAST(m2 * sxx - sx * sx AS DOUBLE) AS den,
                   CASE WHEN m2 * sxx = sx * sx THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(
                            CAST(m2 * sxy - sx * sx AS DOUBLE)
                          / CAST(m2 * sxx - sx * sx AS DOUBLE)
                          * 1000000) AS BIGINT)
                   END AS r_micro
            FROM agg
        """)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 60 s temporal-proximity user graph
    (graph.degree_assortativity — Newman, PRL 2002): the Pearson
    correlation of endpoint degrees across edges, THE one-number
    mixing summary (hubs-to-hubs positive, hub-and-spoke negative) a
    graph pipeline checks before sampling or partitioning. Exact
    construction: simplified undirected graph, distinct-neighbor
    degrees, both edge orientations — which makes Σx == Σy exactly,
    so r collapses to the single rational
    (M·Σxy − Σx²ᵗᵒᵗ)/(M·Σx² − Σx²ᵗᵒᵗ); the Σ-products accumulate in
    DECIMAL(38,0) (hub-heavy graphs push them past 2⁶³ — the DuckDB
    twin uses HUGEINT), num/den leave as the correctly-rounded DOUBLE
    of the same exact integer (bit-identical across engines), and
    r_micro is ONE micro-quantized IEEE division (the house one-float
    contract). Shape: one degree aggregate + two node-id-keyed joins
    + one scalar aggregate."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev, max_gap_s=60)
    return graph.degree_assortativity(edges)


@query(_prox_graph_sql(300)
    + """,
            deg AS (
                SELECT node, COUNT(*) AS deg FROM sym GROUP BY node),
            wedge AS (
                SELECT x.o AS a, y.o AS b, COUNT(*) AS common_n
                FROM sym x JOIN sym y ON x.node = y.node AND x.o < y.o
                GROUP BY x.o, y.o
            ),
            nonedge AS (
                SELECT w.a, w.b, w.common_n FROM wedge w
                LEFT JOIN ue e ON e.a = w.a AND e.b = w.b
                WHERE e.a IS NULL
            )
            SELECT n.a, n.b, n.common_n,
                   da.deg AS deg_a, db.deg AS deg_b,
                   n.common_n * 1000000
                       // (da.deg + db.deg - n.common_n) AS jacc_micro
            FROM nonedge n
            JOIN deg da ON da.node = n.a
            JOIN deg db ON db.node = n.b
            ORDER BY n.common_n DESC, n.a ASC, n.b ASC
            LIMIT 20
        """)
def q_link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction (Liben-Nowell & Kleinberg, CIKM
    2003 — the baseline every link-prediction paper reports first) over
    the 60 s temporal-proximity user graph: the top-20 NON-adjacent
    pairs by shared-neighbor count, with the Jaccard-normalized score
    cn/(deg_a + deg_b − cn) in integer micro-units. Construction:
    simplified undirected graph (the kcore/assortativity contract),
    wedge enumeration via graph.common_neighbor_counts — the HUB-SAFE
    census: exact CN is inherently Σ C(deg(m), 2) output rows (every
    wedge counts, so degree orientation — the triangle_count fix —
    does not apply), but the self-join is block-decomposed so a hub's
    pair generation spreads over ⌈deg/4096⌉ join keys instead of
    landing on the one reducer that owns its node id; low-degree
    centers degenerate to the plain join with zero replication.
    Existing edges removed by a left-anti join on the simplified edge
    list, degrees re-attached by two node-keyed joins. Everything is
    exact integers; ordering (cn DESC, a, b) is total. The gap is
    300 s (vs the 60 s bfs/assortativity graph) so the wedge set is
    non-trivial at every test scale. Output:
    (a, b, common_n, deg_a, deg_b, jacc_micro)."""
    ev = _t(spark, sf_dir, "events")
    edges = graph.consecutive_user_edges(ev, max_gap_s=300)
    ue = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = ue.select(
        F.col("a").alias("node"), F.col("b").alias("o")
    ).unionByName(ue.select(F.col("b").alias("node"), F.col("a").alias("o")))
    # the degree table re-attaches on BOTH endpoints below — compute
    # its groupBy once (guide §1.2)
    deg = sym.groupBy("node").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=False
    )
    wedges = graph.common_neighbor_counts(ue, src="a", dst="b")
    nonedge = wedges.join(ue, ["a", "b"], "left_anti")
    # top-20 BEFORE the degree attach (r16, guide §1.2): the selection
    # order is (common_n DESC, a, b) — a total order computed entirely
    # by the wedge census — so the TakeOrdered runs on the census and
    # the degree joins touch 20 rows instead of the full non-adjacent
    # pair table (~1.1M rows at sf0.1). Every wedge endpoint is a graph
    # node, so the inner degree joins drop nothing; the final orderBy
    # re-establishes the output order over the 20 survivors.
    top = nonedge.orderBy(
        F.desc("common_n"), F.asc("a"), F.asc("b")
    ).limit(20)
    return (
        top.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            "common_n",
            "deg_a",
            "deg_b",
            F.expr(
                "common_n * 1000000 div (deg_a + deg_b - common_n)"
            ).alias("jacc_micro"),
        )
        .orderBy(F.desc("common_n"), F.asc("a"), F.asc("b"))
    )


def _kcore_sql(k: int = 3, rounds: int = 20) -> str:
    """DuckDB twin of q_kcore_user_graph: the peeling loop unrolled
        as `rounds` CTEs (extra rounds past the fixed point are no-ops
        — the saturation argument), same simplified undirected graph,
        same integer degrees."""
    parts = [
        """
            WITH raw AS (
                SELECT LAG(user_id) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS src,
                       LAG(epoch_us(ts)) OVER (
                           PARTITION BY event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS pus,
                       user_id AS dst,
                       epoch_us(ts) AS us
                FROM events
            ),
            ue AS (SELECT DISTINCT least(src, dst) AS a,
                                   greatest(src, dst) AS b
                   FROM raw WHERE src IS NOT NULL AND src <> dst
                     AND us - pus <= 60000000),
            sym AS MATERIALIZED (SELECT a AS node, b AS o FROM ue
                    UNION ALL SELECT b, a FROM ue),
            n0 AS MATERIALIZED (SELECT DISTINCT node FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
            n{i} AS MATERIALIZED (SELECT node FROM (
                SELECT s.node, COUNT(*) AS c FROM sym s
                JOIN n{i - 1} p ON s.node = p.node
                JOIN n{i - 1} q ON s.o = q.node
                GROUP BY s.node) WHERE c >= {k})"""
        )
    parts.append(
        f"""
            SELECT s.node AS node, COUNT(*) AS core_degree
            FROM sym s
            JOIN n{rounds} p ON s.node = p.node
            JOIN n{rounds} q ON s.o = q.node
            GROUP BY s.node
            ORDER BY s.node"""
    )
    return "".join(parts)


def _bfs_sql(rounds: int = 15) -> str:
    """DuckDB twin of q_bfs_hop_distance: the same simplified
        undirected 60 s proximity graph, the same deterministic source
        election (max degree, min node id), and the frontier loop
        unrolled as `rounds` MATERIALIZED CTEs — extra rounds past
        convergence are no-ops (BFS levels are monotone, the kcore
        saturation argument)."""
    parts = [
        _PROX_GRAPH,
        """,
            d0 AS MATERIALIZED (
                SELECT node, 0 AS hop FROM (
                    SELECT node, COUNT(*) AS c FROM sym GROUP BY node)
                ORDER BY c DESC, node ASC LIMIT 1)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
            d{i} AS MATERIALIZED (
                SELECT node, MIN(hop) AS hop FROM (
                    SELECT node, hop FROM d{i - 1}
                    UNION ALL
                    SELECT s.o, d.hop + 1 FROM sym s
                    JOIN d{i - 1} d ON s.node = d.node)
                GROUP BY node)"""
        )
    parts.append(
        f"""
            SELECT node, CAST(hop AS INT) AS hop
            FROM d{rounds} ORDER BY node"""
    )
    return "".join(parts)
