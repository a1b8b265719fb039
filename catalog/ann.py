"""ANN serving and semantic dedup queries over trained indexes: IVF,
IMI, LSH bulk search, MMR and streaming serving."""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    similarity,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming import pipeline as streaming

from catalog import query
from catalog._common import _t
from catalog.similarity import _ANN_BULK_QUERIES, _lsh_index, _query_vec


#: semantic dedup quantizer sizing: k = max(16, min(K_MAX, n DIV
#: TARGET)) — the SemDeDup tractability contract (cluster size stays
#: ~TARGET as the corpus grows, so within-cluster pair volume is
#: O(n·TARGET), linear in n). K_MAX bounds the inlined oracle literal
#: (the gated query must stay DuckDB-replayable); the OPERATOR
#: (similarity.semantic_dedup_keep) takes arbitrary trained centroids
#: (train_ivf_centroids) with unbounded k — at 100 TB k ∝ n/TARGET and
#: the n·k assignment matmul is the paper's accepted quantizer cost.
_SEMDEDUP_K_MAX = similarity.BIT_EXACT_ASSIGN_MAX_K  # = 64; raising

#: it would ALSO move semantic_dedup_keep off the bit-exact HOF
#: assignment path — the two bounds are one constant by construction
_SEMDEDUP_TARGET = 100


def _semdedup_k(n: int) -> int:
    return max(16, min(_SEMDEDUP_K_MAX, n // _SEMDEDUP_TARGET))


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup_keep_best: the full K_MAX seeded
    centroid slate, their squared norms, and their norms inlined as
    literals (repr roundtrips doubles exactly), then sliced to the SAME
    k = max(16, min(K_MAX, count(*) DIV TARGET)) the Spark side derives
    (make_unit_planes is prefix-stable, so cid < k selects the
    identical matrix); assignment as a ROW_NUMBER argmin over ‖c‖² − 2·x·c (ties
    → smaller cid, matching Spark's struct-min); within-cluster cosine
    pairs; components via the recursive min-label CTE (the
    dedup_clusters shape); election by (cent_cos_micro, id)."""
    cents = similarity.make_unit_planes(
        dim=64, n_planes=_SEMDEDUP_K_MAX, seed=777
    )
    cn = (cents**2).sum(axis=1)
    cnorm = cn**0.5
    rows = ", ".join(
        f"({i}, {float(cn[i])!r}, {float(cnorm[i])!r}, "
        f"[{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[])"
        for i in range(len(cents))
    )
    return f"""
        WITH cents0(cid, cn, cnorm, c) AS (VALUES {rows}),
        ksel AS (SELECT GREATEST(16, LEAST({_SEMDEDUP_K_MAX},
                     (SELECT COUNT(*) FROM embeddings)
                         // {_SEMDEDUP_TARGET})) AS k),
        cents AS (SELECT * FROM cents0
                  WHERE cid < (SELECT k FROM ksel)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        asg AS (SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(e.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM e, cents c
                ) WHERE rn = 1),
        cc AS (SELECT a.vec_id, a.cid, a.v,
                      CAST(FLOOR(list_inner_product(a.v, c.c)
                                 / (SQRT(list_inner_product(a.v, a.v))
                                    * c.cnorm) * 1000000 + 0.5)
                           AS BIGINT) AS cent_cos_micro
               FROM asg a JOIN cents c ON c.cid = a.cid),
        p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM asg a JOIN asg b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
        edges AS (SELECT ia AS a, ib AS b FROM p
                  UNION SELECT ib, ia FROM p),
        reach AS (
            WITH RECURSIVE r(id, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e2.b, r.label FROM r JOIN edges e2 ON e2.a = r.id
            ) SELECT * FROM r
        ),
        comp_l AS (SELECT id, MIN(label) AS component
                   FROM reach GROUP BY id),
        m AS (SELECT cc.vec_id,
                     COALESCE(l.component, cc.vec_id) AS component,
                     cc.cent_cos_micro
              FROM cc LEFT JOIN comp_l l ON l.id = cc.vec_id),
        k AS (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY component
                          ORDER BY cent_cos_micro ASC, vec_id ASC) AS rn
              FROM m)
        SELECT m.component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(CASE WHEN k.rn = 1 THEN k.vec_id END) AS keep_id,
               MAX(CASE WHEN k.rn = 1 THEN k.cent_cos_micro END)
                   AS keep_cos_micro
        FROM m JOIN k ON k.vec_id = m.vec_id AND k.component = m.component
        GROUP BY m.component
        ORDER BY m.component
    """


@query(_semantic_dedup_oracle_sql)
def q_semantic_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the embedding corpus
    (similarity.semantic_dedup_keep; Abbas et al. 2023): seeded
    prototype centroids partition the space (k = max(16, n/100)
    gaussian directions — k GROWS WITH THE CORPUS so per-cluster size
    stays ~100 and pair volume stays linear; production would train
    k-means via train_ivf_centroids; a FIXED seeded UNIT-NORM matrix
    keeps the whole pipeline oracle-replayable, the LSH-planes
    discipline — prefix-stable: make_unit_planes(K_MAX)[:k] rows are
    the same literals at every k, and k caps at K_MAX=64 (the oracle
    literal budget AND the bit-exact assignment bound — one shared
    constant)), pairs compare WITHIN a cluster only (the paper's
    tractability move), cosine ≥ 0.4 pairs become duplicate
    components (cluster-local union-find min-label), and each
    component keeps its LEAST-prototypical member — lowest
    centroid-cosine, micro-quantized so the election is an integer
    argmin, id tie-break. Completes the dedup tier's semantic corner
    beside exact/minhash/simhash/setsim/containment/passage: those
    dedup FORM (tokens, shingles, spans); this dedups MEANING (two
    differently-worded copies of one fact collapse if the embedding
    space says so). The DuckDB twin inlines the full K_MAX×64 matrix
    and derives the SAME k from count(*), so both engines slice the
    identical centroid prefix; it replays assignment argmin (margins
    O(0.01) vs 1e-13 cross-engine noise, the pq_adc contract),
    within-cluster pairs, a recursive-CTE min-label propagation, and
    the quantized election bit-for-bit. The corpus count driving k is
    a parquet-metadata action (rowcount, no column scan). Output: one
    row per component incl. singletons (component, n_members,
    keep_id, keep_cos_micro)."""
    emb = _t(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    cents = similarity.make_unit_planes(
        dim=64, n_planes=_SEMDEDUP_K_MAX, seed=777
    )[:k]
    return similarity.semantic_dedup_keep(
        emb, cents, threshold=0.4
    ).orderBy("component")


#: IMI quantizer sizing for the gated query: K per half =
#: max(4, min(K_MAX, ceil(sqrt(n/TARGET)))) — K² cells track
#: n/TARGET like the flat path, but assignment costs 2·K half-dots
#: instead of K² full ones (the sub-quadratic leg; see
#: similarity.imi_assign_arrow).
_SEMDEDUP_IMI_K_MAX = 16


def _semdedup_imi_K(n: int) -> int:
    return max(4, min(_SEMDEDUP_IMI_K_MAX, math.ceil(math.sqrt(n / 100.0))))


def _semantic_dedup_imi_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup_imi: both half codebooks inlined
    (squared norms + rows), K = ceil-sqrt clamp derived from count(*),
    per-half argmin via ROW_NUMBER over ‖c‖² − 2·x_h·c on the sliced
    list (ties → smaller index), cid = c1·K + c2, election cosine as
    (x₁·c1 + x₂·c2)/(‖x‖·√(cn1+cn2)) — the exact Spark expression
    order — then the flat twin's pair/component/election CTEs."""
    cb = similarity.make_imi_codebooks(
        dim=64, n_cells_per_half=_SEMDEDUP_IMI_K_MAX, seed=777
    )
    half_rows = []
    for h in range(2):
        cn = (cb[h] ** 2).sum(axis=1)
        half_rows.append(
            ", ".join(
                f"({i}, {float(cn[i])!r}, "
                f"[{', '.join(repr(float(x)) for x in cb[h, i])}]"
                "::DOUBLE[])"
                for i in range(cb.shape[1])
            )
        )
    return f"""
        WITH cb1_0(i, cn, c) AS (VALUES {half_rows[0]}),
        cb2_0(i, cn, c) AS (VALUES {half_rows[1]}),
        ksel AS (SELECT GREATEST(4, LEAST({_SEMDEDUP_IMI_K_MAX},
                     CAST(CEIL(SQRT((SELECT COUNT(*) FROM embeddings)
                                    / 100.0)) AS INT))) AS k),
        cb1 AS (SELECT * FROM cb1_0 WHERE i < (SELECT k FROM ksel)),
        cb2 AS (SELECT * FROM cb2_0 WHERE i < (SELECT k FROM ksel)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        a1 AS (SELECT vec_id, i AS c1, cn AS cn1, c AS cv1 FROM (
                   SELECT e.vec_id, b.i, b.cn, b.c,
                          ROW_NUMBER() OVER (
                              PARTITION BY e.vec_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(e.v[1:32], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM e, cb1 b
               ) WHERE rn = 1),
        a2 AS (SELECT vec_id, i AS c2, cn AS cn2, c AS cv2 FROM (
                   SELECT e.vec_id, b.i, b.cn, b.c,
                          ROW_NUMBER() OVER (
                              PARTITION BY e.vec_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(e.v[33:64], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM e, cb2 b
               ) WHERE rn = 1),
        asg AS (SELECT e.vec_id, e.v,
                       a1.c1 * (SELECT k FROM ksel) + a2.c2 AS cid,
                       CAST(FLOOR(
                           (list_inner_product(e.v[1:32], a1.cv1)
                            + list_inner_product(e.v[33:64], a2.cv2))
                           / (SQRT(list_inner_product(e.v, e.v))
                              * SQRT(a1.cn1 + a2.cn2))
                           * 1000000 + 0.5) AS BIGINT) AS cent_cos_micro
                FROM e JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)),
        p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM asg a JOIN asg b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
        edges AS (SELECT ia AS a, ib AS b FROM p
                  UNION SELECT ib, ia FROM p),
        reach AS (
            WITH RECURSIVE r(id, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e2.b, r.label FROM r JOIN edges e2 ON e2.a = r.id
            ) SELECT * FROM r
        ),
        comp_l AS (SELECT id, MIN(label) AS component
                   FROM reach GROUP BY id),
        m AS (SELECT asg.vec_id,
                     COALESCE(l.component, asg.vec_id) AS component,
                     asg.cent_cos_micro
              FROM asg LEFT JOIN comp_l l ON l.id = asg.vec_id),
        k AS (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY component
                          ORDER BY cent_cos_micro ASC, vec_id ASC) AS rn
              FROM m)
        SELECT m.component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(CASE WHEN k.rn = 1 THEN k.vec_id END) AS keep_id,
               MAX(CASE WHEN k.rn = 1 THEN k.cent_cos_micro END)
                   AS keep_cos_micro
        FROM m JOIN k ON k.vec_id = m.vec_id AND k.component = m.component
        GROUP BY m.component
        ORDER BY m.component
    """


@query(_semantic_dedup_imi_oracle_sql)
def q_semantic_dedup_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup under the TWO-LEVEL (inverted multi-index)
    quantizer (similarity.semantic_dedup_keep_imi; Babenko &
    Lempitsky, CVPR 2012): each vector half gets its own K seeded unit
    directions, cell id = c1·K + c2, so K² cells cost 2·K half-dots
    per vector — the assignment leg that stays sub-quadratic when the
    cell count must track the corpus (flat SemDeDup assignment is
    O(n·k·d) with k ∝ n; IMI reaches the same cell count at
    O(n·√k·d)). K derives from count(*) in BOTH engines (ceil-sqrt of
    n/100, clamped [4, 16]; per-half codebooks prefix-stable), the
    cell centroid is the half-concatenation so the election cosine
    decomposes into two K-row broadcast joins, and the DuckDB twin
    replays per-half argmins over sliced lists, the decomposed cosine,
    within-cell pairs, recursive-CTE components, and the quantized
    election. Same output contract as semantic_dedup_keep_best."""
    emb = _t(spark, sf_dir, "embeddings")
    K = _semdedup_imi_K(emb.count())
    cb = similarity.make_imi_codebooks(
        dim=64, n_cells_per_half=_SEMDEDUP_IMI_K_MAX, seed=777
    )[:, :K, :]
    return similarity.semantic_dedup_keep_imi(
        emb, cb, threshold=0.4
    ).orderBy("component")


#: trained-quantizer training knobs, shared by the Spark query and the
#: SQL-Lloyd twin: bounded sample under the Knuth-hash order, fixed
#: iteration count (Lloyd is deterministic given sample + init + iters)
_SEMDEDUP_TRAIN_SAMPLE = 2048

_SEMDEDUP_TRAIN_ITERS = 4


def _semantic_dedup_trained_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup_trained — the training replayed
    in SQL (`_lloyd_train_ctes`), k derived from count(*) exactly like
    the Spark side, and the final slate flowing into the SAME
    assignment/pairs/components/election CTEs as the seeded flat twin."""
    return f"""
        WITH ksel AS (SELECT GREATEST(16, LEAST({_SEMDEDUP_K_MAX},
                     (SELECT COUNT(*) FROM embeddings)
                         // {_SEMDEDUP_TARGET})) AS k),
        {_lloyd_train_ctes("(SELECT k FROM ksel)")},
        asg AS (SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(e.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM e, cents c
                ) WHERE rn = 1),
        cc AS (SELECT a.vec_id, a.cid, a.v,
                      CAST(FLOOR(list_inner_product(a.v, c.c)
                                 / (SQRT(list_inner_product(a.v, a.v))
                                    * c.cnorm) * 1000000 + 0.5)
                           AS BIGINT) AS cent_cos_micro
               FROM asg a JOIN cents c ON c.cid = a.cid),
        p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM asg a JOIN asg b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
        edges AS (SELECT ia AS a, ib AS b FROM p
                  UNION SELECT ib, ia FROM p),
        reach AS (
            WITH RECURSIVE r(id, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e2.b, r.label FROM r JOIN edges e2 ON e2.a = r.id
            ) SELECT * FROM r
        ),
        comp_l AS (SELECT id, MIN(label) AS component
                   FROM reach GROUP BY id),
        m AS (SELECT cc.vec_id,
                     COALESCE(l.component, cc.vec_id) AS component,
                     cc.cent_cos_micro
              FROM cc LEFT JOIN comp_l l ON l.id = cc.vec_id),
        k AS (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY component
                          ORDER BY cent_cos_micro ASC, vec_id ASC) AS rn
              FROM m)
        SELECT m.component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(CASE WHEN k.rn = 1 THEN k.vec_id END) AS keep_id,
               MAX(CASE WHEN k.rn = 1 THEN k.cent_cos_micro END)
                   AS keep_cos_micro
        FROM m JOIN k ON k.vec_id = m.vec_id AND k.component = m.component
        GROUP BY m.component
        ORDER BY m.component
    """


@query(_semantic_dedup_trained_oracle_sql)
def q_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup on a TRAINED quantizer, hash-gated — the r10
    recall finding closed (seeded prototypes retain 0.61 of planted
    near-dup pairs vs 0.88 for trained k-means cells; SCALING.md): the
    coarse centroids come from similarity.train_semdedup_centroids, a
    fixed-4-iteration Lloyd over the first 2048 nonzero vectors in
    Knuth-multiplicative-hash order, run ENTIRELY in exact integer
    micro arithmetic (vectors quantize to floor(x·10⁶+0.5); assignment
    scores Σc²−2Σu·c, member sums, and floor(S/n+0.5) means are all
    integer-valued doubles < 2⁵³, exact under ANY summation order —
    so numpy BLAS here and DuckDB folds there produce bit-identical
    centroids with no argmin-margin leap of faith). k derives from
    count(*) exactly like the seeded flat query (max(16, min(64,
    n/100)) — the SemDeDup cluster-size contract), ‖c‖² literals are
    the exact Σmicro²/10¹² integers both engines share (cnorms_sq),
    and the downstream assignment/pairs/components/election is the
    same oracle-gated pipeline as semantic_dedup_keep_best. The DuckDB
    twin replays the TRAINING TOO — sample, init, every Lloyd
    iteration as chained CTEs — not just the dedup: a hash match pins
    the whole train→assign→dedup path with zero inlined centroid
    literals. Bounded driver work: the 2048-row sample (fixed at any
    corpus scale, the train_ivf_centroids discipline)."""
    emb = _t(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    cents, cn = similarity.train_semdedup_centroids(
        emb,
        k,
        sample=_SEMDEDUP_TRAIN_SAMPLE,
        iters=_SEMDEDUP_TRAIN_ITERS,
    )
    return similarity.semantic_dedup_keep(
        emb, cents, threshold=0.4, cnorms_sq=cn
    ).orderBy("component")


def _lloyd_train_ctes(k_sql: str) -> str:
    """The SQL-replayed integer-Lloyd TRAINING CHAIN, shared by the
    trained-quantizer dedup twin and the trained-index MMR twin: the
    Knuth-hash-ordered 2048-row sample quantizes to the integer micro
    grid (list_transform floor), init = the first `k_sql` sample rows,
    and each of the 4 Lloyd iterations is a chained CTE pair
    (assignment: ROW_NUMBER argmin over Σc²−2Σu·c, ties → smaller cid;
    update: unnest to (cid, pos), exact integer member sums,
    floor(S/n+0.5) means, empty cells keep the previous centroid via
    COALESCE against the unnested previous slate). All quantities are
    integer-valued doubles < 2⁵³ — exact in every engine at any
    summation order, which is the entire determinism argument. Emits
    CTEs `e` (nonzero vectors), `samp`, `tcents0..N`, and `cents`
    (cid, cn = Σu²/10¹², cnorm, c = micro/10⁶)."""
    # MATERIALIZED throughout the training chain: each Lloyd level is
    # referenced twice (assignment + the empty-cell COALESCE), so plain
    # CTE inlining re-evaluates the whole chain 2^iters times — measured
    # 15.4 s → 0.23 s at sf0.001 with the hints
    iters = []
    for t in range(1, _SEMDEDUP_TRAIN_ITERS + 1):
        p = t - 1
        iters.append(f"""
        it{t}_a AS MATERIALIZED (SELECT sid, u, cid FROM (
                    SELECT s.sid, s.u, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY s.sid
                               ORDER BY list_inner_product(c.c, c.c)
                                        - 2 * list_inner_product(s.u, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM samp s, tcents{p} c
                ) WHERE rn = 1),
        it{t}_u AS MATERIALIZED (SELECT cid, pos, SUM(val) AS s, COUNT(*) AS n FROM (
                    SELECT cid, unnest(u) AS val,
                           generate_subscripts(u, 1) AS pos
                    FROM it{t}_a) GROUP BY cid, pos),
        tcents{t} AS MATERIALIZED (SELECT p.cid,
                           list(CAST(COALESCE(FLOOR(w.s / w.n + 0.5),
                                              p.pval) AS DOUBLE)
                                ORDER BY p.pos) AS c
                    FROM (SELECT cid, unnest(c) AS pval,
                                 generate_subscripts(c, 1) AS pos
                          FROM tcents{p}) p
                    LEFT JOIN it{t}_u w
                      ON w.cid = p.cid AND w.pos = p.pos
                    GROUP BY p.cid)""")
    train = ",".join(iters)
    t_final = _SEMDEDUP_TRAIN_ITERS
    return f"""
        e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        samp AS MATERIALIZED (SELECT ROW_NUMBER() OVER (
                        ORDER BY {similarity.knuth_key32_sql("vec_id")} ASC,
                                 vec_id ASC) AS sid,
                        list_transform(v, x ->
                            CAST(FLOOR(x * 1000000 + 0.5) AS DOUBLE)) AS u
                 FROM e
                 QUALIFY sid <= {_SEMDEDUP_TRAIN_SAMPLE}),
        tcents0 AS MATERIALIZED (SELECT sid - 1 AS cid, u AS c FROM samp
                    WHERE sid <= {k_sql}),
        {train},
        cents AS MATERIALIZED (SELECT cid,
                       list_inner_product(c, c) / 1000000000000.0 AS cn,
                       SQRT(list_inner_product(c, c)
                            / 1000000000000.0) AS cnorm,
                       list_transform(c, x -> x / 1000000.0) AS c
                  FROM tcents{t_final})"""


#: trained-index MMR knobs: a FIXED 16-cell coarse quantizer (index
#: layout must not change with corpus growth the way the dedup k does —
#: a serving index is rebuilt on a schedule, not per-query) probed at
#: nprobe=2, the r10-verdict serving shape
_MMR_INDEX_K = 16

_MMR_INDEX_NPROBE = 2


def _trained_ivf_index(spark: SparkSession, sf_dir: str):
    """(index_path, centroids, cnorms_sq): the persisted cid-partitioned
    IVF index over the trained k=16 integer-Lloyd centroids — the shared
    serving artifact of q_mmr_from_index and q_streaming_ann_serving,
    built once per corpus fingerprint (centroids are part of the
    artifact key)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents, cn = similarity.train_semdedup_centroids(
        emb,
        _MMR_INDEX_K,
        sample=_SEMDEDUP_TRAIN_SAMPLE,
        iters=_SEMDEDUP_TRAIN_ITERS,
    )
    index_path = materialize(
        "ivf_trained_index", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"cents": cents, "cn": cn},
        lambda p: similarity.build_ivf_index(emb, cents, p, cnorms_sq=cn),
    )
    return index_path, cents, cn


def _mmr_from_index_oracle_sql() -> str:
    """DuckDB twin of q_mmr_from_index: the shared integer-Lloyd
    training chain at k=16 (`_lloyd_train_ctes`), full-corpus cell
    assignment (ROW_NUMBER argmin — the ivf_assign twin), the nprobe=2
    probe ranking over the same exact norms, relevance restricted to
    the probed cells (the partition-pruned read's relational shadow),
    and the mmr_diversified_topk recursive-CTE greedy verbatim."""
    return f"""
        WITH RECURSIVE
        {_lloyd_train_ctes(str(_MMR_INDEX_K))},
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        asg AS (SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(e.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM e, cents c
                ) WHERE rn = 1),
        probes AS (SELECT c.cid FROM cents c, q
                   ORDER BY c.cn - 2 * list_inner_product(q.qv, c.c) ASC,
                            c.cid ASC
                   LIMIT {_MMR_INDEX_NPROBE}),
        rel AS (SELECT a.vec_id, a.v,
                       CAST(FLOOR(list_inner_product(a.v, q.qv)
                            / (SQRT(list_inner_product(a.v, a.v))
                               * SQRT(list_inner_product(q.qv, q.qv)))
                            * 1000000 + 0.5) AS BIGINT) AS rel_micro
                FROM asg a, q
                WHERE a.cid IN (SELECT cid FROM probes)),
        short AS (SELECT * FROM rel
                  ORDER BY rel_micro DESC, vec_id ASC LIMIT 50),
        pc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                      CAST(FLOOR(list_inner_product(a.v, b.v)
                           / (SQRT(list_inner_product(a.v, a.v))
                              * SQRT(list_inner_product(b.v, b.v)))
                           * 1000000 + 0.5) AS BIGINT) AS sim_micro
               FROM short a, short b WHERE a.vec_id <> b.vec_id),
        pick(rank, vec_id, rel_micro, maxsim_micro, mmr_deci, sel) AS (
            SELECT 1::BIGINT, s.vec_id, s.rel_micro, 0::BIGINT,
                   7 * s.rel_micro, [s.vec_id]
            FROM (SELECT * FROM short
                  ORDER BY rel_micro DESC, vec_id ASC LIMIT 1) s
            UNION ALL
            SELECT p.rank + 1, c.vec_id, c.rel_micro, c.ms, c.mmr,
                   list_append(p.sel, c.vec_id)
            FROM pick p, LATERAL (
                SELECT s.vec_id, s.rel_micro,
                       (SELECT MAX(pc.sim_micro) FROM pc
                        WHERE pc.ia = s.vec_id
                          AND list_contains(p.sel, pc.ib)) AS ms,
                       7 * s.rel_micro
                       - 3 * (SELECT MAX(pc.sim_micro) FROM pc
                              WHERE pc.ia = s.vec_id
                                AND list_contains(p.sel, pc.ib)) AS mmr
                FROM short s WHERE NOT list_contains(p.sel, s.vec_id)
                ORDER BY mmr DESC, s.vec_id ASC LIMIT 1
            ) c
            WHERE p.rank < 10
        )
        SELECT rank, vec_id, rel_micro, maxsim_micro, mmr_deci
        FROM pick ORDER BY rank
    """


@query(_mmr_from_index_oracle_sql)
def q_mmr_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-10 served FROM THE PERSISTED IVF INDEX
    (similarity.mmr_from_ivf_index) — the 100 TB serving shape the
    full-scan mmr_diversified_topk is not: the 16-cell coarse
    quantizer comes from the SQL-replayable integer-Lloyd trainer
    (train_semdedup_centroids — same sample/init/iteration discipline
    as semantic_dedup_trained, k fixed at 16), the corpus materializes
    once as a cid-partitioned parquet index (assignment = the
    bit-exact HOF argmin with exact Σmicro²/10¹² norms), and the query
    ranks cells DRIVER-SIDE (16 centroid dots — no data pass), reads
    ONLY the nprobe=2 nearest partitions for the relevance shortlist,
    and runs the same bounded-shortlist integer-micro greedy as the
    full-scan twin. Corpus-sized cost: O(n·nprobe/16) partition-pruned
    I/O instead of O(n). The DuckDB twin replays the TRAINING (the
    shared Lloyd CTE chain), the full-corpus cell assignment, the
    probe ranking (cn − 2·q·c over the same exact-integer norms), the
    pruned-shortlist relevance, and the greedy as the recursive CTE —
    bit-for-bit; the recall trade vs the full scan is IVF's own and is
    measured in SCALING.md beside the exact path."""
    qvec = _query_vec(spark, sf_dir)
    index_path, cents, cn = _trained_ivf_index(spark, sf_dir)
    return similarity.mmr_from_ivf_index(
        spark,
        index_path,
        qvec,
        cents,
        k=10,
        shortlist=50,
        nprobe=_MMR_INDEX_NPROBE,
        lam_num=7,
        lam_den=10,
        cnorms_sq=cn,
    )


def _semantic_dedup_multiprobe_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup_multiprobe: the shared Lloyd
    training chain, top-2 assignment via ROW_NUMBER ≤ 2 (d ASC, cid
    ASC — array_sort's struct order), DISTINCT pairs sharing any
    probed cell, exact micro-quantized cosine ≥ 400000."""
    return f"""
        WITH ksel AS (SELECT GREATEST(16, LEAST({_SEMDEDUP_K_MAX},
                     (SELECT COUNT(*) FROM embeddings)
                         // {_SEMDEDUP_TARGET})) AS k),
        {_lloyd_train_ctes("(SELECT k FROM ksel)")},
        asg2 AS (SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(e.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM e, cents c
                ) WHERE rn <= 2),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM asg2 a JOIN asg2 b
                   ON a.cid = b.cid AND a.vec_id < b.vec_id),
        scored AS (SELECT c.id_a, c.id_b,
                          CAST(FLOOR(list_inner_product(ea.v, eb.v)
                               / (SQRT(list_inner_product(ea.v, ea.v))
                                  * SQRT(list_inner_product(eb.v, eb.v)))
                               * 1000000 + 0.5) AS BIGINT) AS cos_micro
                   FROM cand c
                   JOIN e ea ON ea.vec_id = c.id_a
                   JOIN e eb ON eb.vec_id = c.id_b)
        SELECT id_a, id_b, cos_micro FROM scored
        WHERE cos_micro >= 400000
        ORDER BY id_a, id_b
    """


@query(_semantic_dedup_multiprobe_oracle_sql)
def q_semantic_dedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-split near-dup pairs recovered by MULTI-PROBE coarse
    quantization (similarity.semantic_dup_pairs_multiprobe; r10 verdict
    task 2): single-probe SemDeDup misses any pair whose members argmin
    into different cells — probing each vector's TOP-2 cells makes a
    pair a candidate whenever their probe sets overlap (planted-corpus
    retention 0.66 single → 0.98 multi for the seeded slate, 0.91 →
    0.998 trained, at ~3.9× the candidate-pair volume; SCALING.md).
    Centroids = the SQL-replayed integer-
    Lloyd trainer at the same k-from-count as semantic_dedup_trained;
    the top-2 assignment is the same exact ‖c‖²−2xc scores ordered
    (d ASC, cid ASC); the cell self-join carries (cid, id) only; the
    exact cosine verifies in integer micro BEFORE the threshold
    compare. PAIR-level by design — multi-probe breaks the one-cell-
    per-vector invariant that makes the component leg cluster-local,
    so components over these pairs route through the general
    connected_components/incremental_components machinery instead.
    The DuckDB twin replays training, top-2 assignment (ROW_NUMBER
    rn ≤ 2), the distinct cell-share pairs, and the quantized verify."""
    emb = _t(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    cents, cn = similarity.train_semdedup_centroids(
        emb,
        k,
        sample=_SEMDEDUP_TRAIN_SAMPLE,
        iters=_SEMDEDUP_TRAIN_ITERS,
    )
    return similarity.semantic_dup_pairs_multiprobe(
        emb, cents, threshold=0.4, nprobe=2, cnorms_sq=cn
    ).orderBy("id_a", "id_b")


# the streamed ingest state reconstructs the batch output
# contract exactly, so its oracle IS the batch twin — one hash
# pins stream ≡ batch ≡ SQL replay
@query(_semantic_dedup_trained_oracle_sql)
def q_streaming_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup AT INGEST, hash-gated against the BATCH SQL twin
    (streaming.semantic_dedup_ingest_sink; r10 verdict task 4): the
    embedding corpus arrives as a 3-slice file stream, each micro-batch
    assigns against the SAME persisted integer-Lloyd centroids the
    batch path trains (map-side), compares new vectors by exact cosine
    against every already-ingested member of their cells ONLY
    (cid-pruned state read + one BLAS matmul per touched cell —
    per-batch work is O(|batch|·cell), corpus-independent), and folds
    the edges into the persisted component table via
    incremental_components (batch-sized relabel, never a corpus
    re-cluster). The returned view reconstructs the batch output
    contract from the persisted state, so the ORACLE IS THE BATCH
    TWIN — _semantic_dedup_trained_oracle_sql verbatim: a hash match
    proves streamed ingest state ≡ the from-scratch batch dedup ≡ the
    SQL replay, closing the loop stream-vs-batch-vs-oracle. Edge-set
    order independence: a cross-batch pair is found exactly once (when
    its later member ingests), and incremental min-label merging
    converges to the same min-id components whatever the batch order
    (pinned in tests/test_dedup.py + tests/test_streaming.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    emb = _t(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    cents, cn = similarity.train_semdedup_centroids(
        emb,
        k,
        sample=_SEMDEDUP_TRAIN_SAMPLE,
        iters=_SEMDEDUP_TRAIN_ITERS,
    )
    # staged 3-slice source, pyarrow-written (the _staged_events_dir
    # lesson: a 3-file coalesce(1) Spark write pays seconds of
    # committer overhead; pyarrow writes in milliseconds), cached per
    # corpus
    def slices(stage: str) -> None:
        pdf = pq_mod.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pandas()
        for part in range(3):
            sl = pdf[pdf["vec_id"] % 3 == part]
            pq_mod.write_table(
                pa.Table.from_pandas(sl, preserve_index=False),
                os.path.join(stage, f"slice_{part}.parquet"),
            )

    stage = materialize(
        "semstream_src", sf_dir, [f"{sf_dir}/embeddings.parquet"], {}, slices
    )
    # the ingest state is a PERSISTED INDEX (that is the sink's whole
    # point) — like the LSH/IVF index queries, build once per corpus
    # and serve the view from state on later calls; the centroids are
    # part of the artifact key
    work = materialize(
        "semstream_state", sf_dir, [], {"src": stage, "cents": cents, "cn": cn},
        lambda w: streaming.drain_to_sink(
            spark, stage, "vec_id long, embedding array<float>",
            streaming.semantic_dedup_ingest_sink(
                os.path.join(w, "index"), cents, cnorms_sq=cn, threshold=0.4
            ),
            os.path.join(w, "ckpt"),
        ),
    )
    return streaming.semantic_dedup_state_view(
        spark, os.path.join(work, "index")
    ).orderBy("component")


#: streaming ANN serving: queries per request page (bounded), probes
#: per query — the trained-index serving constants
_ANN_SERVE_QUERIES = 8

_ANN_SERVE_NPROBE = 2


def _streaming_ann_oracle_sql() -> str:
    """DuckDB twin of q_streaming_ann_serving: the shared Lloyd chain
    at k=16, full-corpus assignment (zero vectors excluded by the
    chain's nonzero `e` base — they have no cosine ordering), per-query
    probe ranking over the same exact norms, and the pruned quantized-
    cosine top-10 — the relational shadow of what every micro-batch
    appended."""
    return _ann_probe_topk_sql(_ANN_SERVE_QUERIES, _ANN_SERVE_NPROBE)


@query(_streaming_ann_oracle_sql)
def q_streaming_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUERY SERVING AS A STREAM against the persisted trained IVF
    index (streaming.ann_serving_sink) — the request path of the
    serving tier, where streaming_semantic_dedup is its ingest path:
    eight query vectors arrive as a 3-slice file stream, each
    micro-batch ranks its queries' cells driver-side (the
    left-to-right-fold probe contract of `rank_probe_cells`, shared
    with mmr_from_index), reads ONLY the nprobe=2 probed partitions of
    the cid-partitioned index, scores exact quantized cosine JVM-side,
    and appends per-query top-10. Each query is answered exactly once
    in whichever batch delivers it, so the accumulated output is
    INDEPENDENT of the batching — streamed serving ≡ batch
    `ivf_multi_query_topk` (pinned in tests/test_streaming.py) ≡ the
    SQL replay: the DuckDB twin replays training (shared Lloyd chain,
    k=16), full-corpus assignment, per-query probe ranking, and the
    pruned top-k — one hash pins stream ≡ batch ≡ oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    index_path, cents, cn = _trained_ivf_index(spark, sf_dir)

    def query_slices(stage: str) -> None:
        pdf = pq_mod.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pandas()
        pdf = pdf[pdf["vec_id"] < _ANN_SERVE_QUERIES]
        # nonzero queries only (a zero vector has no cosine ordering;
        # both engines would drop every candidate — filter it at the
        # source so stream, batch, and twin agree on the query set)
        pdf = pdf[pdf["embedding"].map(lambda v: any(x != 0 for x in v))]
        pdf = pdf.rename(columns={"vec_id": "query_id", "embedding": "qvec"})
        for part in range(3):
            sl = pdf[pdf["query_id"] % 3 == part]
            pq_mod.write_table(
                pa.Table.from_pandas(sl, preserve_index=False),
                os.path.join(stage, f"slice_{part}.parquet"),
            )

    stage = materialize(
        "annserve_src", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"n": _ANN_SERVE_QUERIES}, query_slices,
    )
    # the served answers depend on the index they probed: its path
    # carries its key
    work = materialize(
        "annserve_out", sf_dir, [],
        {"src": stage, "index": index_path, "nprobe": _ANN_SERVE_NPROBE},
        lambda w: streaming.drain_to_sink(
            spark, stage, "query_id long, qvec array<float>",
            streaming.ann_serving_sink(
                index_path, cents, os.path.join(w, "results"),
                cnorms_sq=cn, k=10, nprobe=_ANN_SERVE_NPROBE,
            ),
            os.path.join(w, "ckpt"),
        ),
    )
    return (
        spark.read.parquet(os.path.join(work, "results"))
        .select("query_id", "vec_id", "cos_sim")
        .orderBy("query_id", F.desc("cos_sim"), "vec_id")
    )


@query(lambda: _ann_probe_topk_sql(_ANN_BULK_QUERIES, 2))
def q_ivf_bulk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ANN top-10 with DISTRIBUTED (in-plan) probe ranking
    (similarity.ivf_bulk_topk — the r12 verdict's task 4): the 32-query
    set stays a DataFrame end to end (never collected to the driver);
    the trained k=16 integer-Lloyd centroid table rides in as ONE
    broadcast scalar row, every query row scores all 16 cells JVM-side
    via the shared ‖c‖²−2·q·c left-to-right fold (`rank_probe_cells`'s
    contract, now inside whole-stage codegen), `array_sort` over
    (score, cid) structs picks nprobe=2 cells with the (score, cid)
    tie-break, candidates come from the cid join against the persisted
    index, and the per-query quantized-cosine top-10 window is the
    single exchange. Hash-matches the driver-side per-query path
    (`ivf_multi_query_topk`) on the same query set
    (tests/test_similarity.py) and the DuckDB twin — the same
    training + assignment + probe ranking + top-k replay as the
    streaming serving oracle, at the bulk query-set size."""
    index_path, cents, cn = _trained_ivf_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_BULK_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_bulk_topk(
        spark,
        index_path,
        queries,
        cents,
        k=10,
        nprobe=_ANN_SERVE_NPROBE,
        cnorms_sq=cn,
    ).orderBy("query_id", F.desc("cos_sim"), "vec_id")


#: bulk LSH serving parameters — same index as q_lsh_ann_topk, the
#: bulk query-set size of the IVF leg, multiprobe=2
_LSH_BULK_QUERIES = 32

_LSH_BULK_MULTIPROBE = 2


def _lsh_bulk_oracle_sql() -> str:
    """DuckDB twin of q_lsh_bulk_topk: plane literals, per-corpus-row
    sign-bit buckets, per-query margin lists, the 41 flip-mask scores
    UNROLLED in ascending-bit order, (score, tie_rank) ranking, XOR
    probes, bucket-join candidates, quantized-cosine top-10."""
    planes = similarity.make_planes(dim=64, n_planes=6, seed=42)
    n = len(planes)

    def plane_lit(i: int) -> str:
        return (
            "[" + ", ".join(repr(float(x)) for x in planes[i]) + "]::DOUBLE[]"
        )

    corpus_bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {plane_lit(i)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n)
    )
    proj_list = ", ".join(
        f"list_inner_product(embedding::DOUBLE[], {plane_lit(i)})"
        for i in range(n)
    )
    query_bucket = " + ".join(
        f"(CASE WHEN proj[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n)
    )
    mask_selects = " UNION ALL ".join(
        f"SELECT query_id, qb, qv, {mask} AS mask, {tie} AS tie_rank, "
        f"({' + '.join(f'ABS(proj[{b + 1}])' for b in bits)}) AS score "
        "FROM qp"
        for mask, tie, bits in similarity.multiprobe_masks(n)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0),
        cb AS (SELECT vec_id, v, ({corpus_bucket}) AS bucket FROM e),
        qp0 AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                   [{proj_list}] AS proj
            FROM embeddings
            WHERE vec_id < {_LSH_BULK_QUERIES}
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0),
        qp AS (SELECT query_id, qv, proj, ({query_bucket}) AS qb FROM qp0),
        ms AS ({mask_selects}),
        mr AS (SELECT query_id, qb, qv, mask FROM (
                   SELECT ms.*, ROW_NUMBER() OVER (
                              PARTITION BY query_id
                              ORDER BY score ASC, tie_rank ASC) AS rn
                   FROM ms
               ) WHERE rn <= {_LSH_BULK_MULTIPROBE}),
        probes AS (
            SELECT query_id, qv, qb AS bucket FROM qp
            UNION ALL
            SELECT query_id, qv, xor(qb, mask) FROM mr),
        sc AS (
            SELECT p.query_id, c.vec_id,
                   FLOOR(list_inner_product(c.v, p.qv)
                         / (SQRT(list_inner_product(c.v, c.v))
                            * SQRT(list_inner_product(p.qv, p.qv)))
                         * 1000000 + 0.5) / 1000000.0 AS cos_sim
            FROM probes p JOIN cb c ON c.bucket = p.bucket)
        SELECT query_id, vec_id, cos_sim FROM (
            SELECT sc.*, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
            FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, cos_sim DESC, vec_id
    """


@query(_lsh_bulk_oracle_sql)
def q_lsh_bulk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk LSH serving with IN-PLAN probe ranking
    (similarity.lsh_bulk_topk — the hyperplane twin of ivf_bulk_topk,
    completing the bulk tier across both index families): the 32-query
    set stays a DataFrame end to end; each query row computes its six
    hyperplane margins, sign-bit bucket, and multi-probe mask ranking
    (|margin| sums over the 41 flip sets, (score, tie_rank) struct
    sort — python's sorted((score, flips)) exactly) inside whole-stage
    codegen, probes explode into the bucket join against the persisted
    bucket-partitioned index (shared artifact with q_lsh_ann_topk),
    and the per-query quantized-cosine top-10 window is the single
    exchange. UNLIKE the per-query LSH path (rows-only, recall-
    floor-pinned), this leg is FULLY oracle-twinned: the DuckDB replay
    recomputes every corpus bucket from the inlined plane literals
    (the lsh_bucket_verified machinery), every query's margins, the
    unrolled mask scores, the (score, tie_rank) ranking, the XOR probe
    set, and the pruned top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = similarity.make_planes(dim=64, n_planes=6, seed=42)
    index_path = _lsh_index(spark, sf_dir, planes)
    queries = emb.filter(F.col("vec_id") < _LSH_BULK_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.lsh_bulk_topk(
        spark,
        index_path,
        queries,
        planes,
        k=10,
        multiprobe=_LSH_BULK_MULTIPROBE,
    ).orderBy("query_id", F.desc("cos_sim"), "vec_id")


#: IMI bulk serving parameters: 16 cells per half → 256 two-level
#: cells at √-cost ranking; 4 probed cells per query
_IMI_BULK_K = 16

_IMI_BULK_NPROBE = 4

_IMI_BULK_SEED = 777


def _imi_bulk_oracle_sql() -> str:
    """DuckDB twin of q_imi_bulk_topk: both half codebooks inlined as
    VALUES rows (i, ‖c‖², c), full-corpus two-level assignment via
    per-half ROW_NUMBER argmins over sliced lists (ties → smaller
    index), per-query per-half top-nprobe ranking, the d1+d2 combo
    sort with the (score, cid) tie-break, the cid candidate join, and
    the quantized-cosine top-10."""
    cb = similarity.make_imi_codebooks(
        dim=64, n_cells_per_half=_IMI_BULK_K, seed=_IMI_BULK_SEED
    )
    K = cb.shape[1]
    half_rows = []
    for h in range(2):
        cn = (cb[h] ** 2).sum(axis=1)
        half_rows.append(
            ", ".join(
                f"({i}, {float(cn[i])!r}, "
                f"[{', '.join(repr(float(x)) for x in cb[h, i])}]"
                "::DOUBLE[])"
                for i in range(K)
            )
        )
    np_ = _IMI_BULK_NPROBE
    return f"""
        WITH cb1(i, cn, c) AS (VALUES {half_rows[0]}),
        cb2(i, cn, c) AS (VALUES {half_rows[1]}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        a1 AS (SELECT vec_id, i AS c1 FROM (
                   SELECT e.vec_id, b.i,
                          ROW_NUMBER() OVER (
                              PARTITION BY e.vec_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(e.v[1:32], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM e, cb1 b
               ) WHERE rn = 1),
        a2 AS (SELECT vec_id, i AS c2 FROM (
                   SELECT e.vec_id, b.i,
                          ROW_NUMBER() OVER (
                              PARTITION BY e.vec_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(e.v[33:64], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM e, cb2 b
               ) WHERE rn = 1),
        asg AS (SELECT e.vec_id, e.v,
                       CAST(a1.c1 AS BIGINT) * {K} + a2.c2 AS cid
                FROM e JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings
              WHERE vec_id < {_ANN_BULK_QUERIES}
                AND list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        r1 AS (SELECT query_id, i, d FROM (
                   SELECT q.query_id, b.i,
                          b.cn - 2 * list_inner_product(q.qv[1:32], b.c)
                              AS d,
                          ROW_NUMBER() OVER (
                              PARTITION BY q.query_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(q.qv[1:32], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM q, cb1 b
               ) WHERE rn <= {np_}),
        r2 AS (SELECT query_id, i, d FROM (
                   SELECT q.query_id, b.i,
                          b.cn - 2 * list_inner_product(q.qv[33:64], b.c)
                              AS d,
                          ROW_NUMBER() OVER (
                              PARTITION BY q.query_id
                              ORDER BY b.cn
                                   - 2 * list_inner_product(q.qv[33:64], b.c)
                                   ASC, b.i ASC) AS rn
                   FROM q, cb2 b
               ) WHERE rn <= {np_}),
        pr AS (SELECT query_id, cid FROM (
                   SELECT r1.query_id,
                          CAST(r1.i AS BIGINT) * {K} + r2.i AS cid,
                          ROW_NUMBER() OVER (
                              PARTITION BY r1.query_id
                              ORDER BY (r1.d + r2.d) ASC,
                                       CAST(r1.i AS BIGINT) * {K} + r2.i
                                           ASC) AS rn
                   FROM r1 JOIN r2 USING (query_id)
               ) WHERE rn <= {np_}),
        sc AS (SELECT q.query_id, a.vec_id,
                      FLOOR(list_inner_product(a.v, q.qv)
                            / (SQRT(list_inner_product(a.v, a.v))
                               * SQRT(list_inner_product(q.qv, q.qv)))
                            * 1000000 + 0.5) / 1000000.0 AS cos_sim
               FROM q
               JOIN pr ON pr.query_id = q.query_id
               JOIN asg a ON a.cid = pr.cid)
        SELECT query_id, vec_id, cos_sim FROM (
            SELECT sc.*, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
            FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, cos_sim DESC, vec_id
    """


@query(_imi_bulk_oracle_sql)
def q_imi_bulk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ANN serving under the TWO-LEVEL (IMI) quantizer — the r13
    verdict's task 3: ivf_bulk_topk documents its own cap (the flat
    broadcast-scalar centroid row stops at ~4k cells) and names IMI as
    the scale path; this is that path as a gated entry
    (similarity.imi_bulk_topk; Babenko & Lempitsky, CVPR 2012). The
    32-query set stays a DataFrame end to end; each query row ranks
    per-HALF cells in-plan against two seeded √k codebook rows (the
    shared ‖c‖²−2·q_h·c fold over sliced halves), combines the per-half
    top-4 into 16 (c1, c2) cells scored d1+d2, keeps the overall top-4
    (lossless — the multi-index pruning property, proven in
    tests/test_similarity.py against the unpruned ranking), joins the
    cid-partitioned IMI index (built by the same exact JVM arithmetic,
    imi_assign_exact), and takes the per-query quantized-cosine top-10
    window — 256 cells ranked at O(√cells·d) per query where the flat
    carrier pays O(cells·d). The DuckDB twin replays assignment,
    per-half ranking, the combo sort, and the pruned top-k; the
    4096-cell regime where flat ranking measurably degrades is
    witnessed in SCALING.md via tools/ann_bulk_scaling.py."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = similarity.make_imi_codebooks(
        dim=64, n_cells_per_half=_IMI_BULK_K, seed=_IMI_BULK_SEED
    )
    index_path = materialize(
        "imi_bulk_index", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"cb": cb}, lambda p: similarity.build_imi_index(emb, cb, p),
    )
    queries = emb.filter(F.col("vec_id") < _ANN_BULK_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.imi_bulk_topk(
        spark,
        index_path,
        queries,
        cb,
        k=10,
        nprobe=_IMI_BULK_NPROBE,
    ).orderBy("query_id", F.desc("cos_sim"), "vec_id")


def _ann_probe_topk_sql(n_queries: int, nprobe: int) -> str:
    """Shared DuckDB replay of trained-IVF probe serving (streaming
    page + bulk re-rank twins): the Lloyd chain at k=16, full-corpus
    assignment, per-query probe ranking over the same exact norms
    (‖c‖² − 2·q·c, ties to the smaller cid), and the pruned
    quantized-cosine top-10."""
    return f"""
        WITH {_lloyd_train_ctes(str(_MMR_INDEX_K))},
        asg AS (SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(e.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM e, cents c
                ) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings
              WHERE vec_id < {n_queries}
                AND list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        pr AS (SELECT query_id, cid FROM (
                    SELECT q.query_id, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.query_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(q.qv, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM q, cents c
                ) WHERE rn <= {nprobe}),
        sc AS (SELECT q.query_id, a.vec_id,
                      FLOOR(list_inner_product(a.v, q.qv)
                            / (SQRT(list_inner_product(a.v, a.v))
                               * SQRT(list_inner_product(q.qv, q.qv)))
                            * 1000000 + 0.5) / 1000000.0 AS cos_sim
               FROM q
               JOIN pr ON pr.query_id = q.query_id
               JOIN asg a ON a.cid = pr.cid)
        SELECT query_id, vec_id, cos_sim FROM (
            SELECT sc.*, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
            FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, cos_sim DESC, vec_id
    """
