"""Vector similarity queries: exact cosine search, LSH, IVF and PQ
indexes, k-means and embedding diagnostics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
    source_stats,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.vectors import dot as vectors_dot
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    similarity,
)

from catalog import query
from catalog._common import _q, _sql_q, _t


@query("""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   FLOOR(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[])
                         * 1000000 + 0.5) / 1000000.0 AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.vec_id < b.vec_id AND a.vec_id < 50 AND b.vec_id < 50
            ORDER BY cos_sim DESC, id_a ASC, id_b ASC
            LIMIT 20
        """)
def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact tier: top-20 most similar pairs
    within a bounded id range. (At corpus scale the LSH-bucketed index
    generates candidates; this exact pairwise scorer verifies them.)"""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 50)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.vectors import (
        cosine,
    )

    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", _q(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


_QVEC_CACHE: dict[str, list[float]] = {}

#: 4-vector query matrices for the batch-ANN query, cached per sf_dir
_QMAT_CACHE: dict[str, list[tuple[int, list[float]]]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """Query vector (vec_id=0), fetched once per fixture — the ANN
    queries share it instead of each paying a driver round-trip job.
    Keyed by the source fingerprint (r12 verdict nit on the sibling
    _QSIG_CACHE): a regenerated embeddings.parquet mid-process must
    not serve a stale vector."""
    key = f"{sf_dir}:{source_stats([f'{sf_dir}/embeddings.parquet'])}"
    if key not in _QVEC_CACHE:
        emb = _t(spark, sf_dir, "embeddings")
        _QVEC_CACHE[key] = list(
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
        )
    return _QVEC_CACHE[key]


@query("""
            WITH q AS (SELECT embedding::DOUBLE[] AS qe
                       FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   FLOOR(list_cosine_similarity(e.embedding::DOUBLE[], q.qe)
                         * 1000000 + 0.5) / 1000000.0 AS cos_sim
            FROM embeddings e, q
            ORDER BY cos_sim DESC, e.vec_id ASC
            LIMIT 10
        """)
def q_embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)


@query()
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN probing a PERSISTED bucket-partitioned LSH index
    (rows-only check). The index is built once per sf_dir and reused;
    the probe's `bucket IN (...)` predicate prunes partitions, so query
    cost is O(probed buckets), not O(corpus). Recall@10 vs the exact
    oracle is MEASURED (tools/ann_recall.py; grid in PLANS.md): 0.91 at
    2.7% scan on clustered embeddings (multiprobe=2), floor-pinned in
    tests/test_similarity.py."""
    qvec = _query_vec(spark, sf_dir)
    planes = similarity.make_planes(dim=len(qvec), n_planes=6, seed=42)
    return similarity.lsh_topk_from_index(
        spark, _lsh_index(spark, sf_dir, planes), qvec, planes, k=10,
        multiprobe=2,
    )


def _lsh_index(spark: SparkSession, sf_dir: str, planes) -> str:
    """The persisted bucket-partitioned LSH index over the embeddings,
    shared by q_lsh_ann_topk and q_lsh_bulk_topk; every bucket is a sign
    pattern against THESE planes, so they are part of its key."""
    return materialize(
        "lsh_index", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"planes": planes},
        lambda p: similarity.build_lsh_index(
            _t(spark, sf_dir, "embeddings"), planes, p
        ),
    )


def _lsh_bucket_oracle_sql() -> str:
    """DuckDB twin of q_lsh_bucket_verified: the seeded hyperplanes are
    inlined as DOUBLE[] literals (repr roundtrips doubles exactly), sign
    bits folded to the bucket id, exact-bucket filter, cosine re-rank.
    Sign decisions are robust to summation-order float noise: the margins
    are O(1) while cross-engine dot-product error is ~1e-13."""
    planes = similarity.make_planes(dim=64, n_planes=6, seed=42)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH pl(i, p) AS (VALUES {rows}),
        qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
        qb AS (SELECT CAST(SUM(CASE WHEN list_inner_product(pl.p, qv.q) > 0
                                    THEN (1::BIGINT << pl.i) ELSE 0 END)
                      AS BIGINT) AS qbucket
               FROM pl, qv),
        cb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bk AS (SELECT cb.vec_id, cb.v,
                      CAST(SUM(CASE WHEN list_inner_product(pl.p, cb.v) > 0
                                    THEN (1::BIGINT << pl.i) ELSE 0 END)
                      AS BIGINT) AS bucket
               FROM cb, pl GROUP BY cb.vec_id, cb.v)
        SELECT bk.vec_id,
               FLOOR(list_cosine_similarity(bk.v, qv.q) * 1000000 + 0.5)
                 / 1000000.0 AS cos_sim
        FROM bk, qv, qb
        WHERE bk.bucket = qb.qbucket
        ORDER BY cos_sim DESC, bk.vec_id ASC
        LIMIT 10
    """


@query(_lsh_bucket_oracle_sql)
def q_lsh_bucket_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketing under the differential gate: the exact-
    bucket probe (multiprobe=0) over the same seeded plane family the
    indexed ANN path uses, re-ranked by exact cosine. DuckDB recomputes
    every sign bit from the planes inlined as literals — a hash match
    pins the whole bucket→probe→re-rank pipeline bit-for-bit (the
    indexed q_lsh_ann_topk twin then only adds partition-pruned I/O,
    which tests/test_similarity.py covers)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    planes = similarity.make_planes(dim=len(qvec), n_planes=6, seed=42)
    return similarity.lsh_bucketed_topk(emb, qvec, planes, k=10, multiprobe=0)


def _mmr_oracle_sql() -> str:
    """DuckDB twin of q_mmr_diversified_topk: shortlist by quantized
    relevance, pairwise micro cosines between shortlist members, greedy
    selection as a recursive CTE carrying the selected-id list, each
    step's argmax via a LATERAL ORDER BY ... LIMIT 1 (mmr_deci DESC,
    id ASC — the Spark greedy's exact tie order)."""
    return """
        WITH RECURSIVE
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE list_inner_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]) > 0),
        rel AS (SELECT e.vec_id, e.v,
                       CAST(FLOOR(list_inner_product(e.v, q.qv)
                            / (SQRT(list_inner_product(e.v, e.v))
                               * SQRT(list_inner_product(q.qv, q.qv)))
                            * 1000000 + 0.5) AS BIGINT) AS rel_micro
                FROM e, q),
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


@query(_mmr_oracle_sql)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-10 (similarity.mmr_rerank_micro; Carbonell &
    Goldstein, SIGIR 1998) for the shared ANN query vector at λ = 0.7:
    one distributed relevance scan + TakeOrderedAndProject builds the
    50-candidate shortlist (the corpus never shuffles), then the
    inherently-sequential greedy runs over that BOUNDED shortlist —
    argmax of 7·rel_micro − 3·maxsim_micro per step, integer ties to
    the smaller id. Completes the retrieval tier's serving corner
    beside brute-force/LSH/IVF/PQ top-k (those rank by relevance
    alone; this trades relevance against redundancy — the fix for a
    result page of near-identical hits). The DuckDB twin replays the
    shortlist, the micro-quantized pairwise cosines, and the greedy as
    a recursive CTE with a LATERAL per-step argmax, bit-for-bit (dots
    fold left-to-right in IEEE doubles on both sides)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    return similarity.mmr_rerank_micro(
        emb, qvec, k=10, shortlist=50, lam_num=7, lam_den=10
    )


@query("""
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 4),
            s AS (SELECT q.qid, e.vec_id,
                         FLOOR(list_cosine_similarity(e.embedding::DOUBLE[],
                                                      q.qv) * 1000000 + 0.5)
                           / 1000000.0 AS cos_sim
                  FROM embeddings e, q)
            SELECT qid AS query_id, vec_id, cos_sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC
                ) AS rk FROM s
            ) WHERE rk <= 10
        """)
def q_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving (similarity.multi_query_topk): exact cosine
    top-10 for four query vectors in ONE corpus pass — per-partition
    BLAS matmul + local top-k inside mapInPandas (corpus never
    shuffled), exact global top-k over the tiny candidate set. The
    4-vector query matrix is a driver-side fetch, like _query_vec."""
    emb = _t(spark, sf_dir, "embeddings")
    key = f"{sf_dir}:{source_stats([f'{sf_dir}/embeddings.parquet'])}"
    if key not in _QMAT_CACHE:
        qrows = (
            emb.filter(F.col("vec_id") < 4)
            .select("vec_id", "embedding")
            .collect()
        )
        _QMAT_CACHE[key] = [
            (r.vec_id, [float(x) for x in r.embedding]) for r in qrows
        ]
    return similarity.multi_query_topk(emb, _QMAT_CACHE[key], k=10)


def _near_dup_oracle_sql() -> str:
    """DuckDB twin of q_embedding_near_dup_pairs: all 8 band families
    (4 seeded hyperplanes each) inlined as literals, per-band sign-bit
    buckets, capped-bucket self-join per band, pair dedup, exact-cosine
    verify ≥ 0.4 — the full banded-LSH near-dup pipeline recomputed
    bit-for-bit (sign margins are O(1) vs ~1e-13 cross-engine noise)."""
    rows = ", ".join(
        f"({b}, {i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for b in range(8)
        for i, p in enumerate(similarity.make_planes(64, 4, 42 + b))
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pl(band, i, p) AS (VALUES {rows}),
        bk AS (
            SELECT e.vec_id, pl.band,
                   CAST(SUM(CASE WHEN list_inner_product(pl.p, e.v) > 0
                                 THEN (1::BIGINT << pl.i) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM e, pl GROUP BY e.vec_id, pl.band
        ),
        kept AS (
            SELECT * FROM (
                SELECT vec_id, band, bucket,
                       COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
                FROM bk
            ) WHERE bsz <= 1000
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT c.id_a, c.id_b,
                   FLOOR(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5)
                     / 1000000.0 AS cos_sim
            FROM cand c
            JOIN e ea ON ea.vec_id = c.id_a
            JOIN e eb ON eb.vec_id = c.id_b
        )
        SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
    """


@query(_near_dup_oracle_sql)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at corpus scale: banded hyperplane-LSH
    candidates (id-only self-join, capped buckets), exact-cosine verify
    >= 0.4 (the synthetic embeddings' max pairwise cosine is ~0.51, so
    the threshold sits where real pairs exist; 4 planes x 8 bands keeps
    recall usable at that moderate similarity). Fully oracle-checked:
    the DuckDB twin (_near_dup_oracle_sql) inlines all 8 seeded plane
    families as literals and recomputes the banded buckets, capped
    self-join, and cosine verify bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.embedding_near_dup_pairs(
        emb, dim=64, threshold=0.4, n_planes=4, bands=8
    )


@query()
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via an IVF index (k-means coarse quantizer trained
    on a bounded sample, index partitioned by centroid id, probes prune
    partitions). Rows-only check — IVF recall is data-dependent by
    design; the LSH twin covers the oblivious-hash path. Recall@10 vs
    the exact oracle is MEASURED (tools/ann_recall.py; grid in
    PLANS.md): 1.00 from nprobe=1 on clustered embeddings, 0.83 at
    nprobe=8 on the near-random sf corpus; floor-pinned in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    cents = similarity.train_ivf_centroids(emb, n_centroids=16, seed=42)
    # cell assignments are argmins against THESE centroids — the sample
    # behind them can shift with partition layout, so they are part of
    # the artifact key (see q_pq_ann_topk)
    index_path = materialize(
        "ivf_index", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"cents": cents},
        lambda p: similarity.build_ivf_index(emb, cents, p),
    )
    return similarity.ivf_topk_from_index(
        spark, index_path, qvec, cents, k=10, nprobe=3
    )


def _pq_adc_oracle_sql() -> str:
    """DuckDB twin of q_pq_adc_verified: the seeded codebooks and their
    squared norms inlined as literals (repr roundtrips doubles exactly),
    subspace assignment recomputed as a ROW_NUMBER argmin over
    ||c||² − 2·x_sub·c (ties → smaller codeword id, matching Spark's
    struct-min and numpy argmin-first), the query's ADC lookup table
    rebuilt in SQL from the same literals, and the final score summed
    per vector. Argmin margins with Gaussian codebooks are O(0.01)+ vs
    ~1e-13 cross-engine float noise; the 6-dp floor-quantize absorbs the
    formula-order difference between numpy's (q−c)² LUT and SQL's
    qq − 2qc + cn expansion."""
    cb = similarity.make_pq_codebooks(dim=64, m=8, k=16, seed=7)
    cn = (cb**2).sum(axis=2)
    rows = ", ".join(
        f"({s}, {c}, {repr(float(cn[s, c]))}, "
        f"[{', '.join(repr(float(v)) for v in cb[s, c])}]::DOUBLE[])"
        for s in range(8)
        for c in range(16)
    )
    return f"""
        WITH cb(s, c, cn, ctr) AS (VALUES {rows}),
        e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        e AS (SELECT vec_id,
                     list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS u
              FROM e0 WHERE list_inner_product(v, v) > 0),
        sub AS (SELECT vec_id, t.s,
                       array_slice(u, t.s * 8 + 1, t.s * 8 + 8) AS us
                FROM e, range(8) t(s)),
        asg AS (SELECT vec_id, s, c FROM (
                    SELECT sub.vec_id, sub.s, cb.c,
                           ROW_NUMBER() OVER (
                               PARTITION BY sub.vec_id, sub.s
                               ORDER BY cb.cn
                                        - 2 * list_inner_product(sub.us, cb.ctr)
                                        ASC, cb.c ASC) AS rn
                    FROM sub JOIN cb ON cb.s = sub.s
                ) WHERE rn = 1),
        q AS (SELECT s, us AS qs FROM sub WHERE vec_id = 0),
        lut AS (SELECT cb.s, cb.c,
                       list_inner_product(q.qs, q.qs)
                       - 2 * list_inner_product(q.qs, cb.ctr) + cb.cn AS val
                FROM cb JOIN q ON q.s = cb.s),
        sc AS (SELECT a.vec_id, SUM(l.val) AS dist
               FROM asg a JOIN lut l ON l.s = a.s AND l.c = a.c
               GROUP BY a.vec_id)
        SELECT vec_id, FLOOR(dist * 1000000 + 0.5) / 1000000.0 AS adc_dist
        FROM sc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """


@query(_pq_adc_oracle_sql)
def q_pq_adc_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search under the differential gate: the
    seeded codebooks (make_pq_codebooks — PQ's analogue of the LSH plane
    family) are inlined into the DuckDB twin as literals, which then
    recomputes every subspace argmin assignment AND the query's
    asymmetric-distance lookup table from scratch — a hash match pins
    normalize → slice → codeword-argmin → LUT-sum → top-k end to end.
    Encodes through the production Arrow path (code-identical to the
    pure-JVM pq_encode, parity-pinned in tests and measured 3.7×
    faster); the ADC scan stays pure JVM (m array lookups + adds per
    row, TakeOrderedAndProject top-k). The trained-codebook production
    twin is q_pq_ann_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    cb = similarity.make_pq_codebooks(dim=len(qvec), m=8, k=16, seed=7)
    enc = similarity.pq_encode_arrow(emb, cb)
    return similarity.pq_adc_topk(enc, qvec, cb, k=10)


@query()
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search over a PERSISTED compact code index
    (rows-only check; the ADC mechanism itself is hash-gated by
    q_pq_adc_verified): codebooks trained on a bounded sample, corpus
    encoded once into (id, 8-byte code) — 32× less index I/O than the
    float vectors — ADC shortlist of 100 over the code table, exact
    cosine re-rank only on the broadcast shortlist. Recall@10 vs the
    exact oracle is MEASURED (tests/test_similarity.py; PLANS.md)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    cb = similarity.train_pq_codebooks(emb, m=8, k=16, seed=42)
    # the cached codes are argmin assignments AGAINST these codebooks —
    # a stale index with fresh codebooks would rank garbage, so the
    # codebook bytes are part of the artifact key
    index_path = materialize(
        "pq_index", sf_dir, [f"{sf_dir}/embeddings.parquet"], {"cb": cb},
        lambda p: similarity.build_pq_index(emb, cb, p),
    )
    return similarity.pq_topk_from_index(
        spark, index_path, emb, qvec, cb, k=10, shortlist=100
    )


@query()
def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index (rows-only; every constituent is
    separately gated — cells by lsh/ivf partition-prune tests, codes by
    pq_adc_verified's hash match): nearest-cell pruning reads nprobe
    partitions of 8-byte codes, ADC shortlists, exact cosine re-ranks.
    Multiplicative savings — the 100 TB index recipe. Recall pinned in
    tests/test_similarity.py (≥0.9 clustered at nprobe=2)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    cents = similarity.train_ivf_centroids(emb, n_centroids=16, seed=42)
    cb = similarity.train_pq_codebooks(emb, m=8, k=16, seed=42)
    # cells + codes are assignments against THESE centroids/codebooks;
    # both belong to the artifact key (see q_pq_ann_topk)
    index_path = materialize(
        "ivfpq_index", sf_dir, [f"{sf_dir}/embeddings.parquet"],
        {"cents": cents, "cb": cb},
        lambda p: similarity.build_ivfpq_index(emb, cents, cb, p),
    )
    return similarity.ivfpq_topk(
        spark, index_path, emb, qvec, cents, cb, k=10, nprobe=4,
        shortlist=100,
    )


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seed centroids: the first 8 embeddings by vec_id."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )


@query("""
            WITH c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT e.vec_id, c.cid,
                       list_distance(e.embedding::DOUBLE[], c.ce) AS dist
                FROM embeddings e CROSS JOIN c
            ), r AS (
                SELECT vec_id, cid, dist,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY dist, cid
                       ) AS rn
                FROM d
            )
            SELECT vec_id, cid,
                   FLOOR(dist * 1000000 + 0.5) / 1000000.0 AS dist
            FROM r WHERE rn = 1
        """)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd assignment step over the embedding corpus: nearest of 8
    deterministic seed centroids by L2, centroids broadcast so the
    corpus side never shuffles for scoring (one shuffle for the argmin
    aggregation)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.assign_nearest_centroid(emb, _kmeans_centroids(spark, sf_dir))
    return out.select("vec_id", "cid", _q(F.col("dist"), 6).alias("dist"))


@query("""
            WITH c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT e.vec_id, c.cid,
                       list_distance(e.embedding::DOUBLE[], c.ce) AS dist
                FROM embeddings e CROSS JOIN c
            ), r AS (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY dist, cid
                       ) AS rn
                FROM d
            ), a AS (
                SELECT vec_id, cid FROM r WHERE rn = 1
            ), ex AS (
                SELECT a.cid, t.i - 1 AS pos, e.embedding[t.i]::DOUBLE AS val
                FROM a JOIN embeddings e USING (vec_id)
                CROSS JOIN UNNEST(generate_series(1, len(e.embedding)))
                    AS t(i)
            ), g AS (
                SELECT cid, pos, COUNT(*) AS n,
                       SUM(CAST(ROUND(val * 1000000, 0) AS BIGINT)) AS s
                FROM ex GROUP BY cid, pos
            )
            SELECT cid, CAST(pos AS INT) AS pos, n,
                   FLOOR(((s / 1000000.0) / n) * 1000000 + 0.5)
                       / 1000000.0 AS mean
            FROM g
        """)
def q_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full distributed Lloyd iteration: assignment + component-mean
    update in long form (cid, pos, n, mean). Component sums quantized to
    integer ticks so the distributed float sum is order-independent —
    the pattern that makes iterative ML algorithms oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.assign_nearest_centroid(
        emb, _kmeans_centroids(spark, sf_dir)
    ).select("vec_id", "cid")
    return similarity.kmeans_update(assigned, emb)


@query(f"""
            SELECT vec_id,
                   {_sql_q(
                       "SQRT(list_aggregate(list_transform("
                       "embedding::DOUBLE[], x -> x * x), 'sum'))", 6)}
                       AS l2_norm,
                   CAST(LEN(list_filter(embedding::DOUBLE[], x -> x > 0))
                        AS INT) AS n_pos,
                   {_sql_q("list_max(embedding::DOUBLE[])", 6)} AS max_c
            FROM embeddings
        """)
def q_embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class query surface:
    per-vector L2 norm (transform+aggregate fold), positive-component
    count (filter+size), and max component — all JVM-side lambda
    expressions inside whole-stage codegen, zero UDFs, zero shuffles
    (pure map over the scan)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        _q(F.sqrt(vectors_dot(v, v)), 6).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        _q(F.array_max(v), 6).alias("max_c"),
    )


def _pq_distortion_oracle_sql() -> str:
    """DuckDB twin of q_pq_distortion_report: same codebook literals as
    the ADC oracle; per (vector, subspace) the nearest-codeword error
    min_c(cn − 2·x_sub·c) + x_sub·x_sub floor-quantizes to micro BEFORE
    the per-subspace sum (order-independent BIGINT; argmin margins are
    O(0.01) vs ~1e-13 cross-engine noise, the pq_adc contract)."""
    cb = similarity.make_pq_codebooks(dim=64, m=8, k=16, seed=7)
    cn = (cb**2).sum(axis=2)
    rows = ", ".join(
        f"({s}, {c}, {repr(float(cn[s, c]))}, "
        f"[{', '.join(repr(float(v)) for v in cb[s, c])}]::DOUBLE[])"
        for s in range(8)
        for c in range(16)
    )
    return f"""
        WITH cb(s, c, cn, ctr) AS (VALUES {rows}),
        e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        e AS (SELECT vec_id,
                     list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS u
              FROM e0 WHERE list_inner_product(v, v) > 0),
        sub AS (SELECT vec_id, t.s,
                       array_slice(u, t.s * 8 + 1, t.s * 8 + 8) AS us
                FROM e, range(8) t(s)),
        d AS (SELECT sub.vec_id, sub.s,
                     MIN(cb.cn - 2 * list_inner_product(sub.us, cb.ctr))
                         + list_inner_product(sub.us, sub.us) AS dist
              FROM sub JOIN cb ON cb.s = sub.s
              GROUP BY sub.vec_id, sub.s, sub.us),
        q AS (SELECT s, CAST(FLOOR(dist * 1000000 + 0.5) AS BIGINT) AS q
              FROM d)
        SELECT s AS subspace,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(q) AS BIGINT) AS sum_dist_micro,
               CAST(MAX(q) AS BIGINT) AS max_dist_micro
        FROM q GROUP BY s ORDER BY s
    """


@query(_pq_distortion_oracle_sql)
def q_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization DISTORTION observability — the number an
    ANN operator watches to know when to retrain codebooks (recall
    decays silently; reconstruction error is the leading indicator;
    Jégou et al., TPAMI 2011 §V): per subspace, the count, sum, and
    max of per-vector quantization error ||x_sub − c_nearest||² over
    the L2-normalized corpus, for the SAME seeded codebooks the
    serving path uses (make_pq_codebooks(64, 8, 16, seed=7) — the
    pq_adc_verified family). Pure JVM expressions: the nearest-
    codeword distance is min_c(||c||² − 2·x_sub·c) + ||x_sub||² (the
    pq_encode identity plus the restored constant), each per-vector
    error floor-quantizes to micro BEFORE the sum (order-independent
    BIGINT, the house contract; argmin margins are O(0.01) vs ~1e-13
    cross-engine float noise). DuckDB recomputes from the codebooks
    inlined as literals. Output: (subspace, n_vecs, sum_dist_micro,
    max_dist_micro), subspace-ordered."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = similarity.make_pq_codebooks(dim=64, m=8, k=16, seed=7)
    cn = (cb**2).sum(axis=2)
    df = (
        emb.withColumn(
            "__nrm", F.sqrt(vectors_dot(F.col("embedding"), F.col("embedding")))
        )
        .filter(F.col("__nrm") > 0)
        .withColumn(
            "__unit",
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") / F.col("__nrm"),
            ),
        )
    )
    # The unrolled 8×16 codeword-distance tree is IDENTICAL arithmetic
    # to the pre-r15 Column-API construction (lit − 2.0·dot, zip_with/
    # aggregate dot, floor-to-micro), but built as ONE SQL string per
    # subspace: the Column API paid ~2,500 py4j round-trips (~8 s of
    # driver-side construction per bench sample, measured — vs 0.6 s
    # of actual execution); a single F.expr parse is one round-trip
    # and the JVM-side plan is the same (guide §7.3: driver-side
    # single-threaded work is real wall-clock).
    def _dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, x) -> acc + x)"
        )

    per_s = []
    for s in range(8):
        xsub = f"slice(__unit, {s * 8 + 1}, 8)"
        xx = _dot_sql(xsub, xsub)
        terms = ", ".join(
            f"CAST('{float(cn[s, c])!r}' AS DOUBLE) - 2.0D * "
            + _dot_sql(
                xsub,
                "array("
                + ", ".join(
                    f"CAST('{float(v)!r}' AS DOUBLE)" for v in cb[s, c]
                )
                + ")",
            )
            for c in range(16)
        )
        per_s.append(
            F.expr(
                f"named_struct('subspace', {s}, 'q', "
                f"CAST(floor((array_min(array({terms})) + {xx}) "
                f"* 1000000.0D + 0.5D) AS BIGINT))"
            )
        )
    exploded = df.select(F.explode(F.array(*per_s)).alias("e")).select(
        "e.subspace", "e.q"
    )
    return (
        exploded.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("q").alias("sum_dist_micro"),
            F.max("q").alias("max_dist_micro"),
        )
        .orderBy("subspace")
    )


#: the truncation ladder for the Matryoshka-style dimension audit —
#: powers of two up to the corpus's full 64 dims (the ground truth)
_TRUNC_DIMS = (8, 16, 32, 64)


def _dim_truncation_oracle_sql() -> str:
    """DuckDB twin of q_dim_truncation_recall: the truncated-cosine
    scoring grid (list_slice + list_cosine_similarity, micro-quantized
    before ranking), the per-(dim, query) top-10 cut with the vec_id
    tie-break, the hit join against the 64-dim ground truth, and the
    integer recall census."""
    dims = ", ".join(str(d) for d in _TRUNC_DIMS)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, e AS qv FROM e
              WHERE vec_id < {_ANN_BULK_QUERIES}),
        d AS (SELECT CAST(UNNEST([{dims}]) AS INT) AS dim),
        s AS (SELECT d.dim, q.qid, e.vec_id,
                     CAST(FLOOR(list_cosine_similarity(
                              list_slice(e.e, 1, d.dim),
                              list_slice(q.qv, 1, d.dim)) * 1000000
                          + 0.5) AS BIGINT) AS cos_micro
              FROM e, q, d),
        t AS (SELECT dim, qid, vec_id FROM (
                  SELECT *, row_number() OVER (
                      PARTITION BY dim, qid
                      ORDER BY cos_micro DESC, vec_id ASC) AS rk
                  FROM s)
              WHERE rk <= 10),
        f AS (SELECT qid, vec_id FROM t WHERE dim = 64),
        h AS (SELECT t.dim, CAST(COUNT(*) AS BIGINT) AS sum_hits
              FROM t JOIN f ON f.qid = t.qid AND f.vec_id = t.vec_id
              GROUP BY t.dim),
        qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
        SELECT d.dim, qn.n_queries,
               CAST(COALESCE(h.sum_hits, 0) AS BIGINT) AS sum_hits,
               CAST((COALESCE(h.sum_hits, 0) * 1000000)
                    // (10 * qn.n_queries) AS BIGINT) AS recall_ppm
        FROM d LEFT JOIN h ON h.dim = d.dim, qn
        ORDER BY d.dim
    """


@query(_dim_truncation_oracle_sql)
def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DIMENSION-truncation recall audit — the measurement
    behind the Matryoshka/short-vector serving decision (Kusupati et
    al., NeurIPS 2022: if the first d coordinates preserve the
    neighborhood structure, serve d-dim vectors and cut index memory
    and ANN cost by 64/d; the audit says which d is safe): for each
    dim in the 8→64 ladder, the exact cosine top-10 over the corpus
    under FIRST-d-coordinates truncation, scored against the full-dim
    top-10 as ground truth — one row per dim: query count, total hits,
    recall@10 in ppm (the 64-dim row is the identity check at exactly
    1e6). Determinism is the bulk-ANN contract: cosines floor-quantize
    to integer micro BEFORE ranking and ties break on vec_id, so both
    engines cut the same top-10 sets bit-for-bit.

    Scale shape: ONE corpus scan — the 32-query matrix and the 4-row
    dim grid broadcast, each corpus vector scores 4×32 combos in-plan
    (whole-stage codegen, no UDF), and the per-(dim, query) top-10
    window is the single shuffle (128 bounded groups); the hit join
    and the census run on the 10·|dims|·|queries|-row shortlist. At
    100 TB the same plan runs on a corpus sample — the audit estimates
    a recall RATIO, which concentrates long before the full scan."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qs = emb.filter(F.col("vec_id") < _ANN_BULK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv")
    )
    dims = spark.createDataFrame(
        [(d,) for d in _TRUNC_DIMS], "dim int"
    )
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (  # noqa: E501
        vectors,
    )

    cos_micro = F.floor(
        vectors.cosine(
            F.slice(F.col("e"), F.lit(1), F.col("dim")),
            F.slice(F.col("qv"), F.lit(1), F.col("dim")),
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    scored = (
        emb.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(dims))
        .select("dim", "qid", "vec_id", cos_micro.alias("cos_micro"))
    )
    wt = Window.partitionBy("dim", "qid").orderBy(
        F.desc("cos_micro"), F.asc("vec_id")
    )
    top = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= 10)
        .select("dim", "qid", "vec_id")
    )
    full = top.filter(F.col("dim") == 64).select("qid", "vec_id")
    hits = (
        top.join(full, ["qid", "vec_id"])
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("sum_hits"))
    )
    qn = qs.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        dims.join(hits, "dim", "left")
        .crossJoin(F.broadcast(qn))
        .select(
            "dim",
            "n_queries",
            F.coalesce("sum_hits", F.lit(0)).cast("long").alias(
                "sum_hits"
            ),
            F.expr(
                "(coalesce(sum_hits, 0) * 1000000) DIV (10 * n_queries)"
            ).alias("recall_ppm"),
        )
        .orderBy("dim")
    )


#: bulk re-ranking query-set size for q_ivf_bulk_topk — 4× the serving
#: page, drawn from the same embeddings prefix
_ANN_BULK_QUERIES = 32
