"""Sketch and sampling queries: count-min, KMV, Bloom, log-bucket
quantiles and weighted or stratified samples."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    sampling,
    sketches,
)

from catalog import query
from catalog._common import _cents, _q, _sql_q, _t


@query("""
            WITH l AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
            t AS (SELECT SUM(n) AS nt FROM l),
            e AS (SELECT lang, CAST(n AS DOUBLE) / nt AS p,
                         SQRT(CAST(n AS DOUBLE) / nt) AS wraw
                  FROM l, t),
            z AS (SELECT SUM(wraw) AS z FROM e),
            w AS (SELECT lang, (wraw / z) / p AS u FROM e, z)
            SELECT d.doc_id, d.lang,
                   CAST(FLOOR(u) AS BIGINT) +
                   CASE WHEN CAST(('0x' || substring(
                                 md5('resample:' || d.doc_id::VARCHAR),
                                 1, 8))::UBIGINT AS DOUBLE) / 4294967296.0
                             < u - FLOOR(u)
                        THEN 1 ELSE 0 END AS n_copies
            FROM documents d JOIN w USING (lang)
        """)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling weights REALIZED (sampling.temperature_resample):
    per-doc copy counts for the alpha=0.5 temperature mixture —
    deterministic stochastic rounding off the stable content hash, so
    head languages thin and tail languages repeat, bit-reproducibly."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_resample(docs)


@query()
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (SURVEY §2.4 extension): HLL distinct counts +
    t-digest-style percentile per group. Rows-only check — sketch values
    are engine-specific by design (DuckDB's HLL differs), but at 100 TB
    these replace exact distinct/percentile shuffles with mergeable
    fixed-size state."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_value"),
        F.percentile_approx("value", 0.95).alias("p95_value"),
    )


@query()
def q_sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Spark's Apache DataSketches HLL
    bindings): per-day user sketches built in ONE aggregation pass, then
    the SAME binary sketches union-merged into a global distinct
    estimate WITHOUT rescanning events — the re-aggregable layout a
    100 TB metrics store keeps (persist per-partition sketches; answer
    any coarser rollup by merge, never by re-count). The global row
    (day NULL) comes from hll_union_agg over the daily sketches, so the
    plan re-reads k daily rows, not the fact table. Rows-only under the
    driver (sketch estimates are implementation-defined; DuckDB's HLL
    differs) — exact-at-low-cardinality, merge==whole, and bounded
    relative error at high cardinality are pinned in
    tests/test_relational.py."""
    ev = _t(spark, sf_dir, "events")
    # no persist: the union's two branches recompute the small per-day
    # sketch aggregate rather than pinning an uncollectable cache entry
    # per (query, sf_dir) invocation across the multi-scale gate runs
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    per_day = daily.select(
        "day", F.hll_sketch_estimate("sk").alias("est_users")
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit(None).cast("timestamp").alias("day"), "est_users")
    return per_day.unionAll(total).orderBy(F.asc_nulls_last("day"))


@query("""
            WITH rows4 AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
            cells AS (
                SELECT r,
                       CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 256 AS BIGINT) AS bucket,
                       COUNT(*) AS n
                FROM events CROSS JOIN rows4
                GROUP BY 1, 2
            ),
            top AS (
                SELECT user_id, COUNT(*) AS exact_n
                FROM events GROUP BY 1
                ORDER BY exact_n DESC, user_id ASC LIMIT 20
            ),
            probes AS (
                SELECT t.user_id, t.exact_n, r,
                       CAST(('0x' || substring(md5(CAST(t.user_id AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 256 AS BIGINT) AS bucket
                FROM top t CROSS JOIN rows4
            )
            SELECT p.user_id, p.exact_n,
                   MIN(COALESCE(c.n, 0)) AS cms_est,
                   MIN(COALESCE(c.n, 0)) - p.exact_n AS overshoot
            FROM probes p
            LEFT JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
            GROUP BY 1, 2
            ORDER BY exact_n DESC, user_id ASC
        """)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketches.py): build the
    4×256 counter grid over events.user_id in one bounded-shuffle pass,
    then point-query it for the exact top-20 users and report estimate
    beside truth. The md5 hash family makes the grid deterministic, so
    the DuckDB oracle rebuilds the IDENTICAL sketch cell-for-cell and
    the estimates hash-match — a fully differentially-checked
    approximate structure, not a rows-only one. CMS guarantees
    cms_est >= exact_n; the overshoot column shows the collision cost at
    this width."""
    ev = _t(spark, sf_dir, "events")
    sketch = sketches.cms_build(ev, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    # the top-20 shortlist is bounded by definition — fetch it ONCE so
    # the exact aggregation lineage doesn't execute twice (once for the
    # probes, once for the final join)
    top_rows = [
        (r.user_id, r.exact_n)
        for r in exact.orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(20)
        .collect()
    ]
    top = spark.createDataFrame(top_rows, "user_id long, exact_n long")
    est = sketches.cms_estimate(sketch, top.select("user_id"), "user_id")
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overshoot"),
        )
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
    )


@query("""
            SELECT doc_id, lang, source,
                   substring(md5('corpus-sample:'
                                 || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS sample_key
            FROM documents
            ORDER BY sample_key ASC, doc_id ASC
            LIMIT 100
        """)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k sample: the 100 documents with the
    smallest md5 content hash ARE a uniform random sample — one that is
    identical across runs, retries, engines, and partition layouts,
    which rand()-based sampling is not. This is the hash-min trick that
    also gives mergeable distributed sampling: each partition's local
    bottom-k union-merges to the global bottom-k, so the plan is
    TakeOrderedAndProject (no global sort, no shuffle of the corpus).
    Growing the corpus only replaces sample members, never perturbs the
    selection rule."""
    docs = _t(spark, sf_dir, "documents")
    key = sampling.hash_hex(F.col("doc_id"), "corpus-sample")
    return (
        docs.select(
            "doc_id", "lang", "source", key.alias("sample_key")
        )
        .orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(100)
    )


@query("""
            WITH pr AS (
                SELECT lang, doc_id, n_chars,
                       CAST(('0x' || substring(md5('wpps:'
                                || CAST(doc_id AS VARCHAR)), 1, 15)
                            )::UBIGINT AS DOUBLE)
                           / CAST(n_chars AS DOUBLE) AS priority
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ), rk AS (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY priority ASC, doc_id ASC
                       ) AS rk
                FROM pr
            )
            SELECT lang, CAST(rk AS INT) AS rk, doc_id, n_chars, priority
            FROM rk WHERE rk <= 10 ORDER BY lang, rk
        """)
def q_weighted_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS order sampling (sampling.weighted_bottomk): 10 docs per
    language, inclusion probability proportional to document length —
    the weighted companion of bottomk_sample for building
    length-balanced eval/train subsets. The priority u/w is one IEEE
    division of exactly-represented integers (md5-60-bit u, integer
    char weight), so DuckDB computes the bit-identical key and the
    sample hash-matches — a WEIGHTED random sample under the value-hash
    gate, which rand()-based sampling can never be."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.weighted_bottomk(
        docs.select("doc_id", "lang", F.col("n_chars")),
        ["lang"],
        "doc_id",
        "n_chars",
        k=10,
    )
    return out.select(
        "lang", "rk", "doc_id", "n_chars", "priority"
    ).orderBy("lang", "rk")


@query("""
            WITH v AS (
                SELECT o_orderpriority AS g,
                       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
                FROM orders
            ),
            b AS (
                SELECT g,
                       length(printf('%b', v)) * 8
                       + ((v >> greatest(length(printf('%b', v)) - 4, 0)) & 7)
                           AS bucket,
                       COUNT(*) AS n
                FROM v WHERE v >= 1 GROUP BY 1, 2
            ),
            cum AS (
                SELECT g, bucket, n,
                       SUM(n) OVER (PARTITION BY g ORDER BY bucket) AS cumn
                FROM b
            ),
            tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_total
                    FROM b GROUP BY 1),
            qs AS (SELECT UNNEST([500, 900, 990]) AS q_mille),
            r AS (
                SELECT g, q_mille, n_total, MIN(bucket) AS bucket
                FROM cum JOIN tot USING (g) CROSS JOIN qs
                WHERE cumn >= (q_mille * n_total + 999) // 1000
                GROUP BY 1, 2, 3
            )
            SELECT g AS o_orderpriority,
                   q_mille / 1000.0 AS q,
                   n_total,
                   CAST(CASE WHEN bucket // 8 <= 3 THEN bucket % 8
                        ELSE ((bucket % 8) + 8) << (bucket // 8 - 4)
                        END AS BIGINT) AS est_cents
            FROM r
            ORDER BY o_orderpriority, q
        """)
def q_logbucket_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH (operators/sketches.py logbucket_*): p50/p90/p99
    of order-price cents per priority from DDSketch-style log buckets —
    but with ENGINE-EXACT integer bucketing ((bit_length, next-3-bits)
    via string-length-of-binary + shift/mask, a quantized log base
    2^(1/8)) instead of libm ln, so the whole sketch AND its quantile
    walk hash-match the DuckDB twin. State: ≤512 bucket rows per group
    forever; estimates carry a ≤12.5% relative-error guarantee (exact
    below 8). The fourth sketch: CMS frequency, KMV cardinality, Bloom
    membership, log-bucket quantiles."""
    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        F.col("o_orderpriority").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    sk = sketches.logbucket_build(vals, ["g"], "v")
    est = sketches.logbucket_quantile(sk, ["g"], [0.5, 0.9, 0.99])
    return est.select(
        F.col("g").alias("o_orderpriority"),
        "q",
        "n_total",
        F.col("est").alias("est_cents"),
    ).orderBy("o_orderpriority", "q")


@query("""
            WITH rows4 AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
            ca AS (
                SELECT r,
                       CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 256 AS BIGINT) AS bucket,
                       COUNT(*) AS na
                FROM orders CROSS JOIN rows4
                GROUP BY 1, 2
            ),
            cb AS (
                SELECT r,
                       CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 256 AS BIGINT) AS bucket,
                       COUNT(*) AS nb
                FROM customer CROSS JOIN rows4
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY 1, 2
            ),
            prods AS (
                SELECT ca.r, SUM(ca.na * cb.nb) AS ip
                FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
                GROUP BY 1
            ),
            per_row AS (
                SELECT rows4.r, COALESCE(ip, 0) AS ip
                FROM rows4 LEFT JOIN prods ON rows4.r = prods.r
            ),
            est AS (SELECT CAST(MIN(ip) AS BIGINT) AS join_size_est
                    FROM per_row),
            ex AS (
                SELECT COUNT(*) AS exact_join_size
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
            )
            SELECT join_size_est,
                   CAST(exact_join_size AS BIGINT) AS exact_join_size,
                   CAST(join_size_est - exact_join_size AS BIGINT)
                       AS overshoot
            FROM est, ex
        """)
def q_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches ALONE (sketches.
    cms_join_cardinality): |orders ⋈ BUILDING-segment customers| on
    custkey, estimated by the CMS inner product (min over rows of
    Σ nA·nB — an upper bound tightening with width) beside the exact
    join count — the what-a-CBO-asks-before-running-the-join number,
    computed from two 4×256 grids without touching either table again.
    The md5 family makes both grids and the product walk
    engine-deterministic, so the DuckDB twin hash-matches estimate AND
    overshoot."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    segc = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ska = sketches.cms_build(orders, "o_custkey", depth=4, width=256)
    skb = sketches.cms_build(segc, "c_custkey", depth=4, width=256)
    est = sketches.cms_join_cardinality(ska, skb)
    exact = (
        orders.join(segc, orders.o_custkey == segc.c_custkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "exact_join_size",
        (F.col("join_size_est") - F.col("exact_join_size")).alias("overshoot"),
    )


@query("""
            WITH rows4 AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
            m AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderstatus = 'F'
            ),
            bits AS (
                SELECT DISTINCT
                       CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 4096 AS BIGINT) AS bit
                FROM m CROSS JOIN rows4
            ),
            probes AS (
                SELECT c_custkey AS custkey,
                       CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                                   || ':' || r), 1, 15)
                            )::UBIGINT % 4096 AS BIGINT) AS bit
                FROM customer CROSS JOIN rows4
            )
            SELECT p.custkey,
                   COUNT(*) FILTER (WHERE b.bit IS NOT NULL) = 4
                       AS might_contain,
                   EXISTS (SELECT 1 FROM m WHERE m.o_custkey = p.custkey)
                       AS is_member
            FROM probes p LEFT JOIN bits b ON p.bit = b.bit
            GROUP BY 1
            ORDER BY custkey
        """)
def q_bloom_membership_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership sketch (operators/sketches.py bloom_build/
    bloom_probe) completing the sketch family: CMS answers frequency,
    KMV cardinality, Bloom MEMBERSHIP — "has this customer ever placed
    a finished order" from a ≤4096-row bit table instead of the key
    domain. Built over o_custkey of status-'F' orders, probed by every
    customer; the verdict sits beside exact membership so the output
    itself exhibits the contract (no false negatives; FPs at the
    (1−e^{−kn/m})^k rate). The md5 bit family makes the whole sketch
    deterministic — DuckDB rebuilds the identical bit set, so a
    probabilistic structure is value-hash-checked, not rows-only."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    members = orders.filter(F.col("o_orderstatus") == "F")
    sk = sketches.bloom_build(members, "o_custkey", n_hashes=4, n_bits=4096)
    probe = sketches.bloom_probe(
        sk,
        customer.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        n_hashes=4,
        n_bits=4096,
    )
    exact = (
        members.select("o_custkey")
        .distinct()
        .withColumn("is_member", F.lit(True))
    )
    return (
        probe.join(exact, "o_custkey", "left")
        .select(
            F.col("o_custkey").alias("custkey"),
            "might_contain",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
        .orderBy("custkey")
    )


@query(f"""
            WITH h AS (
                SELECT DISTINCT event_type,
                       CAST(('0x' || substring(md5('kmv:'
                                || CAST(user_id AS VARCHAR)), 1, 15)
                            )::UBIGINT AS BIGINT) AS h
                FROM events
            ),
            bk AS (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h ASC) AS rk
                FROM h QUALIFY rk <= 64
            ),
            est AS (
                SELECT event_type, COUNT(*) AS n_seen,
                       MAX(CASE WHEN rk = 64 THEN h END) AS kth
                FROM bk GROUP BY 1
            )
            SELECT e.event_type, n_seen,
                   {_sql_q(
                       "CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE) "
                       "ELSE 63.0 / (kth / 1152921504606846976.0) END", 2
                   )} AS ndv_est,
                   x.exact_ndv
            FROM est e
            JOIN (SELECT event_type,
                         COUNT(DISTINCT user_id) AS exact_ndv
                  FROM events GROUP BY 1) x USING (event_type)
            ORDER BY event_type
        """)
def q_kmv_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event_type (operators/sketches.py:
    kmv_build/kmv_estimate) beside the exact answer. The md5 hash family
    makes the whole sketch deterministic, so unlike the HLL rollup
    (engine-specific state, rows-only under the driver) this
    distinct-count SKETCH is value-hash-checked: DuckDB recomputes the
    same bottom-64 hashes and the same (k-1)/(h_k/2^60) estimator.
    State is 64 longs per group, mergeable by bottom-k union (pinned in
    tests/test_sketches.py)."""
    ev = _t(spark, sf_dir, "events")
    sk = sketches.kmv_build(ev, ["event_type"], "user_id", k=64)
    est = sketches.kmv_estimate(sk, ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_ndv")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_seen",
            _q(F.col("ndv_est"), 2).alias("ndv_est"),
            "exact_ndv",
        )
        .orderBy("event_type")
    )


@query("""
            SELECT doc_id, lang,
                   substring(md5('stratum-sample:'
                                 || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS sample_key,
                   CAST(rk AS BIGINT) AS rk
            FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY substring(md5('stratum-sample:'
                                    || CAST(doc_id AS VARCHAR)), 1, 8) ASC,
                                    doc_id ASC
                       ) AS rk
                FROM documents
            ) WHERE rk <= 20
        """)
def q_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum reservoir: the 20 hash-smallest docs
    of EACH language — a uniform fixed-size sample per group that is
    stable across runs, engines, and partition layouts (the grouped
    variant of bottomk_sample; rand()-reservoirs are neither
    reproducible nor mergeable). One window pass partitioned by the
    stratum; local bottom-k merges by construction."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    key = sampling.hash_hex(F.col("doc_id"), "stratum-sample")
    w = Window.partitionBy("lang").orderBy(F.asc("sample_key"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", key.alias("sample_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "sample_key", "rk")
    )


@query(f"""
            WITH h AS (
                SELECT DISTINCT event_type,
                       CAST(('0x' || substring(md5('kmv:'
                                || CAST(user_id AS VARCHAR)), 1, 15)
                            )::UBIGINT AS BIGINT) AS h
                FROM events
            ),
            sk AS (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h ASC) AS rk
                FROM h QUALIFY rk <= 64
            ),
            types AS (SELECT DISTINCT event_type FROM events),
            pairs AS (
                SELECT a.event_type AS ta, b.event_type AS tb
                FROM types a JOIN types b ON a.event_type < b.event_type
            ),
            tagged AS (
                SELECT DISTINCT ta, tb, h
                FROM sk JOIN pairs
                  ON event_type = ta OR event_type = tb
            ),
            merged AS (
                SELECT ta, tb, h,
                       row_number() OVER (PARTITION BY ta, tb
                                          ORDER BY h ASC) AS rk
                FROM tagged QUALIFY rk <= 64
            ),
            un AS (
                SELECT ta, tb,
                       CASE WHEN COUNT(*) < 64
                            THEN CAST(COUNT(*) AS DOUBLE)
                            ELSE 63.0 / (MAX(CASE WHEN rk = 64 THEN h END)
                                         / 1152921504606846976.0) END
                           AS est_union
                FROM merged GROUP BY 1, 2
            ),
            singles AS (
                SELECT event_type AS t,
                       CASE WHEN COUNT(*) < 64
                            THEN CAST(COUNT(*) AS DOUBLE)
                            ELSE 63.0 / (MAX(CASE WHEN rk = 64 THEN h END)
                                         / 1152921504606846976.0) END
                           AS est
                FROM sk GROUP BY 1
            ),
            est AS (
                SELECT ta, tb,
                       GREATEST(0.0, sa.est + sb.est - est_union)
                           AS est_inter,
                       est_union
                FROM un
                JOIN singles sa ON sa.t = ta
                JOIN singles sb ON sb.t = tb
            ),
            users AS (SELECT DISTINCT event_type, user_id FROM events),
            inter AS (
                SELECT ta, tb, COUNT(*) AS n_inter
                FROM users ua
                JOIN users ub ON ua.user_id = ub.user_id
                JOIN pairs ON ua.event_type = ta AND ub.event_type = tb
                GROUP BY 1, 2
            ),
            sizes AS (SELECT event_type, COUNT(*) AS n FROM users
                      GROUP BY 1)
            SELECT ta, tb,
                   {_sql_q("est_inter / est_union", 4)} AS kmv_jaccard,
                   {_sql_q(
                       "CAST(n_inter AS DOUBLE)"
                       " / (na.n + nb.n - n_inter)", 4
                   )} AS exact_jaccard
            FROM est
            JOIN inter USING (ta, tb)
            JOIN sizes na ON na.event_type = ta
            JOIN sizes nb ON nb.event_type = tb
            ORDER BY ta, tb
        """)
def q_kmv_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-composed set similarity: Jaccard between every pair of
    event types' USER SETS estimated purely from their KMV sketches
    (union sketch by bottom-k merge + inclusion-exclusion), beside the
    exact Jaccard — the "compare any two segments without rescanning
    either" pattern, answered from k-long sketch state. The md5 hash
    family keeps every estimate deterministic, so even the
    approximation hash-matches the DuckDB twin. Pair assignment is a
    broadcast join of the 10-row pair table against the sketch rows;
    nothing corpus-sized moves."""
    ev = _t(spark, sf_dir, "events")
    k = 64
    sk = sketches.kmv_build(ev, ["event_type"], "user_id", k=k)
    types = sorted(
        r.event_type for r in ev.select("event_type").distinct().collect()
    )
    pairs = [(a, b) for i, a in enumerate(types) for b in types[i + 1:]]
    pairs_df = spark.createDataFrame(pairs, "ta string, tb string")
    tagged = (
        sk.join(
            F.broadcast(pairs_df),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .select("ta", "tb", "h")
    )
    merged = sketches._bottom_k(tagged, ["ta", "tb"], k)
    un = sketches.kmv_estimate(merged, ["ta", "tb"], k=k).select(
        "ta", "tb", F.col("ndv_est").alias("est_union")
    )
    singles = sketches.kmv_estimate(sk, ["event_type"], k=k).select(
        F.col("event_type").alias("t"), F.col("ndv_est").alias("est")
    )
    est = (
        un.join(
            F.broadcast(singles.withColumnRenamed("t", "ta")
                        .withColumnRenamed("est", "est_a")), "ta"
        )
        .join(
            F.broadcast(singles.withColumnRenamed("t", "tb")
                        .withColumnRenamed("est", "est_b")), "tb"
        )
        .select(
            "ta", "tb",
            F.greatest(
                F.lit(0.0),
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
            ).alias("est_inter"),
            "est_union",
        )
    )
    users = ev.select("event_type", "user_id").distinct()
    ua = users.select(
        F.col("event_type").alias("ta"), F.col("user_id").alias("u")
    )
    ub = users.select(
        F.col("event_type").alias("tb"), F.col("user_id").alias("u")
    )
    inter = (
        ua.join(ub, "u")
        .join(F.broadcast(pairs_df), ["ta", "tb"], "left_semi")
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = users.groupBy("event_type").agg(F.count("*").alias("n"))
    exact = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "ta")
                        .withColumnRenamed("n", "n_a")), "ta"
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "tb")
                        .withColumnRenamed("n", "n_b")), "tb"
        )
        .select(
            "ta", "tb",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("exact_jaccard"),
        )
    )
    return (
        est.join(exact, ["ta", "tb"])
        .select(
            "ta", "tb",
            _q(F.col("est_inter") / F.col("est_union"), 4).alias(
                "kmv_jaccard"
            ),
            _q(F.col("exact_jaccard"), 4).alias("exact_jaccard"),
        )
        .orderBy("ta", "tb")
    )
