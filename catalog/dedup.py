"""Document dedup queries: exact, MinHash, SimHash, n-gram,
winnowing, passage and containment dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
    split_words,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    dedup,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans.shape import (
    ensure_min_parallelism,
)

from catalog import query
from catalog._common import _NORM_TEXT, _q, _t


@query(f"""
            SELECT md5({_NORM_TEXT}) AS fingerprint,
                   MIN(doc_id) AS keep_id,
                   COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
                   FLOOR((len(list_intersect(a.toks, b.toks))::DOUBLE
                          / (len(a.toks) + len(b.toks)
                             - len(list_intersect(a.toks, b.toks))))
                         * 1000000 + 0.5) / 1000000.0 AS jac
            FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        """)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (unigram) Jaccard similarity between consecutive doc ids —
    the exact-verification tier of near-dedup, fully oracle-checkable
    (the LSH tiers pick WHICH pairs to verify; this checks the verifier
    itself)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.array_distinct(split_words("text")).alias("toks")
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    n_common = F.size(F.array_intersect("ta", "tb"))
    union_sz = F.size("ta") + F.size("tb") - n_common
    return pairs.select(
        "id_a",
        "id_b",
        n_common.cast("long").alias("n_common"),
        _q(n_common.cast("double") / union_sz, 6).alias("jac"),
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
                FROM documents
            ), p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
                WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                      / (len(a.toks) + len(b.toks)
                         - len(list_intersect(a.toks, b.toks))) >= 0.6
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM p
                UNION SELECT id_b, id_a FROM p
            ), reach AS (
                WITH RECURSIVE r(id, label) AS (
                    SELECT a, a FROM edges
                    UNION
                    SELECT e.b, r.label FROM r JOIN edges e ON e.a = r.id
                ) SELECT * FROM r
            )
            SELECT id AS doc_id, MIN(label) AS component
            FROM reach GROUP BY id
        """)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (pointer-jumping min-label
    propagation): the clustering step that turns pairwise similarity into
    an actual keep/drop decision. Edges here are the deterministic
    consecutive-id Jaccard pairs so the whole thing is oracle-checkable
    (DuckDB recursive CTE)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.array_distinct(split_words("text")).alias("toks"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb"))
    union_sz = F.size("ta") + F.size("tb") - n_common
    pairs = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .filter(n_common.cast("double") / union_sz >= 0.6)
        .select("id_a", "id_b")
    )
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


#: DuckDB twin of q_dedup_keep_best — a module constant because the
#: dedup_cluster_size_profile twin replays the ENTIRE chain as a
#: subquery (the shard_balance_report composition pattern)
_DEDUP_KEEP_BEST_SQL = r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), shg AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS sh
                FROM w
            ), s AS (
                SELECT doc_id,
                       list_transform([0, 1, 2, 3],
                           i -> list_min(list_transform(sh,
                               x -> md5(i::VARCHAR || ' ' || x)))) AS sig
                FROM shg
            ), bnd AS (
                SELECT doc_id, r.range AS band,
                       sig[CAST(r.range * 2 + 1 AS INT)] || ',' ||
                       sig[CAST(r.range * 2 + 2 AS INT)] AS bucket
                FROM s, range(2) r
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM bnd a
                JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                           AND a.doc_id < b2.doc_id
            ), p AS (
                SELECT id_a, id_b
                FROM cand
                JOIN shg sa ON sa.doc_id = cand.id_a
                JOIN shg sb ON sb.doc_id = cand.id_b
                WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                      / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
                         - len(list_intersect(sa.sh, sb.sh))) >= 0.6
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM p
                UNION SELECT id_b, id_a FROM p
            ), reach AS (
                WITH RECURSIVE r(id, label) AS (
                    SELECT a, a FROM edges
                    UNION
                    SELECT e.b, r.label FROM r JOIN edges e ON e.a = r.id
                ) SELECT * FROM r
            ), comp AS (
                SELECT id AS doc_id, MIN(label) AS component
                FROM reach GROUP BY id
            ), m AS (
                SELECT doc_id,
                       length(text) AS nc,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END AS nw,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                           AS npunct,
                       length(regexp_replace(text, '\s+', '', 'g'))
                           AS nc_nospace
                FROM documents
            ), r2 AS (
                SELECT doc_id,
                       LEAST(nc / 200.0, 1.0) AS len_score,
                       LEAST((CASE WHEN nc = 0 THEN 0.0
                                   ELSE CAST(npunct AS DOUBLE) / nc END)
                             * 2.0, 1.0) AS noise_penalty,
                       CASE WHEN nw = 0 THEN 0.0
                            ELSE CAST(nc_nospace AS DOUBLE) / nw
                       END AS wl
                FROM m
            ), q AS (
                SELECT doc_id,
                       FLOOR((len_score * 0.5
                              + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                      THEN 1.0 ELSE 0.5 END) * 0.3
                              + (1.0 - noise_penalty) * 0.2) * 1000000
                             + 0.5) / 1000000.0 AS quality
                FROM r2
            ), assigned AS (
                SELECT q.doc_id, q.quality,
                       COALESCE(comp.component, q.doc_id) AS component
                FROM q LEFT JOIN comp USING (doc_id)
            ), ranked AS (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY component
                           ORDER BY quality DESC, doc_id ASC
                       ) AS rk
                FROM assigned
            )
            SELECT component,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
                   MAX(CASE WHEN rk = 1 THEN quality END) AS kept_quality
            FROM ranked GROUP BY component ORDER BY component
        """


@query(_DEDUP_KEEP_BEST_SQL)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop DECISION on top of near-dup clustering, composed
    over the REAL MinHash-LSH candidate generator (not an adjacency
    stand-in): md5-family signatures (reproducible in DuckDB) feed the
    production banding/bucketing/self-join path
    (dedup.minhash_lsh_candidates), candidates are verified with exact
    shingle-set Jaccard >= 0.6, verified pairs become connected
    components (pointer-jumping min-label), and each cluster elects the
    representative to KEEP by highest quality score with doc_id as the
    total-order tie-break — the curation policy real pipelines apply
    (keep the best-written copy, not the first-crawled one, cf. the
    dedup discussions in Gopher/RefinedWeb). Singletons keep their own
    id: a doc with no verified near-dups is its own cluster. Output is
    one row per cluster: size, kept doc, its quality. Shape: the
    shingle table materializes ONCE (localCheckpoint) and serves the
    signature, verify-a, and verify-b branches; the banded self-join
    carries (band, bucket, id) only; everything past the text scan is
    id-keyed — the full LSH→verify→cluster→elect chain of a production
    dedup pass, differentially checked end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    # fan the one-split documents scan across cores BEFORE the
    # per-shingle md5 work — the whole LSH chain ran single-task on
    # the sub-4MB file (guide §2.5); results are exact/layout-free
    words = ensure_min_parallelism(
        docs.select("doc_id", split_words("text").alias("__w"))
    )
    sh = words.select(
        "doc_id", textf.shingles_from_words(F.col("__w"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    families = F.sequence(F.lit(0), F.lit(3))
    sig_df = sh.select(
        "doc_id",
        F.transform(
            families,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit(" "), s)),
                )
            ),
        ).alias("sig"),
    )
    cands = dedup.minhash_lsh_candidates(
        docs,
        sig_df=sig_df,
        num_hashes=4,
        bands=2,
        max_bucket_size=None,
        with_est=False,
    )
    sh_a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(dedup.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.6)
        .select("id_a", "id_b")
    )
    comps = dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    scored = docs.select(
        "doc_id", textf.quality_score("text").alias("quality")
    )
    full = scored.join(comps, "doc_id", "left").select(
        "doc_id",
        "quality",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        full.withColumn("__rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("__rk") == 1, F.col("doc_id"))).alias(
                "keep_id"
            ),
            F.max(F.when(F.col("__rk") == 1, F.col("quality"))).alias(
                "kept_quality"
            ),
        )
        .orderBy("component")
    )


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS shingles
                FROM w
            ), f AS (SELECT doc_id, r.range AS family, shingles FROM sh, range(4) r)
            SELECT doc_id, CAST(family AS INT) AS family,
                   list_min(list_transform(shingles,
                       s -> md5(family::VARCHAR || ' ' || s))) AS mh
            FROM f
        """)
def q_minhash_signatures_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature pipeline verified BIT-FOR-BIT against DuckDB:
    md5 hash family (available in both engines), min taken over the hex
    strings' lexicographic order — MinHash only needs a total order on
    hash values. The production path (operators.dedup) swaps in seeded
    xxhash64 for speed; this query pins the shingle→family→min pipeline
    semantics under the differential gate. Output exploded to
    (doc_id, family, mh) flat strings for robust comparison."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", split_words("text").alias("__w"))
    sh = words.select(
        "doc_id", textf.shingles_from_words(F.col("__w"), 3).alias("sh")
    )
    families = F.sequence(F.lit(0), F.lit(3))
    sigs = sh.select(
        "doc_id",
        F.transform(
            families,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit(" "), s)),
                )
            ),
        ).alias("sig"),
    )
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("family", "mh")
    )


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS shingles
                FROM w
            ), s AS (
                SELECT doc_id,
                       list_transform([0, 1, 2, 3],
                           i -> list_min(list_transform(shingles,
                               x -> md5(i::VARCHAR || ' ' || x)))) AS sig
                FROM sh
            ), b AS (
                SELECT doc_id, r.range AS band,
                       sig[CAST(r.range * 2 + 1 AS INT)] || ',' ||
                       sig[CAST(r.range * 2 + 2 AS INT)] AS bucket
                FROM s, range(2) r
            )
            SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
            FROM b a
            JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
                     AND a.doc_id < b2.doc_id
        """)
def q_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH candidate MECHANISM under the differential gate:
    an md5-family signature table (reproducible in DuckDB, unlike the
    production xxhash64 family) is fed through the SAME production
    banding/bucketing/self-join path (dedup.minhash_lsh_candidates via
    sig_df). 4 hashes → 2 bands × 2 rows; the oracle self-joins on the
    band slice strings directly, so the pair sets must agree exactly."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", split_words("text").alias("__w"))
    sh = words.select(
        "doc_id", textf.shingles_from_words(F.col("__w"), 3).alias("sh")
    )
    families = F.sequence(F.lit(0), F.lit(3))
    sig_df = sh.select(
        "doc_id",
        F.transform(
            families,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit(" "), s)),
                )
            ),
        ).alias("sig"),
    )
    return dedup.minhash_lsh_candidates(
        docs,
        sig_df=sig_df,
        num_hashes=4,
        bands=2,
        max_bucket_size=None,
        with_est=False,
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       list_transform(
                           string_split_regex(lower(trim(text)), '\s+'),
                           tok -> ('0x' || substring(md5(tok), 1, 15))::UBIGINT
                       ) AS hashes
                FROM documents
            )
            SELECT doc_id,
                   CAST(list_aggregate(
                       list_transform(range(60), b -> CASE
                           WHEN 2 * len(list_filter(hashes,
                                    h -> (h >> b) & 1 = 1)) > len(hashes)
                           THEN (1::UBIGINT << b) ELSE 0::UBIGINT END),
                       'sum') AS BIGINT) AS simhash
            FROM t
        """)
def q_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash bit-vote fold under the differential gate: 60-bit
    md5-derived token hashes (15 hex chars — fits signed long in both
    engines) drive the production simhash_from_hashes fold; DuckDB
    recomputes the same majority votes bit by bit. Verifies the fold's
    +1/-1 counting, tie handling, and mask assembly exactly."""
    docs = _t(spark, sf_dir, "documents")
    tokens = split_words("text")
    hashes = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    return docs.select(
        "doc_id", dedup.simhash_from_hashes(hashes, 60).alias("simhash")
    )


@query("""
            SELECT doc_id,
                   list_min(list_transform(
                       generate_series(1, GREATEST(length(text) - 7, 1)),
                       i -> md5(substr(text, i, 8)))) AS fp
            FROM documents
        """)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min hash over all char 8-grams
    (degenerate winnowing with window = whole doc). md5 rather than
    xxhash so the DuckDB oracle reproduces it bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1)))
    fp = F.array_min(
        F.transform(idx, lambda i: F.md5(F.col("text").substr(i, F.lit(8))))
    )
    return docs.select("doc_id", fp.alias("fp"))


@query("""
            WITH g AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, GREATEST(length(text) - 7, 1)),
                           i -> CAST(('0x' || substring(
                                    md5(substr(text, i, 8)), 1, 15))::UBIGINT
                                AS BIGINT)) AS grams
                FROM documents
            )
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       UNNEST(list_transform(
                           generate_series(1, GREATEST(len(grams) - 5, 1)),
                           j -> list_min(list_slice(grams, j, j + 5)))) AS fp
                FROM g
            )
        """)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper winnowing (Schleimer et al., SIGMOD 2003): min md5 over
    each sliding window of 6 consecutive char-8-gram hashes, distinct
    mins kept — the fingerprint density the degenerate whole-doc min
    (rolling_fingerprint) can't give. Guarantees any shared substring of
    length ≥ 13 (k + w - 1) contributes a shared fingerprint, which is
    what makes it the standard local-similarity/contamination sketch.
    Pure higher-order array expressions — per-row O(len·w), no UDF, no
    shuffle before the final distinct. Hashes are the first 15 hex chars
    of md5 as a BIGINT (same selected values — a prefix tie means the
    tied VALUES are equal, so the emitted min is unchanged; the oracle
    mirrors the exact same integers): wall time is md5-bound either way,
    but the final distinct shuffles 8-byte longs instead of 32-char
    strings — 4× less exchange payload at corpus scale. Runs through
    the SAME winnow mechanism (textf.char_gram_hashes + winnow_mins) as
    the xxhash64 production twin (winnowing_fingerprints_fast) — this
    green oracle row witnesses the shared code path."""
    return _winnow_query(spark, sf_dir, family="md5_prefix")


def _winnow_query(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """THE winnowing pipeline, hash family aside — the oracle twin and
    the production twin MUST stay mechanism-identical (the md5 oracle
    row is what witnesses the shared path), so both call here."""
    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    grams = textf.char_gram_hashes("text", k=8, family=family)
    return (
        docs.select("doc_id", grams.alias("__grams"))
        .select(
            "doc_id",
            F.explode(textf.winnow_mins(F.col("__grams"), 6)).alias("fp"),
        )
        .distinct()
    )


@query()
def q_winnowing_fingerprints_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production winnowing: identical mechanism to
    winnowing_fingerprints but grams hashed with engine-native xxhash64
    instead of the md5-hex-prefix oracle family — no hex round-trip, so
    the per-row cost drops from md5-bound to xxhash-bound (mirrors the
    MinHash md5-verified/xxhash-production split, dedup.py). Rows-only
    under the driver (DuckDB has no xxhash64); selected positions and
    values are pinned against an independent reference in
    tests/test_text.py, and the md5 twin's oracle row witnesses the
    shared winnow_mins code path."""
    return _winnow_query(spark, sf_dir, family="xxhash64")


@query()
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified (rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5)


@query()
def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 candidate pairs (rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_candidates(docs).filter(F.col("hamming") <= 3)


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents WHERE doc_id < 500
            ),
            d0 AS (
                SELECT doc_id,
                       list_distinct(
                           CASE WHEN len(words) < 3
                                THEN [array_to_string(words, ' ')]
                                ELSE list_transform(
                                    generate_series(0, len(words) - 3),
                                    i -> array_to_string(
                                        list_slice(words, i + 1, i + 3), ' '))
                           END) AS toks
                FROM w
            ),
            d AS (SELECT * FROM d0 WHERE len(toks) > 0),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                           AS inter,
                       CAST(len(a.toks) AS DOUBLE)
                           + CAST(len(b.toks) AS DOUBLE) AS tot
                FROM d a JOIN d b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   FLOOR((inter / (tot - inter)) * 1000000 + 0.5)
                       / 1000000.0 AS jaccard
            FROM pairs
            WHERE inter / (tot - inter) >= 0.5
        """)
def q_setsim_join_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered all-pairs set-similarity join under the
    differential gate (dedup.setsim_prefix_join — the AllPairs/PPJoin
    prefix filter, Bayardo et al. WWW'07): word-set Jaccard ≥ 0.5 pairs
    over a 500-doc slice. Sets are 3-word shingles (the MinHash tier's
    unit — word sets are too coarse on this corpus: a shared vocabulary
    makes most word SETS near-identical, where shingle sets separate
    true near-dups). THE POINT of the oracle pairing: Spark produces
    pairs through the candidate-pruning prefix filter while DuckDB
    brute-forces ALL pairs — a hash match proves the filter dropped no
    qualifying pair (lossless pruning), not merely that both engines
    can compute Jaccard."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # fan the one-split scan before the shingle build (guide §2.5) —
    # the prefix-join chain is shingle-compute-bound like
    # containment_dup_pairs, where the same fan measured 4.7 → 1.1 s
    toks = ensure_min_parallelism(docs.select("doc_id", "text")).select(
        "doc_id",
        F.array_distinct(textf.shingles_from_words(words, 3)).alias(
            "tokens"
        ),
    )
    return dedup.setsim_prefix_join(toks, threshold=0.5)


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS shingles
                FROM w
            ), ex AS (
                SELECT doc_id, unnest(list_distinct(shingles)) AS gram FROM sh
            ), bench AS (
                SELECT DISTINCT gram FROM ex WHERE doc_id % 50 = 0
            )
            SELECT t.doc_id, COUNT(*) AS n_hits
            FROM (SELECT * FROM ex WHERE doc_id % 50 != 0) t
            JOIN bench b USING (gram)
            GROUP BY t.doc_id
        """)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 50 == 0 stand in for
    a held-out eval set; count each training doc's distinct trigrams
    that collide with any benchmark trigram. Benchmark gram set is
    broadcast — the corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.contamination_hits(docs, (F.col("doc_id") % 50) == 0)


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), chpos AS (
                SELECT doc_id, words,
                       UNNEST(generate_series(
                           0,
                           CAST(greatest(ceil(len(words) / 20.0), 1)
                                AS BIGINT) - 1)) AS pos
                FROM w
            ), ch AS (
                SELECT doc_id, pos,
                       array_to_string(
                           list_slice(words,
                                      CAST(pos * 20 + 1 AS BIGINT),
                                      CAST(pos * 20 + 20 AS BIGINT)),
                           ' ') AS passage
                FROM chpos
            ), fp AS (
                SELECT doc_id, pos, passage, md5(passage) AS f FROM ch
            ), ranked AS (
                SELECT doc_id, pos, passage,
                       row_number() OVER (
                           PARTITION BY f ORDER BY doc_id, pos
                       ) AS rn
                FROM fp
            ), agg AS (
                SELECT doc_id,
                       COUNT(*) AS n_passages,
                       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_dup_passages,
                       COALESCE(
                           string_agg(
                               CASE WHEN rn = 1 THEN passage END,
                               ' ' ORDER BY pos),
                           '') AS kept_text
                FROM ranked GROUP BY doc_id
            )
            SELECT doc_id, n_passages, n_dup_passages,
                   CAST(CASE WHEN kept_text = '' THEN 0
                             ELSE len(string_split(kept_text, ' '))
                        END AS BIGINT) AS kept_words,
                   kept_text
            FROM agg ORDER BY doc_id
        """)
def q_passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document PASSAGE-level exact dedup (operators/dedup.py:
    passage_dedup — the window-fingerprint recipe of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL
    2022): every 20-word passage across the corpus is md5-
    fingerprinted, the global first occurrence (smallest (doc_id,
    position)) is elected keeper per fingerprint, and each document is
    RECONSTRUCTED from its kept passages in order — span-level dedup
    whole-document fingerprints (exact_dedup_docs) can never do, and
    the step real curation pipelines run between near-dup clustering
    and packing. Output per doc: passage counts, duplicate-passage
    count, surviving word count, and the rebuilt text (hash-compared
    end to end, so the oracle proves the reconstruction byte-exact).
    Shape: one explode to (doc, pos, passage), one fp-keyed min-struct
    election, one fp-keyed verdict join reusing that partitioning, one
    doc-keyed rebuild via array_sort — no windows, no collects,
    nothing quadratic; shuffle volume is the tokenized corpus."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.passage_dedup(
        docs, text_col="text", id_col="doc_id", window_words=20
    ).orderBy("doc_id")


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
                WHERE regexp_replace(text, '\s+', '', 'g') <> ''
            ), chpos AS (
                SELECT doc_id, words,
                       UNNEST(generate_series(
                           0,
                           CAST(greatest(ceil(len(words) / 5.0), 1)
                                AS BIGINT) - 1)) AS pos
                FROM w
            ), ch AS (
                SELECT doc_id, pos,
                       array_to_string(
                           list_slice(words,
                                      CAST(pos * 5 + 1 AS BIGINT),
                                      CAST(pos * 5 + 5 AS BIGINT)),
                           ' ') AS span
                FROM chpos
            ), fp AS (
                SELECT doc_id, pos, span, md5(span) AS f FROM ch
            ), dfr AS (
                SELECT f, COUNT(DISTINCT doc_id) AS df FROM fp GROUP BY f
            ), flg AS (
                SELECT fp.doc_id, fp.pos, fp.span,
                       (dfr.df >= 2) AS boiler
                FROM fp JOIN dfr USING (f)
            ), agg AS (
                SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_spans,
                       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_boiler_spans,
                       COALESCE(
                           string_agg(
                               CASE WHEN NOT boiler THEN span END,
                               ' ' ORDER BY pos),
                           '') AS kept_text
                FROM flg GROUP BY doc_id
            )
            SELECT doc_id, n_spans, n_boiler_spans,
                   CAST(CASE WHEN kept_text = '' THEN 0
                             ELSE len(string_split(kept_text, ' '))
                        END AS BIGINT) AS kept_words,
                   kept_text
            FROM agg ORDER BY doc_id
        """)
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-frequency BOILERPLATE removal
    (operators/dedup.py: boilerplate_scrub; Raffel et al., JMLR 2020
    §2.2 — the navigation-chrome / cookie-banner / footer rule every
    web-scale cleaning pipeline runs): every 5-word span across the
    corpus is md5-fingerprinted, any span occurring in ≥ 2 DISTINCT
    documents is removed from EVERY document — including the first
    occurrence, the semantic that distinguishes chrome removal from
    passage_dedup's keep-first content dedup — and each document is
    reconstructed from its surviving spans in order (hash-compared
    end to end, so the oracle proves the reconstruction byte-exact).
    Shape: one explode to (doc, pos, span), one fp-keyed
    document-frequency census, one fp-keyed verdict join reusing that
    partitioning, one doc-keyed rebuild via array_sort — no windows,
    no collects, nothing quadratic; the span-frequency table is
    corpus-sized vocabulary and carries no broadcast hint.
    Empty/whitespace-only documents drop before fingerprinting (r15:
    previously each manufactured one empty span, and two of them made
    '' corpus boilerplate — the r14 advice edge, pinned in
    tests/test_dedup.py)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.boilerplate_scrub(
        docs, text_col="text", id_col="doc_id", window_words=5, min_df=2
    ).orderBy("doc_id")


@query(r"""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), shg AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS sh
                FROM w
            ), s AS (
                SELECT doc_id,
                       list_transform([0, 1, 2, 3],
                           i -> list_min(list_transform(sh,
                               x -> md5(i::VARCHAR || ' ' || x)))) AS sig
                FROM shg
            ), bnd AS (
                SELECT doc_id, r.range AS band,
                       sig[CAST(r.range * 2 + 1 AS INT)] || ',' ||
                       sig[CAST(r.range * 2 + 2 AS INT)] AS bucket
                FROM s, range(2) r
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM bnd a
                JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                           AND a.doc_id < b2.doc_id
            ), v AS (
                SELECT id_a, id_b,
                       CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
                           AS n_common,
                       CAST(LEAST(len(list_distinct(sa.sh)),
                                  len(list_distinct(sb.sh))) AS BIGINT)
                           AS mn
                FROM cand
                JOIN shg sa ON sa.doc_id = cand.id_a
                JOIN shg sb ON sb.doc_id = cand.id_b
            )
            SELECT id_a, id_b, n_common,
                   n_common * 1000000 // mn AS cont_micro
            FROM v
            WHERE n_common * 1000000 // mn >= 500000
            ORDER BY id_a, id_b
        """)
def q_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-verified near-dup pairs over the oracle-able
    MinHash-LSH candidate chain — the dedup axis Jaccard MISSES: when a
    document is embedded inside a larger one (quote farms, boilerplate
    wrappers, concatenated crawls), J = |A∩B|/|A∪B| dilutes toward 0
    while containment C = |A∩B|/min(|A|,|B|) stays ≈1 (Broder's
    resemblance-vs-containment distinction, SEQUENCES 1997; the Lee et
    al. dedup recipe checks both). Same scale shape as dedup_keep_best:
    one shingle table (localCheckpoint — text scanned once), 4 md5
    minhashes → 2 banded buckets → id-only self-join candidates, exact
    containment verify ≥ 0.5 on the distinct-shingle sets re-attached
    AFTER candidate dedup. DuckDB replays the identical md5 signatures,
    banding, and verify. Output: (id_a, id_b, n_common, cont_micro),
    pair-ordered."""
    docs = _t(spark, sf_dir, "documents")
    # same one-split fan as q_dedup_keep_best: shingle+md5 work was
    # single-task on the sub-4MB scan (guide §2.5)
    words = ensure_min_parallelism(
        docs.select("doc_id", split_words("text").alias("__w"))
    )
    sh = words.select(
        "doc_id", textf.shingles_from_words(F.col("__w"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    families = F.sequence(F.lit(0), F.lit(3))
    sig_df = sh.select(
        "doc_id",
        F.transform(
            families,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit(" "), s)),
                )
            ),
        ).alias("sig"),
    )
    cands = dedup.minhash_lsh_candidates(
        docs,
        sig_df=sig_df,
        num_hashes=4,
        bands=2,
        max_bucket_size=None,
        with_est=False,
    )
    ds = sh.select("doc_id", F.array_distinct("sh").alias("dsh"))
    sh_a = ds.select(F.col("doc_id").alias("id_a"), F.col("dsh").alias("sa"))
    sh_b = ds.select(F.col("doc_id").alias("id_b"), F.col("dsh").alias("sb"))
    n_common = F.size(F.array_intersect("sa", "sb"))
    mins = F.least(F.size("sa"), F.size("sb"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_common.cast("long").alias("n_common"),
            mins.cast("long").alias("__min"),
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.expr("n_common * 1000000 div __min").alias("cont_micro"),
        )
        .filter(F.col("cont_micro") >= 500000)
        .orderBy("id_a", "id_b")
    )
