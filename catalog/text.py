"""Text queries: token statistics, quality signals, language id,
PII scrubbing, surprisal and lexical retrieval."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
    STOPWORDS,
    split_words,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    quality,
    relational,
    sampling,
    similarity,
)

from catalog import query
from catalog._common import _q, _sql_q, _t, _WS_TOKENS
from catalog.similarity import _query_vec


@query(f"""
            SELECT doc_id,
                   {_WS_TOKENS} AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
            FROM documents
        """)
def q_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textf.whitespace_token_count("text").alias("n_ws_tokens"),
        textf.regex_token_count("text").alias("n_bpe_tokens"),
    )


@query(f"""
            SELECT lang,
                   FLOOR(AVG({_WS_TOKENS}) * 10000 + 0.5) / 10000.0 AS avg_tokens,
                   FLOOR(AVG(n_chars) * 10000 + 0.5) / 10000.0 AS avg_chars,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY lang
        """)
def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        _q(F.avg(textf.whitespace_token_count("text")), 4).alias("avg_tokens"),
        _q(F.avg("n_chars"), 4).alias("avg_chars"),
        F.count("*").alias("n_docs"),
    )


@query("""
            WITH m AS (
                SELECT doc_id,
                       length(text) AS nc,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS nw,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS npunct,
                       length(regexp_replace(text, '\\s+', '', 'g')) AS nc_nospace
                FROM documents
            ), r AS (
                SELECT doc_id,
                       LEAST(nc / 200.0, 1.0) AS len_score,
                       LEAST((CASE WHEN nc = 0 THEN 0.0
                                   ELSE CAST(npunct AS DOUBLE) / nc END) * 2.0,
                             1.0) AS noise_penalty,
                       CASE WHEN nw = 0 THEN 0.0
                            ELSE CAST(nc_nospace AS DOUBLE) / nw END AS wl
                FROM m
            )
            SELECT doc_id,
                   FLOOR((len_score * 0.5
                         + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                 THEN 1.0 ELSE 0.5 END) * 0.3
                         + (1.0 - noise_penalty) * 0.2) * 1000000 + 0.5)
                       / 1000000.0 AS quality
            FROM r
        """)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textf.quality_score("text").alias("quality"))


def _lang_id_confusion_oracle_sql() -> str:
    """DuckDB twin of q_lang_id_confusion: per-language stopword
    hit counts, one inlined expression per STOPWORDS list."""
    lang_hits = {
        lang: _stopword_hits_sql(words) for lang, words in STOPWORDS.items()
    }
    return f"""
            WITH h AS (
                SELECT lang,
                       {lang_hits['en']} AS h_en,
                       {lang_hits['de']} AS h_de,
                       {lang_hits['fr']} AS h_fr,
                       {lang_hits['es']} AS h_es
                FROM documents
            )
            SELECT lang,
                   CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                        WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                        WHEN h_fr >= h_es THEN 'fr'
                        ELSE 'es' END AS pred_lang,
                   COUNT(*) AS n
            FROM h GROUP BY 1, 2
        """


@query(_lang_id_confusion_oracle_sql)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic vs. labeled lang."""
    docs = _t(spark, sf_dir, "documents")
    hits = {
        lang: textf.stopword_hits("text", words).alias(f"h_{lang}")
        for lang, words in textf.STOPWORDS.items()
    }
    scored = docs.select("doc_id", "lang", *hits.values())
    h = {k: F.col(f"h_{k}") for k in textf.STOPWORDS}
    pred = (
        F.when(
            (h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"]), "en"
        )
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when(h["fr"] >= h["es"], "fr")
        .otherwise("es")
    )
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@query("""
            WITH t AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS tok
                FROM documents
            ),
            b AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(tok), 1, 15))::UBIGINT
                            % 64 AS INT) AS pos,
                       CAST(COUNT(*) AS DOUBLE) AS c
                FROM t WHERE tok <> '' GROUP BY 1, 2
            ),
            n AS (SELECT doc_id, SQRT(SUM(c * c)) AS nrm FROM b GROUP BY 1)
            SELECT b.doc_id, b.pos,
                   FLOOR(b.c / n.nrm * 1000000 + 0.5) / 1000000.0 AS v
            FROM b JOIN n USING (doc_id)
        """)
def q_hashed_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → vector without an external model: feature-hashing doc
    embeddings (similarity.hashed_doc_vectors, md5 hash family so DuckDB
    reproduces every bucket), sparse (doc_id, pos, v) of the non-zero
    L2-normalized components. This is the bridge that makes the
    similarity tier self-contained — hashed vectors feed the same
    cosine / LSH / IVF operators as the pretrained embeddings table."""
    docs = _t(spark, sf_dir, "documents")
    md5h = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t), 1, 15), 16, 10
    ).cast("long")
    sparse = similarity.hashed_doc_vectors(docs, dim=64, hash_expr=md5h)
    return sparse.select("doc_id", "pos", _q(F.col("v"), 6).alias("v"))


@query(f"""
            WITH l AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
            t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM l),
            e AS (SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
                         CAST(n_docs AS DOUBLE) / n_total AS p,
                         SQRT(CAST(n_docs AS DOUBLE) / n_total) AS w_raw
                  FROM l, t),
            z AS (SELECT SUM(w_raw) AS z FROM e)
            SELECT lang, n_docs,
                   {_sql_q("p", 6)} AS p,
                   {_sql_q("w_raw / z", 6)} AS w,
                   {_sql_q("w_raw / z / p", 6)} AS upsample
            FROM e, z
        """)
def q_lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual rebalancing (public recipe from the
    XLM line, Lample & Conneau 2019: alpha=0.5): per-language corpus
    share p_l, sampling weight w_l ∝ p_l^0.5 (flattens the head), and
    the implied upsample factor w_l/p_l. alpha=0.5 deliberately: sqrt is
    correctly rounded under IEEE-754 in BOTH engines, while pow(x, 0.3)
    may differ in the last ulp between Math.pow and libm and flip a
    quantization tick. The per-language aggregate is tiny (lang
    cardinality), so the normalizing sums are a broadcast, not a wide
    shuffle — the doc-count groupBy is the only full-data pass."""
    docs = _t(spark, sf_dir, "documents")
    weights = sampling.temperature_weights(docs, "lang", alpha=0.5)
    return weights.select(
        "lang",
        "n_docs",
        _q(F.col("p"), 6).alias("p"),
        _q(F.col("w"), 6).alias("w"),
        _q(F.col("u"), 6).alias("upsample"),
    )


def _pii_oracle_sql() -> str:
    """DuckDB twin of q_pii_scrub — same append, same patterns, 'g' flag
    to match Spark's replace-all semantics."""
    email, phone = textf.EMAIL_RE, textf.PHONE_RE
    return f"""
        WITH a AS (
            SELECT doc_id,
                   text || ' contact u' || doc_id::VARCHAR
                        || '@example.com or call +1 555 010 '
                        || (1000 + doc_id % 9000)::VARCHAR AS aug
            FROM documents
        ), m AS (
            SELECT doc_id, aug,
                   regexp_replace(
                       regexp_replace(aug, '{email}', '<EMAIL>', 'g'),
                       '{phone}', '<PHONE>', 'g') AS masked
            FROM a
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{email}')) AS INT) AS n_emails,
               md5(masked) AS masked_fp,
               CAST(contains(masked, '@') AS INT) AS residual_at
        FROM m
    """


@query(_pii_oracle_sql)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass (emails + phone-like runs → placeholder tokens)
    verified end-to-end: deterministic synthetic PII is appended to each
    doc, masked with functions.text.mask_pii, and the masked text is
    fingerprinted so the oracle must reproduce the exact output bytes."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1 555 010 "),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    masked = textf.mask_pii(aug)
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(textf.EMAIL_RE)).alias("n_emails"),
        F.md5(masked).alias("masked_fp"),
        masked.contains("@").cast("int").alias("residual_at"),
    )


@query("""
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           regexp_replace(lower(text),
                               'https?://[^\\s]+', ' ', 'g'),
                           '\\s+', ' ', 'g')) AS norm
                FROM documents
            )
            SELECT doc_id, md5(norm) AS norm_fp,
                   CAST(length(norm) AS INT) AS norm_len
            FROM n
        """)
def q_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining text normalization (lowercase, URL strip, whitespace
    collapse) — output fingerprinted for bit-exact oracle comparison."""
    docs = _t(spark, sf_dir, "documents")
    norm = textf.normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.length(norm).alias("norm_len"),
    )


@query("""
            WITH d AS (
                SELECT doc_id, substring(text, 1, 200) AS t FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS INT) AS edit_dist
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        """)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match tier (entity resolution): Levenshtein distance between
    consecutive docs' 200-char prefixes — bounded cost per pair, exact
    dynamic-programming distance, identical semantics in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 200).alias("t")
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b", F.levenshtein("ta", "tb").alias("edit_dist")
    )


@query("""
            SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rn
            FROM (
                SELECT lang, doc_id, n_chars,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY n_chars DESC, doc_id ASC
                       ) AS rn
                FROM documents
            )
            WHERE rn <= 3
        """)
def q_topk_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (the grouped twin of global top-k): 3 longest
    docs per language via one row_number window — single shuffle on the
    group key, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    out = relational.topk_per_group(
        docs,
        ["lang"],
        [F.desc("n_chars"), F.asc("doc_id")],
        k=3,
    )
    return out.select("lang", "doc_id", "n_chars", "rn")


@query("""
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(TRIM(LOWER(text)), '\\s+'))
                           AS term
                FROM documents
            ), v AS (
                SELECT term, COUNT(*) AS tf,
                       COUNT(DISTINCT doc_id) AS df
                FROM tok WHERE term <> '' GROUP BY term
            ), r AS (
                SELECT term, tf, df,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY tf DESC, term ASC
                       ) AS INT) AS rank
                FROM v
            )
            SELECT * FROM r WHERE rank <= 100
        """)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (the tokenizer-training precursor):
    explode the whitespace tokenizer, aggregate term frequency +
    document frequency, keep the top 100 by tf. The global order is a
    TakeOrderedAndProject limit (per-partition heaps, no full sort);
    the rank window then runs over only the 100 survivors — the
    scale-safe way to number a global top-k."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(split_words("text")).alias("term")
    ).filter(F.col("term") != "")
    vocab = tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    top = vocab.orderBy(F.desc("tf"), F.asc("term")).limit(100)
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


@query("""
            WITH ex AS (
                SELECT doc_id, text,
                       unnest(generate_series(
                           0,
                           CAST(ceil(greatest(length(text) - 200, 0) / 150.0)
                                AS BIGINT),
                           1)) AS i
                FROM documents
            )
            SELECT doc_id,
                   i AS chunk_idx,
                   CAST(length(substr(text, CAST(i * 150 + 1 AS BIGINT), 200))
                        AS BIGINT) AS chunk_len,
                   md5(substr(text, CAST(i * 150 + 1 AS BIGINT), 200))
                       AS chunk_hash
            FROM ex
        """)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: every document split into overlapping
    character windows (size 200, stride 150 — 50-char overlap so no
    boundary context is lost), one output row per chunk with its index,
    length, and content hash. Pure expressions — sequence → explode →
    substr — no UDTF, no Python; the chunk count per doc is
    1 + ceil(max(len−size,0)/stride), so output size is predictable
    (~len/stride rows per doc) and the explode is map-side. This is the
    complement of pack_token_budget in the pretraining layout: chunking
    slices long docs into model-window pieces, packing fills windows
    from short ones. DuckDB recomputes every window via
    generate_series + substr."""
    size, stride = 200, 150
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    idx = F.sequence(
        F.lit(0),
        F.ceil(F.greatest(n - size, F.lit(0)) / float(stride)).cast("int"),
    )
    chunk = F.col("text").substr(
        (F.col("chunk_idx") * stride + 1).cast("int"), F.lit(size)
    )
    return (
        docs.select("doc_id", F.explode(idx).alias("chunk_idx"), "text")
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
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
            )
            SELECT doc_id,
                   len(shingles) AS n_shingles,
                   len(list_distinct(shingles)) AS n_distinct,
                   FLOOR((1 - len(list_distinct(shingles))
                              / CAST(len(shingles) AS DOUBLE)) * 1000000
                         + 0.5) / 1000000.0 AS rep_ratio
            FROM sh
        """)
def q_repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: per-doc repeated-trigram
    fraction. Shingles projected once, counts + ratio derived from the
    same array column — single narrow map over the scan."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", textf.shingles("text", 3).alias("sh"))
    return d.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_shingles"),
        F.size(F.array_distinct("sh")).cast("long").alias("n_distinct"),
        _q(
            F.lit(1.0) - F.size(F.array_distinct("sh")) / F.size("sh"), 6
        ).alias("rep_ratio"),
    )


@query(f"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM toks WHERE term <> '' GROUP BY 1, 2),
            dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            s AS (
                SELECT doc_id, term, tf,
                       CAST(tf * (nd + 1) AS DOUBLE) / (df + 1) AS score
                FROM tf JOIN dfq USING (term), n
            )
            SELECT doc_id, term, tf,
                   {_sql_q("score", 6)} AS tfidf
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, term ASC
                  ) AS rk FROM s)
            WHERE rk <= 3
        """)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf-idf keyword extraction: top-3 terms per doc by
    tf · (N+1)/(df+1) — a log-free idf (monotone in the standard
    ln-idf for fixed tf, and the score is a single correctly-rounded
    IEEE division of exact integers, so the ranking is bit-identical in
    any engine; ln would put every rank boundary one libm ulp from
    flipping). Plan (audited: PLANS.md counts 5 exchanges): doc-term
    counts, term doc-freqs, the per-doc top-3 window, and the final
    sort; the N scalar and the term table broadcast."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
        split_words,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(split_words("text"), lambda t: t != "")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = docs.agg(F.count("*").alias("nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                (F.col("tf") * (F.col("nd") + 1)).cast("double")
                / (F.col("df") + 1)
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", _q(F.col("score"), 6).alias("tfidf"))
    )


@query(f"""
            WITH toks AS (
                SELECT doc_id, lang = 'en' AS is_tgt,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS tok
                FROM documents
            ),
            tt AS (
                SELECT doc_id, is_tgt, tok,
                       CAST(('0x' || substring(md5(tok), 1, 15))::UBIGINT
                            % 1024 AS BIGINT) AS bucket
                FROM toks WHERE tok <> ''
            ),
            counts AS (
                SELECT bucket, COUNT(*) AS bg_c,
                       SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_c
                FROM tt GROUP BY 1
            ),
            totals AS (SELECT SUM(bg_c) AS bg_tot, SUM(tgt_c) AS tgt_tot
                       FROM counts),
            model AS (
                SELECT bucket,
                       CAST(FLOOR(ln(
                           (CAST(tgt_c AS DOUBLE) + 1.0)
                           * (CAST(bg_tot AS DOUBLE) + 1024.0)
                           / ((CAST(bg_c AS DOUBLE) + 1.0)
                              * (CAST(tgt_tot AS DOUBLE) + 1024.0))
                       ) * 1e6 + 0.5) AS BIGINT) AS llr_micro
                FROM counts, totals
            )
            SELECT doc_id, COUNT(*) AS n_toks,
                   CAST(SUM(llr_micro) AS BIGINT) AS weight_micro,
                   {_sql_q("SUM(llr_micro) / 1e6", 6)} AS weight
            FROM tt JOIN model USING (bucket)
            GROUP BY 1
        """)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (operators/sampling.py:
    dsir_bucket_llr + dsir_weights): score every document by how
    English-like its hashed-unigram profile is — the log-likelihood
    ratio between a bag-of-words model fit on lang='en' docs and one fit
    on the whole corpus, with 1024 md5 feature buckets. Per-bucket LLRs
    quantize to integer micro-nats; per-doc weights are exact BIGINT
    sums of them, so the corpus-sized aggregation is order-independent
    and the DuckDB oracle matches weight_micro exactly. This is the
    data-selection primitive: resample by weight downstream
    (temperature_resample composes)."""
    docs = _t(spark, sf_dir, "documents")
    model = sampling.dsir_bucket_llr(
        docs, target=F.col("lang") == "en", dim=1024
    )
    return sampling.dsir_weights(docs, model, dim=1024).select(
        "doc_id",
        "n_toks",
        "weight_micro",
        _q(F.col("weight"), 6).alias("weight"),
    )


#: the Okapi BM25 CTE chain (query {hash, join, stream}), shared by the
#: bm25_search oracle and the RRF fusion oracle — one definition so the
#: two can never drift
_BM25_CTES = """toks AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk
                   WHERE term IN ('hash', 'join', 'stream') GROUP BY 1, 2),
            dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
                          (SELECT SUM(dl) FROM dl) AS tot_toks),
            idf AS (
                SELECT term,
                       CAST(FLOOR(ln(
                           CAST(2 * nd - 2 * df + 1 AS DOUBLE)
                           / (2 * df + 1)
                       ) * 1e6 + 0.5) AS BIGINT) AS idf_micro
                FROM dfq, sc
            ),
            parts AS (
                SELECT tf.doc_id,
                       CAST(FLOOR(
                           idf_micro
                           * ((tf * CAST(2.2 AS DOUBLE))
                              / (tf + CAST(1.2 AS DOUBLE)
                                 * (CAST(0.25 AS DOUBLE)
                                    + CAST(0.75 AS DOUBLE)
                                      * (dl / (CAST(tot_toks AS DOUBLE)
                                               / nd)))))
                           + 0.5) AS BIGINT) AS score_micro
                FROM tf
                JOIN dl USING (doc_id)
                JOIN idf USING (term), sc
            )"""


@query(f"""
            WITH {_BM25_CTES}
            SELECT doc_id,
                   COUNT(*) AS n_terms_hit,
                   CAST(SUM(score_micro) AS BIGINT) AS bm25_micro,
                   {_sql_q("SUM(score_micro) / 1e6", 6)} AS bm25
            FROM parts
            GROUP BY 1
            ORDER BY bm25_micro DESC, doc_id ASC
            LIMIT 100
        """)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (Robertson & Zaragoza 2009) for the fixed
    query {hash, join, stream}: top-100 documents by the classic
    k1=1.2, b=0.75 scoring. Determinism engineering: the idf argument
    is the integer rational (2N-2df+1)/(2df+1) — algebraically equal to
    the textbook (N-df+0.5)/(df+0.5) but computed as ONE double
    division of exact integers; ln(·) quantizes to integer micro-nats
    per TERM (3 lns total, not N); each (doc, term) partial score
    floors to micro-units; per-doc totals are then exact BIGINT sums,
    so ranking never depends on float summation order. Plan (audited:
    PLANS.md counts 9 exchanges, 4 broadcasts): the data-bearing
    shuffles are the doc-length and per-term tf aggregations plus the
    per-doc score sum and final top-k; the rest are the tiny term-stat/
    scalar aggregates feeding the 4 broadcasts — every post-tokenize
    exchange carries (doc, term)-level rows or less, never raw text."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
        split_words,
    )

    terms = ["hash", "join", "stream"]
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(split_words("text"), lambda t: t != "")).alias(
            "term"
        ),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scalars = docs.agg(F.count("*").alias("nd")).crossJoin(
        dl.agg(F.sum("dl").alias("tot_toks"))
    )
    idf = (
        dfreq.crossJoin(F.broadcast(scalars))
        .select(
            "term",
            F.floor(
                F.log(
                    (2 * F.col("nd") - 2 * F.col("df") + 1).cast("double")
                    / (2 * F.col("df") + 1)
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    avgdl = F.col("tot_toks").cast("double") / F.col("nd")
    tfw = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl))
    )
    parts = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            F.floor(F.col("idf_micro") * tfw + F.lit(0.5))
            .cast("long")
            .alias("score_micro"),
        )
    )
    return (
        parts.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("score_micro").alias("bm25_micro"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            "bm25_micro",
            _q(F.col("bm25_micro") / 1e6, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(100)
    )


#: -floor(ln(0.4)·1e6 + 0.5): the stupid-backoff penalty as a LITERAL
#: micro-nat constant, so neither engine evaluates ln(0.4) at runtime
_BACKOFF_PENALTY_MICRO = 916291


@query(f"""
            WITH tw AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS w,
                       UNNEST(generate_series(1, len(
                           string_split_regex(lower(trim(text)), '\\s+'))))
                           AS i
                FROM documents
            ),
            tk AS (SELECT doc_id, w, i FROM tw WHERE w <> ''),
            pairs AS (
                SELECT a.doc_id, a.w AS v, b.w AS w
                FROM tk a JOIN tk b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1
            ),
            bg AS (SELECT v, w, COUNT(*) AS cvw FROM pairs
                   WHERE doc_id % 2 = 0 GROUP BY 1, 2),
            ctx AS (SELECT v, COUNT(*) AS cv FROM pairs
                    WHERE doc_id % 2 = 0 GROUP BY 1),
            uni AS (SELECT w, COUNT(*) AS cw FROM tk
                    WHERE doc_id % 2 = 0 GROUP BY 1),
            tt AS (SELECT COUNT(*) AS tt FROM tk WHERE doc_id % 2 = 0),
            dm AS (
                SELECT doc_id, v, w, COUNT(*) AS m FROM pairs GROUP BY 1, 2, 3
            ),
            scored AS (
                SELECT dm.doc_id, dm.m,
                       CASE WHEN bg.cvw IS NOT NULL THEN
                           CAST(FLOOR(ln(ctx.cv) * 1e6 + 0.5) AS BIGINT)
                           - CAST(FLOOR(ln(bg.cvw) * 1e6 + 0.5) AS BIGINT)
                       ELSE
                           (SELECT CAST(FLOOR(ln(tt) * 1e6 + 0.5) AS BIGINT)
                            FROM tt)
                           - CAST(FLOOR(ln(COALESCE(uni.cw, 1)) * 1e6 + 0.5)
                                  AS BIGINT)
                           + {_BACKOFF_PENALTY_MICRO}
                       END AS micro,
                       CASE WHEN bg.cvw IS NULL THEN dm.m ELSE 0 END AS bk
                FROM dm
                LEFT JOIN bg ON dm.v = bg.v AND dm.w = bg.w
                LEFT JOIN ctx ON dm.v = ctx.v
                LEFT JOIN uni ON dm.w = uni.w
            ),
            per_doc AS (
                SELECT doc_id,
                       CAST(SUM(m) AS BIGINT) AS n_scored,
                       CAST(SUM(bk) AS BIGINT) AS n_backoff,
                       CAST(SUM(m * micro) AS BIGINT) AS s_micro
                FROM scored GROUP BY 1
            )
            SELECT doc_id, n_scored, n_backoff,
                   s_micro // n_scored AS surprisal_micro,
                   {_sql_q("(s_micro // n_scored) / 1e6", 6)}
                       AS mean_surprisal
            FROM per_doc
        """)
def q_bigram_surprisal_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM surprisal with stupid backoff (Brants et al.,
    EMNLP 2007 — the web-scale LM scoring recipe; one step up from
    unigram_surprisal toward CCNet's KenLM filter): the LM trains on
    the EVEN-doc_id half of the corpus and scores every document, so
    backoff is live (odd docs contain bigrams the model never saw).
    Per scored token: -ln[c(v,w)/c_ctx(v)] when the bigram is known,
    else -ln[0.4·c(w)/T] (unseen unigrams count as 1). Low mean = the
    doc's word order is predictable from the reference half; high =
    out-of-domain or garbled.

    Determinism: every ln is micro-nat-quantized per DISTINCT COUNT
    (bounded tables), the 0.4 penalty is a literal constant, doc sums
    are exact BIGINT, the mean is integer DIV — hash-matched by the
    DuckDB twin. Plan: token/bigram count aggs over the training half,
    one (v,w)-keyed join of doc bigrams against the model tables, one
    doc-keyed rollup."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
        split_words,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(split_words("text"), lambda t: t != "")
        ).alias("pos", "w"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("v", F.lag("w").over(w_ord))
        .filter(F.col("v").isNotNull())
        .select("doc_id", "v", "w")
    )
    train_toks = toks.filter(F.col("doc_id") % 2 == 0)
    # r6 shuffle diet: the context table rolls up from the BOUNDED
    # bigram table (|bigram vocab| rows) instead of re-aggregating the
    # pair stream, and the corpus total rolls up from the unigram
    # table instead of a fresh tokenize scan — identical integers
    # (Σ of partial counts). The training-half filter still pushes
    # below the (doc, v, w) aggregate (Catalyst, correctly: the modulo
    # filter is cheaper than materializing the unfiltered aggregate),
    # so the even-doc branch keeps its own scan; at cluster scale the
    # (doc, v, w) table would persist once and serve both.
    dvw = pairs.groupBy("doc_id", "v", "w").agg(F.count("*").alias("m"))
    bg = (
        dvw.filter(F.col("doc_id") % 2 == 0)
        .groupBy("v", "w")
        .agg(F.sum("m").alias("cvw"))
    )
    ctx = bg.groupBy("v").agg(F.sum("cvw").alias("cv"))
    uni = train_toks.groupBy("w").agg(F.count("*").alias("cw"))
    tt = uni.agg(F.sum("cw").alias("tt"))

    def lnq(c):
        return F.floor(F.log(c) * 1e6 + F.lit(0.5)).cast("long")

    dm = (
        dvw
        .join(bg, ["v", "w"], "left")
        .join(ctx, "v", "left")
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(tt))
    )
    token_micro = F.when(
        F.col("cvw").isNotNull(), lnq(F.col("cv")) - lnq(F.col("cvw"))
    ).otherwise(
        lnq(F.col("tt"))
        - lnq(F.coalesce(F.col("cw"), F.lit(1)))
        + F.lit(_BACKOFF_PENALTY_MICRO)
    )
    per_doc = dm.groupBy("doc_id").agg(
        F.sum("m").alias("n_scored"),
        F.sum(F.col("m") * token_micro).alias("s_micro"),
        F.sum(F.when(F.col("cvw").isNull(), F.col("m")).otherwise(0))
        .alias("n_backoff"),
    )
    return per_doc.select(
        "doc_id",
        "n_scored",
        "n_backoff",
        F.expr("s_micro DIV n_scored").alias("surprisal_micro"),
        _q(F.expr("s_micro DIV n_scored") / 1e6, 6).alias("mean_surprisal"),
    )


@query("""
            WITH aug AS (
                SELECT doc_id,
                       text || ' see https://w' || CAST(doc_id % 3 AS VARCHAR)
                            || '.example' || CAST(doc_id % 7 AS VARCHAR)
                            || '.com/p/' || CAST(doc_id AS VARCHAR)
                            || ' and http://mirror.example'
                            || CAST((doc_id + 3) % 7 AS VARCHAR)
                            || '.org/x?q=1' AS t
                FROM documents
            ), dom AS (
                SELECT doc_id,
                       lower(UNNEST(regexp_extract_all(
                           t, 'https?://([^/:?#\\s]+)', 1))) AS domain
                FROM aug
            ), agg AS (
                SELECT domain,
                       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                       CAST(COUNT(*) AS BIGINT) AS n_urls
                FROM dom GROUP BY 1
            )
            SELECT domain,
                   regexp_extract(domain, '([^.]+\\.[^.]+)$', 1)
                       AS base_domain,
                   n_docs,
                   n_urls,
                   regexp_extract(domain, '([^.]+\\.[^.]+)$', 1)
                       IN ('example2.com', 'example5.org') AS blocked
            FROM agg ORDER BY domain
        """)
def q_domain_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style URL filtering over the corpus: extract
    every URL host (functions/text.extract_domains), roll up per-domain
    document and URL counts, reduce each host to its registered domain
    (last-two-labels baseline), and mark blocklisted domains — the
    per-domain statistics a crawl-curation pipeline gates on before
    text ever reaches quality scoring. The corpus has no URLs, so
    deterministic synthetic ones are appended per doc (the pii_scrub
    fixture pattern): two hosts derived from doc_id, giving a
    ~21-domain rollup whose counts DuckDB recomputes exactly. The
    blocklist membership compiles to a literal IN predicate — no join,
    no shuffle beyond the one domain rollup."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://w"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" and http://mirror.example"),
        ((F.col("doc_id") + 3) % 7).cast("string"),
        F.lit(".org/x?q=1"),
    )
    blocked = ["example2.com", "example5.org"]
    dom = docs.select(
        "doc_id", F.explode(textf.extract_domains(aug)).alias("domain")
    )
    return (
        dom.groupBy("domain")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_urls"),
        )
        .select(
            "domain",
            textf.registered_domain(F.col("domain")).alias("base_domain"),
            "n_docs",
            "n_urls",
        )
        .withColumn("blocked", F.col("base_domain").isin(blocked))
        .orderBy("domain")
    )


@query("""
            WITH g0 AS (
                SELECT doc_id, lang,
                       UNNEST(list_transform(
                           generate_series(1,
                               length(lower(trim(text))) - 2),
                           i -> substring(lower(trim(text)), i, 3))) AS g
                FROM documents
                WHERE length(lower(trim(text))) >= 3
            ),
            prof AS (
                SELECT lang AS cand, g, CAST(COUNT(*) AS BIGINT) AS c
                FROM g0 WHERE doc_id % 2 = 0 GROUP BY 1, 2
            ),
            tl AS (
                SELECT cand, CAST(SUM(c) AS BIGINT) AS tl
                FROM prof GROUP BY 1
            ),
            vv AS (SELECT COUNT(DISTINCT g) AS v FROM prof),
            langs AS (SELECT DISTINCT cand FROM prof),
            dg AS (
                SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS m
                FROM g0 GROUP BY 1, 2, 3
            ),
            per AS (
                SELECT d.doc_id, d.lang, l.cand,
                       CAST(SUM(m * CAST(FLOOR(
                           ln(COALESCE(p.c, 0) + 1) * 1e6 + 0.5)
                           AS BIGINT)) AS BIGINT) AS s_micro,
                       CAST(SUM(m) AS BIGINT) AS mm
                FROM dg d
                CROSS JOIN langs l
                LEFT JOIN prof p ON p.cand = l.cand AND p.g = d.g
                GROUP BY 1, 2, 3
            ),
            sc AS (
                SELECT per.doc_id, per.lang, per.cand,
                       s_micro - mm * CAST(FLOOR(
                           ln(tl + v) * 1e6 + 0.5) AS BIGINT) AS score
                FROM per JOIN tl USING (cand), vv
            ),
            pick AS (
                SELECT doc_id, lang, cand,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY score DESC, cand ASC
                       ) AS rk
                FROM sc
            )
            SELECT lang, cand AS pred_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM pick WHERE rk = 1
            GROUP BY 1, 2 ORDER BY 1, 2
        """)
def q_langid_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (the fastText-recipe feature class,
    Joulin et al. 2017; char n-grams beat word lists on short/noisy
    text): an add-one multinomial model per language TRAINS on the
    even-doc half of the labeled corpus and classifies every document
    by log-likelihood — score(d, l) = Σ_g m_g·ln(c_{l,g}+1) −
    M_d·ln(T_l + V) — so held-out docs exercise the smoothing path.
    Output is the label-vs-prediction confusion matrix, the quality
    gate for routing by detected language. Determinism: the tfidf/
    surprisal discipline — ln micro-quantized per DISTINCT count
    (bounded (lang, gram) table), doc sums exact BIGINT, argmax
    tie-break by language asc; DuckDB replays the identical model.
    Shape (r9): two map passes over the text (model build, scoring) —
    tokenization is cheaper than materializing any (doc, gram) table —
    with every exchange bounded: the profile map-side-combines into
    |langs|×|alphabet³| rows, scoring into one row per document, and
    the per-gram score vectors broadcast. Nothing corpus-sized is
    shuffled or persisted — embarrassingly parallel at corpus scale."""
    docs = _t(spark, sf_dir, "documents")
    # normalize ONCE in a projection: captured lambda expressions
    # re-evaluate per element, so lower(trim(text)) inside the gram
    # walk is O(n²) per doc (7.2s → 4.7s at sf0.1 hoisted; the
    # remainder is the linear explode+shuffle, which is the honest cost)
    norm = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.lower(F.trim("text")).alias("__t"),
    )
    # r9: the gram walk was QUADRATIC per document — string substring
    # by CHAR offset scans from byte 0 to find the boundary (UTF-8 has
    # no O(1) char index), so doc position i costs O(i) and a doc of n
    # chars costs O(n²). Byte-indexed substring on BINARY is O(1): for
    # ASCII docs (char length == octet length, checked per row) the
    # grams slice the encoded bytes; non-ASCII docs keep the exact char
    # path. Measured 1.71s → 0.34s for the identical 1.5M-gram census
    # at sf0.1 — and the fix is asymptotic, a 30k-char doc drops from
    # ~4.5·10⁸ byte scans to 9·10⁴. The WHEN guard keeps sub-3-char
    # docs gram-free (sequence(1, 0) would otherwise count DOWN). The
    # DuckDB twin (generate_series + substring) is untouched: same
    # grams, different indexing machinery.
    grams = norm.withColumn("__b", F.encode("__t", "UTF-8")).select(
        "doc_id",
        "true_lang",
        "__t",
        "__b",
        (F.length("__t") == F.octet_length("__t")).alias("__ascii"),
        F.explode(
            F.when(
                F.length("__t") >= 3,
                F.sequence(F.lit(1), F.length("__t") - 2),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        "doc_id",
        "true_lang",
        F.when(
            F.col("__ascii"),
            F.col("__b").substr(F.col("i"), F.lit(3)).cast("string"),
        )
        .otherwise(F.col("__t").substr(F.col("i"), F.lit(3)))
        .alias("g"),
    )
    # r9 shape rework: the old plan aggregated a (doc, gram, m) table,
    # EAGER-materialized it (713k rows at sf0.1 — 143× the doc count
    # written AND read back), and fed model + scoring from it; that
    # materialization was the bench floor (3.6s of the 4.0s) and its
    # hash table the superlinear term (1.13× at 16×). But the score is
    # a sum over gram INSTANCES — Σ_g m_g·lq(g) ≡ Σ_instances lq(g) —
    # so per-gram counts are never needed: tokenize the corpus TWICE
    # (the explode pass is 0.15s / corpus at sf0.1 — cheaper than one
    # materialization) and keep every shuffle bounded: the model build
    # map-side-combines into |langs|×|alphabet³| rows, the scoring
    # pass map-side-combines into ONE row per document. At 100 TB: two
    # map passes over the text, shuffles of |docs| + |model| rows,
    # nothing corpus-sized ever exchanged or persisted.
    # The profile is BOUNDED but serves three separate ACTIONS (the
    # n_vocab scalar, the per-lang totals fetch, the gp build) —
    # checkpoint the tiny rollup once so none of them re-tokenizes.
    prof = (
        grams.filter(F.col("doc_id") % 2 == 0)
        .groupBy(F.col("true_lang").alias("cand"), "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    # ONE-PASS scoring (r7): the per-language profile pivots into a
    # per-gram score VECTOR (langs ascending), broadcast once, and every
    # language is scored with |langs| aggregate expressions in a single
    # (doc, gram) pass — no crossJoin row multiplication (previously the
    # (doc, gram) table grew ×|langs| before aggregating) and no per-doc
    # window (argmax = array_position of the max over the ascending-lang
    # vector, so first-max == tie-break by language asc, identical to
    # the old row_number ordering).  The model fetches (lang list,
    # per-lang ln(T_l+V) constants) are bounded driver pulls of
    # |langs|+1 rows — the model is broadcast-sized by construction.
    lnq_c1 = F.floor(
        F.log(F.col("c") + 1) * 1e6 + F.lit(0.5)
    ).cast("long")
    tl = prof.groupBy("cand").agg(F.sum("c").alias("tl"))
    n_vocab = prof.agg(F.countDistinct("g").alias("v")).collect()[0]["v"]
    tv_rows = tl.collect()
    langs = sorted(r["cand"] for r in tv_rows)
    lnq_tv = {
        r["cand"]: int(math.floor(math.log(r["tl"] + n_vocab) * 1e6 + 0.5))
        for r in tv_rows
    }
    gp = (
        prof.select("g", "cand", lnq_c1.alias("lq"))
        .groupBy("g")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cand", "lq"))
            ).alias("mp")
        )
        .select(
            "g",
            F.array(
                *[F.coalesce(F.col("mp")[lang], F.lit(0)) for lang in langs]
            ).alias("vec"),
        )
    )
    # unseen grams (held-out docs) left-join to null → each element
    # coalesces to ln(0+1)=0 micro-quantized — identical smoothing to
    # the old per-(cand,g) left join; summing lq per INSTANCE equals
    # the old m·lq per distinct gram (exact BIGINT either way)
    per = (
        grams.join(F.broadcast(gp), "g", "left")
        .groupBy("doc_id", "true_lang")
        .agg(
            *[
                F.sum(F.coalesce(F.col("vec")[i], F.lit(0))).alias(
                    f"__s{i}"
                )
                for i in range(len(langs))
            ],
            F.count(F.lit(1)).alias("mm"),
        )
    )
    scores = F.array(
        *[
            F.col(f"__s{i}") - F.col("mm") * F.lit(lnq_tv[lang])
            for i, lang in enumerate(langs)
        ]
    )
    pred = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        F.array_position(scores, F.array_max(scores)).cast("int"),
    )
    return (
        per.select("doc_id", "true_lang", pred.alias("pred"))
        .groupBy(
            F.col("true_lang").alias("lang"),
            F.col("pred").alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _stopword_hits_sql(words: list[str]) -> str:
    padded = "(' ' || lower(text) || ' ')"
    terms = []
    for w in words:
        needle = f" {w} "
        terms.append(
            f"(length({padded}) - length(replace({padded}, '{needle}', ' ')))"
            f" / {len(w) + 1}"
        )
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


@query(f"""
            WITH base AS (
                SELECT doc_id,
                       {_WS_TOKENS} AS n_words,
                       CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                            AS BIGINT) AS n_chars_nospace,
                       CAST(len(regexp_extract_all(text, '#'))
                            + len(regexp_extract_all(text, '\\.\\.\\.'))
                            AS BIGINT) AS n_symbols,
                       CAST(len(list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           w -> regexp_matches(w, '[a-z]')
                       )) AS BIGINT) AS n_alpha_words,
                       {_stopword_hits_sql(textf.STOPWORDS["en"])}
                           AS n_stopword_hits
                FROM documents
            ), lines AS (
                SELECT doc_id, line FROM (
                    SELECT doc_id,
                           UNNEST(string_split(text, chr(10))) AS line
                    FROM documents
                ) WHERE trim(line) <> ''
            ), lagg AS (
                SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_lines,
                       CAST(SUM(CASE WHEN regexp_matches(
                                ltrim(line), '^[-*•]') THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_bullet_lines,
                       CAST(SUM(CASE WHEN regexp_matches(
                                rtrim(line), '\\.\\.\\.$') THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_ellipsis_lines
                FROM lines GROUP BY 1
            ), j AS (
                SELECT b.*,
                       COALESCE(n_lines, 0) AS n_lines,
                       COALESCE(n_bullet_lines, 0) AS n_bullet_lines,
                       COALESCE(n_ellipsis_lines, 0) AS n_ellipsis_lines
                FROM base b LEFT JOIN lagg USING (doc_id)
            )
            SELECT *,
                   n_words BETWEEN 50 AND 100000 AS ok_word_count,
                   n_chars_nospace >= 3 * n_words
                       AND n_chars_nospace <= 10 * n_words
                       AS ok_mean_word_len,
                   n_symbols * 10 <= n_words AS ok_symbol_ratio,
                   n_bullet_lines * 10 <= 9 * n_lines AS ok_bullet_lines,
                   n_ellipsis_lines * 10 <= 3 * n_lines
                       AS ok_ellipsis_lines,
                   n_alpha_words * 5 >= 4 * n_words AS ok_alpha_words,
                   n_stopword_hits >= 2 AS ok_stopwords,
                   (n_words BETWEEN 50 AND 100000)
                       AND n_chars_nospace >= 3 * n_words
                       AND n_chars_nospace <= 10 * n_words
                       AND n_symbols * 10 <= n_words
                       AND n_bullet_lines * 10 <= 9 * n_lines
                       AND n_ellipsis_lines * 10 <= 3 * n_lines
                       AND n_alpha_words * 5 >= 4 * n_words
                       AND n_stopword_hits >= 2
                       AS passes_gopher
            FROM j ORDER BY doc_id
        """)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher rule set (operators/quality.gopher_rules):
    seven published document-quality filters — word-count band,
    mean-word-length band, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, minimum stopwords — evaluated
    in one scan with every verdict an INTEGER comparison on exact
    counts (symbols·10 ≤ words, not a float ratio), so the seven
    booleans and the final gate hash-match any engine bit-for-bit.
    Completes the quality tier beside quality_score (composite
    heuristic) and doc_repetition_signals (the repetition rules from
    the same paper)."""
    docs = _t(spark, sf_dir, "documents")
    return quality.gopher_rules(docs).orderBy("doc_id")


@query(f"""
            WITH lines AS (
                SELECT doc_id, line FROM (
                    SELECT doc_id,
                           UNNEST(string_split(text, chr(10))) AS line
                    FROM documents
                ) WHERE trim(line) <> ''
            ),
            lc AS (
                SELECT doc_id, line, COUNT(*) AS c, length(line) AS ln
                FROM lines GROUP BY 1, 2
            ),
            ld AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_lines,
                       CAST(SUM(c - 1) AS BIGINT) AS dup_lines,
                       CAST(SUM((c - 1) * ln) AS BIGINT) AS dup_chars,
                       CAST(SUM(c * ln) AS BIGINT) AS tot_line_chars
                FROM lc GROUP BY 1
            ),
            tw AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS w,
                       UNNEST(generate_series(1, len(
                           string_split_regex(lower(trim(text)), '\\s+'))))
                           AS i
                FROM documents
            ),
            tk AS (SELECT doc_id, w, i FROM tw WHERE w <> ''),
            wc AS (
                SELECT doc_id, CAST(SUM(length(w)) AS BIGINT) AS word_chars
                FROM tk GROUP BY 1
            ),
            bg AS (
                SELECT a.doc_id, a.w AS w1, b.w AS w2, COUNT(*) AS n
                FROM tk a JOIN tk b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1
                GROUP BY 1, 2, 3
            ),
            top AS (
                SELECT doc_id, w1, w2, n FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY doc_id
                        ORDER BY n DESC, w1 ASC, w2 ASC
                    ) AS rk FROM bg
                ) WHERE rk = 1
            )
            SELECT d.doc_id,
                   COALESCE(n_lines, 0) AS n_lines,
                   {_sql_q("CAST(dup_lines AS DOUBLE) / n_lines", 6)}
                       AS dup_line_frac,
                   {_sql_q("CAST(dup_chars AS DOUBLE) / tot_line_chars", 6)}
                       AS dup_line_char_frac,
                   t.w1 || ' ' || t.w2 AS top_bigram,
                   t.n AS top_bigram_n,
                   {_sql_q(
                       "CAST(t.n * (length(t.w1) + length(t.w2)) AS DOUBLE)"
                       " / word_chars", 6
                   )} AS top_bigram_char_frac
            FROM documents d
            LEFT JOIN ld USING (doc_id)
            LEFT JOIN wc USING (doc_id)
            LEFT JOIN top t USING (doc_id)
        """)
def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters (quality.repetition_
    signals): duplicate-line fraction, duplicate-line CHARACTER
    fraction, and top-bigram character coverage per document — the
    boilerplate/keyword-stuffing signals that complement quality_scores'
    length/stopword ratios. Exact-integer numerators, one IEEE division
    per fraction, total-order tie-break on the top bigram — fully
    hash-gated against the DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    sig = quality.repetition_signals(docs)
    return sig.select(
        "doc_id",
        "n_lines",
        _q(F.col("dup_line_frac"), 6).alias("dup_line_frac"),
        _q(F.col("dup_line_char_frac"), 6).alias("dup_line_char_frac"),
        "top_bigram",
        "top_bigram_n",
        _q(F.col("top_bigram_char_frac"), 6).alias("top_bigram_char_frac"),
    )


@query(f"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
            ct AS (SELECT term, COUNT(*) AS ct FROM tk GROUP BY 1),
            tt AS (SELECT COUNT(*) AS tt FROM tk),
            dt AS (SELECT doc_id, term, COUNT(*) AS c FROM tk GROUP BY 1, 2),
            per_doc AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS dl,
                       CAST(SUM(c * CAST(FLOOR(ln(ct) * 1e6 + 0.5)
                                         AS BIGINT)) AS BIGINT) AS s_micro
                FROM dt JOIN ct USING (term) GROUP BY 1
            )
            SELECT doc_id, dl,
                   CAST(FLOOR(ln(tt) * 1e6 + 0.5) AS BIGINT)
                       - s_micro // dl AS surprisal_micro,
                   {_sql_q(
                       "(CAST(FLOOR(ln(tt) * 1e6 + 0.5) AS BIGINT)"
                       " - s_micro // dl) / 1e6", 6
                   )} AS mean_surprisal
            FROM per_doc, tt
        """)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al., LREC
    2020 filter corpora by LM perplexity; the unigram LM is its
    distribution-only core): per-document mean surprisal under the
    CORPUS unigram model, -(1/dl)·Σ ln p(t) = ln(T) − (1/dl)·Σ c_dt·
    ln(c_t). Template/boilerplate docs score low (their tokens are
    corpus-frequent), lexically unusual docs high — the standard keep-
    the-middle-band pretraining filter signal.

    Determinism engineering (the tfidf/entropy/BM25 discipline): ln
    quantizes to integer micro-nats per DISTINCT CORPUS TERM (bounded
    vocabulary, not per token), per-doc sums are exact BIGINT, the mean
    is integer DIV — corpus-scale aggregation order cannot flip a
    value, so DuckDB matches surprisal_micro exactly. Plan: term-count
    agg + doc-term agg + per-doc sum (three narrow shuffles past
    tokenize); the corpus-total scalar broadcasts, and the
    vocabulary-count join is AQE-sized (auto-broadcast while small,
    term-keyed shuffle at unbounded vocab — the r7 size guard)."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
        split_words,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(split_words("text"), lambda t: t != "")).alias(
            "term"
        ),
    )
    # ONE tokenize pass (r6): the (doc, term) aggregation is the only
    # consumer of the full-text explode; the vocab table and the corpus
    # total both derive from ITS bounded output (Σ over doc-term rows /
    # Σ over vocab rows — identical integers), and Spark's
    # ReuseExchange collapses the shared (doc_id, term) aggregate so
    # `documents` is scanned once. At 100 TB the text explode dominates
    # everything downstream; this was 3 scans in r5.
    dt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    ct = dt.groupBy("term").agg(F.sum("c").alias("ct"))
    total = ct.agg(F.sum("ct").alias("tt"))
    lnq_ct = F.floor(F.log("ct") * 1e6 + F.lit(0.5)).cast("long")
    # no hard broadcast hint (r7): AQE broadcasts the vocab table while
    # it fits and shuffle-joins on term beyond that — ct is
    # vocabulary-sized, which grows with the corpus
    per_doc = (
        dt.join(ct, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("dl"),
            F.sum(F.col("c") * lnq_ct).alias("s_micro"),
        )
    )
    lnq_tt = F.floor(F.log("tt") * 1e6 + F.lit(0.5)).cast("long")
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "dl",
            (lnq_tt - F.expr("s_micro DIV dl")).alias("surprisal_micro"),
        )
        .withColumn(
            "mean_surprisal",
            _q(F.col("surprisal_micro") / 1e6, 6),
        )
    )


@query(f"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS c FROM toks
                   WHERE term <> '' GROUP BY 1, 2),
            per_doc AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS dl,
                       COUNT(*) AS n_unique,
                       CAST(SUM(c * CAST(FLOOR(ln(c) * 1e6 + 0.5)
                                         AS BIGINT)) AS BIGINT) AS s_micro
                FROM tf GROUP BY 1
            )
            SELECT doc_id, dl, n_unique,
                   CAST(FLOOR(ln(dl) * 1e6 + 0.5) AS BIGINT)
                       - s_micro // dl AS entropy_micro,
                   {_sql_q(
                       "(CAST(FLOOR(ln(dl) * 1e6 + 0.5) AS BIGINT)"
                       " - s_micro // dl) / 1e6", 6
                   )} AS entropy
            FROM per_doc
        """)
def q_token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution entropy per document — the repetition /
    diversity quality signal (low entropy = template or spam): H =
    ln(dl) - (1/dl)·Σ c·ln(c) over term counts c. Integerized like the
    DSIR weights: ln values quantize to micro-nats, the Σ c·lnq(c)
    accumulates as an exact BIGINT, and the final division is integer
    DIV — so the corpus-sized aggregation is order-independent and
    DuckDB matches entropy_micro exactly."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
        split_words,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(split_words("text"), lambda t: t != "")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    lnq_c = F.floor(F.log("c") * 1e6 + F.lit(0.5)).cast("long")
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("dl"),
        F.count("*").alias("n_unique"),
        F.sum(F.col("c") * lnq_c).alias("s_micro"),
    )
    lnq_dl = F.floor(F.log("dl") * 1e6 + F.lit(0.5)).cast("long")
    return per_doc.select(
        "doc_id",
        "dl",
        "n_unique",
        (lnq_dl - F.expr("s_micro DIV dl")).alias("entropy_micro"),
    ).select(
        "doc_id",
        "dl",
        "n_unique",
        "entropy_micro",
        _q(F.col("entropy_micro") / 1e6, 6).alias("entropy"),
    )


@query(r"""
            WITH toks AS (
                SELECT doc_id, term, pos - 1 AS pos
                FROM (
                    SELECT doc_id,
                           UNNEST(string_split_regex(lower(trim(text)),
                                                     '\s+')) AS term,
                           UNNEST(generate_series(1,
                               len(string_split_regex(lower(trim(text)),
                                                      '\s+')))) AS pos
                    FROM documents
                )
                WHERE term IN ('data', 'stream')
            ),
            hits AS (
                SELECT a.doc_id, a.pos AS pa
                FROM toks a JOIN toks b
                  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                WHERE a.term = 'data' AND b.term = 'stream'
            )
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS phrase_tf,
                   CAST(MIN(pa) AS INT) AS first_pos
            FROM hits GROUP BY doc_id
            ORDER BY phrase_tf DESC, doc_id ASC
            LIMIT 50
        """)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for the fixed bigram phrase
    "data stream" — the retrieval tier BM25's bag-of-words cannot
    express (a phrase is an ADJACENCY constraint, the classic
    positional-inverted-index workload; Manning et al., IIR §2.4).
    Construction: one posexplode builds the positional posting list
    (doc, term, pos) for JUST the phrase's terms (the term filter
    prunes before the shuffle — at 100 TB the posting list for two
    terms is a sliver of the corpus); the phrase match is the
    (doc, pos+1) equi-join of the two term lists — adjacency as a
    join key, no UDFs, no regex over raw text for the MATCHING step
    (a regexp count would miss overlapping/tokenization subtleties
    the index must own). phrase_tf = exact match count per doc;
    output is scored by (phrase_tf DESC, doc_id ASC), top-50, with
    first_pos as the snippet anchor. DuckDB replays the identical
    posting-list join. Tokenization = the engine-wide split_words
    (lower + whitespace), so the differential gate also pins the
    tokenizer's position semantics."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(split_words("text"), lambda t: t != "")
        ).alias("pos", "term"),
    ).filter(F.col("term").isin("data", "stream"))
    a = toks.filter(F.col("term") == "data").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = toks.filter(F.col("term") == "stream").select(
        "doc_id", F.col("pos").alias("pb")
    )
    hits = a.join(
        b,
        (a["doc_id"] == b["doc_id"]) & (F.col("pb") == F.col("pa") + 1),
    ).select(a["doc_id"].alias("doc_id"), "pa")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("phrase_tf"),
            F.min("pa").alias("first_pos"),
        )
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(50)
    )


@query(r"""
            WITH toks AS (
                SELECT doc_id, term, pos - 1 AS pos
                FROM (
                    SELECT doc_id,
                           UNNEST(string_split_regex(lower(trim(text)),
                                                     '\s+')) AS term,
                           UNNEST(generate_series(1,
                               len(string_split_regex(lower(trim(text)),
                                                      '\s+')))) AS pos
                    FROM documents
                )
                WHERE term IN ('hash', 'join')
            ),
            pairs AS (
                SELECT a.doc_id, ABS(a.pos - b.pos) AS d
                FROM toks a JOIN toks b
                  ON b.doc_id = a.doc_id
                 AND ABS(a.pos - b.pos) <= 5
                WHERE a.term = 'hash' AND b.term = 'join'
            )
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(MIN(d) AS INT) AS min_dist
            FROM pairs GROUP BY doc_id
            ORDER BY n_pairs DESC, min_dist ASC, doc_id ASC
            LIMIT 50
        """)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity (NEAR/k) search — "hash" within 5 tokens of "join",
    either order: the query operator between bag-of-words BM25 and
    exact phrase adjacency (Manning et al., IIR §2.4.2's positional
    postings algorithm), what legal/code search calls NEAR and what
    reranking features call minimum token distance. Same scale shape
    as phrase_search: the positional posting list is built for JUST
    the two terms (filter before the shuffle), pairs come from a
    doc-keyed equi-join with the |Δpos| ≤ 5 band predicate (per-doc
    term frequencies are bounded, so the join is posting-list-sized,
    never corpus²), and per doc the report carries the pair count and
    the MINIMUM absolute distance (the rerank feature). Output:
    top-50 by (n_pairs DESC, min_dist ASC, doc_id ASC)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(split_words("text"), lambda t: t != "")
        ).alias("pos", "term"),
    ).filter(F.col("term").isin("hash", "join"))
    a = toks.filter(F.col("term") == "hash").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = toks.filter(F.col("term") == "join").select(
        "doc_id", F.col("pos").alias("pb")
    )
    pairs = a.join(
        b,
        (a["doc_id"] == b["doc_id"])
        & (F.abs(F.col("pa") - F.col("pb")) <= 5),
    ).select(
        a["doc_id"].alias("doc_id"),
        F.abs(F.col("pa") - F.col("pb")).alias("d"),
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("d").alias("min_dist"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("min_dist"), F.asc("doc_id"))
        .limit(50)
    )


@query(f"""
            WITH {_BM25_CTES},
            bm AS (
                SELECT doc_id, CAST(SUM(score_micro) AS BIGINT)
                           AS bm25_micro
                FROM parts GROUP BY 1
                ORDER BY bm25_micro DESC, doc_id ASC LIMIT 100
            ),
            bmr AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY bm25_micro DESC,
                                          doc_id ASC) AS r_text
                FROM bm
            ),
            q AS (SELECT embedding::DOUBLE[] AS qe
                  FROM embeddings WHERE vec_id = 0),
            cs AS (
                SELECT e.vec_id AS doc_id,
                       FLOOR(list_cosine_similarity(
                           e.embedding::DOUBLE[], q.qe) * 1000000 + 0.5)
                           / 1000000.0 AS cos_sim
                FROM embeddings e, q
            ),
            cos100 AS (
                SELECT doc_id, cos_sim FROM cs
                WHERE cos_sim IS NOT NULL
                ORDER BY cos_sim DESC, doc_id ASC LIMIT 100
            ),
            cosr AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY cos_sim DESC,
                                          doc_id ASC) AS r_vec
                FROM cos100
            ),
            fused AS (
                SELECT COALESCE(bmr.doc_id, cosr.doc_id) AS doc_id,
                       COALESCE(r_text, 0) AS r_text,
                       COALESCE(r_vec, 0) AS r_vec,
                       COALESCE(1000000 // (60 + r_text), 0)
                       + COALESCE(1000000 // (60 + r_vec), 0)
                           AS rrf_micro
                FROM bmr FULL OUTER JOIN cosr ON bmr.doc_id = cosr.doc_id
            )
            SELECT doc_id, r_text, r_vec,
                   CAST(rrf_micro AS BIGINT) AS rrf_micro
            FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT 25
        """)
def q_rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of the engine's two retrieval modalities — BM25 text search (query
    {hash, join, stream}) and embedding cosine ANN (query vector 0) —
    the standard hybrid-search combiner every RAG/serving stack runs:
    score(d) = Σ_lists 1/(60 + rank_d). Integer-exact: contributions
    are 10⁶ DIV (60 + rank) per list (missing from a list → 0), so the
    fused ordering never touches a float; ranks come from row_number
    over the two TOP-100 SHORTLISTS (bounded 100-row tables — the
    single-partition window is on a limit-100 result, never the
    corpus; the expensive parts are the bm25/cosine pipelines, both
    already scale-shaped). doc_id ≡ vec_id in the corpus contract
    (documents and embeddings are row-aligned). Output: top-25 fused
    (doc_id, r_text, r_vec, rrf_micro), absent-list ranks emitted as
    0 so the schema stays BIGINT end-to-end."""
    bm = q_bm25_search(spark, sf_dir).select("doc_id", "bm25_micro")
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    cos = similarity.brute_force_topk(emb, qvec, k=100).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    bmr = bm.withColumn(
        "r_text",
        F.row_number().over(
            Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        ),
    )
    cosr = cos.withColumn(
        "r_vec",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        ),
    )
    fused = bmr.join(cosr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("r_text", F.lit(0)).cast("long").alias("r_text"),
        F.coalesce("r_vec", F.lit(0)).cast("long").alias("r_vec"),
        (
            F.coalesce(
                F.expr("1000000 div (60 + r_text)"), F.lit(0)
            )
            + F.coalesce(F.expr("1000000 div (60 + r_vec)"), F.lit(0))
        ).cast("long").alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(25)
