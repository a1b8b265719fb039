"""Corpus-QA queries: end-to-end curation pipelines, pretraining shard
plans, mixture schedules and corpus profiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    dedup,
    quality,
    sampling,
    tokenizer,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans.shape import (
    ensure_min_parallelism,
)

import catalog.tokenizer as catalog_tokenizer
from catalog import query
from catalog._common import _NORM_TEXT, _q, _sql_q, _t, _WS_TOKENS
from catalog.dedup import _DEDUP_KEEP_BEST_SQL, q_dedup_keep_best
from catalog.tokenizer import _bpe_train_ctes, _bpe_trained


#: stratified split rates used by q_stratified_split / its oracle twin
_SPLIT_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "tr": 0.25}


def _split_oracle_sql() -> str:
    """DuckDB twin of sampling.hash_split with _SPLIT_RATES: identical
    md5-prefix bucket, identical per-language hex thresholds."""
    arms = "\n".join(
        f"WHEN lang = '{lang}' AND substring(md5('split:' || doc_id::VARCHAR),"
        f" 1, 8) < '{sampling.rate_threshold(r)}' THEN 'train'"
        for lang, r in sorted(_SPLIT_RATES.items())
    )
    return f"""
        SELECT doc_id, lang,
               CASE {arms} ELSE 'holdout' END AS split
        FROM documents
    """


@query(_split_oracle_sql)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/holdout split: md5-keyed bucket per
    doc, per-language keep rate. Reproducible across runs/engines/cluster
    layouts — what rand()-based splits can't give a 100 TB pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_split(
        docs, "doc_id", _SPLIT_RATES, stratum_col="lang"
    ).select("doc_id", "lang", "split")


@query(lambda: f"""
            WITH corpus AS (
                SELECT * FROM documents WHERE doc_id % 50 != 0
            ), scr_w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+')
                           AS words
                FROM corpus WHERE regexp_replace(text, '\\s+', '', 'g') <> ''
            ), scr_chpos AS (
                SELECT doc_id, words,
                       UNNEST(generate_series(
                           0,
                           CAST(greatest(ceil(len(words) / 5.0), 1)
                                AS BIGINT) - 1)) AS pos
                FROM scr_w
            ), scr_ch AS (
                SELECT doc_id, pos,
                       array_to_string(
                           list_slice(words,
                                      CAST(pos * 5 + 1 AS BIGINT),
                                      CAST(pos * 5 + 5 AS BIGINT)),
                           ' ') AS span
                FROM scr_chpos
            ), scr_fp AS (
                SELECT doc_id, pos, span, md5(span) AS f FROM scr_ch
            ), scr_dfr AS (
                SELECT f, COUNT(DISTINCT doc_id) AS df
                FROM scr_fp GROUP BY f
            ), scrubbed AS (
                SELECT s.doc_id,
                       c.lang,
                       COALESCE(
                           string_agg(
                               CASE WHEN d.df < 2 THEN s.span END,
                               ' ' ORDER BY s.pos),
                           '') AS text
                FROM scr_fp s
                JOIN scr_dfr d USING (f)
                JOIN corpus c ON c.doc_id = s.doc_id
                GROUP BY s.doc_id, c.lang
            ), m AS (
                SELECT doc_id, lang, text,
                       {_WS_TOKENS} AS n_tokens,
                       length(text) AS nc,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                           AS npunct,
                       length(regexp_replace(text, '\\s+', '', 'g'))
                           AS nc_nospace
                FROM scrubbed
            ), r AS (
                SELECT doc_id, lang, text, n_tokens,
                       LEAST(nc / 200.0, 1.0) AS len_score,
                       LEAST((CASE WHEN nc = 0 THEN 0.0
                                   ELSE CAST(npunct AS DOUBLE) / nc END)
                             * 2.0, 1.0) AS noise_penalty,
                       CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE CAST(nc_nospace AS DOUBLE) / n_tokens
                       END AS wl
                FROM m
            ), q AS (
                SELECT doc_id, lang, text, n_tokens,
                       FLOOR((len_score * 0.5
                              + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                      THEN 1.0 ELSE 0.5 END) * 0.3
                              + (1.0 - noise_penalty) * 0.2) * 1000000
                             + 0.5) / 1000000.0 AS quality
                FROM r
            ), kept AS (
                SELECT * FROM q
                WHERE n_tokens >= 10 AND quality >= 0.5
            ), dd AS (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY md5({_NORM_TEXT})
                    ORDER BY doc_id
                ) AS rn
                FROM kept
            ), deduped AS (
                SELECT * FROM dd WHERE rn = 1
            ), wS AS (
                -- benchmark docs keep their ORIGINAL text; the corpus
                -- side shingles the SCRUBBED text (the C4 order)
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+')
                           AS words
                FROM (
                    SELECT doc_id, text FROM documents
                    WHERE doc_id % 50 = 0
                    UNION ALL
                    SELECT doc_id, text FROM scrubbed
                )
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS shingles
                FROM wS
            ), ex AS (
                SELECT doc_id, unnest(list_distinct(shingles)) AS gram
                FROM sh
            ), bench AS (
                SELECT DISTINCT gram FROM ex WHERE doc_id % 50 = 0
            ), contaminated AS (
                SELECT DISTINCT t.doc_id
                FROM (SELECT * FROM ex WHERE doc_id % 50 != 0) t
                JOIN bench b USING (gram)
            ), clean AS (
                SELECT * FROM deduped
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            )
            SELECT doc_id, lang, n_tokens,
                   FLOOR(quality * 1000000 + 0.5) / 1000000.0 AS quality,
                   CASE {{arms}} ELSE 'holdout' END AS split
            FROM clean
        """.replace("{arms}", " ".join(
        f"WHEN lang = '{lang}' AND "
        f"substring(md5('split:' || doc_id::VARCHAR), 1, 8) < "
        f"'{sampling.rate_threshold(r)}' THEN 'train'"
        for lang, r in sorted(_SPLIT_RATES.items())
    )))
def q_corpus_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-corpus curation pipeline as ONE lazy plan,
    in the C4 ORDER (Raffel et al., JMLR 2020 §2.2 run boilerplate
    removal FIRST — chrome must not pollute quality scores, dedup
    fingerprints, or decontamination grams; reference analogue: the
    fused ETL-then-consume composition of data_collector.py →
    dataframe_to_kafka.py): benchmark exclusion → corpus-frequency
    BOILERPLATE SCRUB (5-word spans in ≥2 distinct corpus docs removed
    from every doc) → quality/length scoring+filter on the SCRUBBED
    text → exact dedup (lowest id per normalized scrubbed fingerprint)
    → n-gram decontamination (scrubbed-corpus trigrams anti-joined
    against benchmark trigrams, broadcast) → deterministic stratified
    train/holdout split. Every stage is the already-gated operator;
    composing them stays declarative. Audited plan (PLANS.md): 6
    shuffles (the scrub's span-census/verdict/rebuild aggregates, the
    lang join, the fingerprint window, the contamination gram
    aggregation) + 6 broadcasts (bench gram set, anti-join, the
    AQE-picked small sides), split assignment map-side."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % 50) != 0)
    # materialized once: the scrub chain (span explode → census →
    # verdict join → per-doc rebuild, the pipeline's heaviest stage)
    # feeds BOTH the quality/dedup branch and the decontamination-gram
    # branch — without this the whole chain ran once per consumer
    # (stage profile: the 2.1 MB scrub exchange written twice, read
    # four times; guide §1.2). At 100 TB this is the persisted
    # working set of the curation pipeline.
    scrubbed = (
        dedup.boilerplate_scrub(
            corpus, text_col="text", id_col="doc_id",
            window_words=5, min_df=2,
        )
        .select("doc_id", F.col("kept_text").alias("text"))
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=False)
    )
    scored = scrubbed.select(
        "doc_id",
        "lang",
        "text",
        textf.whitespace_token_count("text").alias("n_tokens"),
        textf.quality_score("text").alias("quality"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("quality") >= 0.5)
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        kept.withColumn(
            "fingerprint", textf.normalized_fingerprint("text")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # decontamination grams: benchmark docs keep their ORIGINAL text
    # (the eval set is what it is); corpus-side grams come from the
    # scrubbed text the pipeline will actually train on
    gram_input = docs.filter((F.col("doc_id") % 50) == 0).select(
        "doc_id", "text"
    ).unionByName(scrubbed.select("doc_id", "text"))
    hits = dedup.contamination_hits(
        gram_input, (F.col("doc_id") % 50) == 0
    )
    clean = deduped.join(hits, "doc_id", "left_anti")
    out = sampling.hash_split(
        clean, "doc_id", _SPLIT_RATES, stratum_col="lang"
    )
    return out.select(
        "doc_id", "lang", "n_tokens", _q(F.col("quality"), 6).alias("quality"), "split"
    )


@query(lambda: f"""
            WITH corpus AS (
                SELECT * FROM documents WHERE doc_id % 50 != 0
            ), m AS (
                SELECT doc_id, lang, text,
                       {_WS_TOKENS} AS n_tokens,
                       length(text) AS nc,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                           AS npunct,
                       length(regexp_replace(text, '\\s+', '', 'g'))
                           AS nc_nospace
                FROM corpus
            ), r AS (
                SELECT doc_id, lang, text, n_tokens,
                       LEAST(nc / 200.0, 1.0) AS len_score,
                       LEAST((CASE WHEN nc = 0 THEN 0.0
                                   ELSE CAST(npunct AS DOUBLE) / nc END)
                             * 2.0, 1.0) AS noise_penalty,
                       CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE CAST(nc_nospace AS DOUBLE) / n_tokens
                       END AS wl
                FROM m
            ), q AS (
                SELECT doc_id, lang, text, n_tokens,
                       FLOOR((len_score * 0.5
                              + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                      THEN 1.0 ELSE 0.5 END) * 0.3
                              + (1.0 - noise_penalty) * 0.2) * 1000000
                             + 0.5) / 1000000.0 AS quality
                FROM r
            ), kept0 AS (
                SELECT * FROM q
                WHERE n_tokens >= 10 AND quality >= 0.5
            ), linesR AS (
                SELECT doc_id, line FROM (
                    SELECT doc_id,
                           UNNEST(string_split(text, chr(10))) AS line
                    FROM corpus
                ) WHERE trim(line) <> ''
            ), lcR AS (
                SELECT doc_id, line, COUNT(*) AS c, length(line) AS ln
                FROM linesR GROUP BY 1, 2
            ), ldR AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_lines,
                       CAST(SUM(c - 1) AS BIGINT) AS dup_lines
                FROM lcR GROUP BY 1
            ), twR AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS w,
                       UNNEST(generate_series(1, len(
                           string_split_regex(lower(trim(text)), '\\s+'))))
                           AS i
                FROM corpus
            ), tkR AS (SELECT doc_id, w, i FROM twR WHERE w <> ''),
            wcR AS (
                SELECT doc_id, CAST(SUM(length(w)) AS BIGINT) AS word_chars
                FROM tkR GROUP BY 1
            ), bgR AS (
                SELECT a.doc_id, a.w AS w1, b.w AS w2, COUNT(*) AS n
                FROM tkR a JOIN tkR b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1
                GROUP BY 1, 2, 3
            ), topR AS (
                SELECT doc_id, w1, w2, n FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY doc_id
                        ORDER BY n DESC, w1 ASC, w2 ASC
                    ) AS rk FROM bgR
                ) WHERE rk = 1
            ), rep AS (
                SELECT d.doc_id,
                       {_sql_q("CAST(dup_lines AS DOUBLE) / n_lines", 6)}
                           AS dup_line_frac,
                       {_sql_q(
                           "CAST(t.n * (length(t.w1) + length(t.w2))"
                           " AS DOUBLE) / word_chars", 6
                       )} AS top_bigram_char_frac
                FROM corpus d
                LEFT JOIN ldR USING (doc_id)
                LEFT JOIN wcR USING (doc_id)
                LEFT JOIN topR t USING (doc_id)
            ), kept1 AS (
                SELECT k.* FROM kept0 k LEFT JOIN rep USING (doc_id)
                WHERE COALESCE(dup_line_frac, 0) <= 0.3
                  AND COALESCE(top_bigram_char_frac, 0) <= 0.12
            ), toksS AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ), tkS AS (SELECT doc_id, term FROM toksS WHERE term <> ''),
            ctS AS (SELECT term, COUNT(*) AS ct FROM tkS GROUP BY 1),
            ttS AS (SELECT COUNT(*) AS tt FROM tkS),
            dtS AS (
                SELECT doc_id, term, COUNT(*) AS c FROM tkS GROUP BY 1, 2
            ), per_docS AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS dl,
                       CAST(SUM(c * CAST(FLOOR(ln(ct) * 1e6 + 0.5)
                                         AS BIGINT)) AS BIGINT) AS s_micro
                FROM dtS JOIN ctS USING (term) GROUP BY 1
            ), sur AS (
                SELECT doc_id,
                       CAST(FLOOR(ln(tt) * 1e6 + 0.5) AS BIGINT)
                           - s_micro // dl AS surprisal_micro
                FROM per_docS, ttS
            ), kept2 AS (
                SELECT k.*, s.surprisal_micro
                FROM kept1 k JOIN sur s USING (doc_id)
                WHERE s.surprisal_micro BETWEEN 3395000 AND 3420000
            ), dd AS (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY md5({_NORM_TEXT})
                    ORDER BY doc_id
                ) AS rn
                FROM kept2
            ), deduped AS (
                SELECT * FROM dd WHERE rn = 1
            ), wS AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+')
                           AS words
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
                FROM wS
            ), ex AS (
                SELECT doc_id, unnest(list_distinct(shingles)) AS gram
                FROM sh
            ), bench AS (
                SELECT DISTINCT gram FROM ex WHERE doc_id % 50 = 0
            ), contaminated AS (
                SELECT DISTINCT t.doc_id
                FROM (SELECT * FROM ex WHERE doc_id % 50 != 0) t
                JOIN bench b USING (gram)
            ), clean AS (
                SELECT * FROM deduped
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            )
            SELECT doc_id, lang, n_tokens,
                   FLOOR(quality * 1000000 + 0.5) / 1000000.0 AS quality,
                   surprisal_micro,
                   CASE {{arms}} ELSE 'holdout' END AS split
            FROM clean
        """.replace("{arms}", " ".join(
        f"WHEN lang = '{lang}' AND "
        f"substring(md5('split:' || doc_id::VARCHAR), 1, 8) < "
        f"'{sampling.rate_threshold(r)}' THEN 'train'"
        for lang, r in sorted(_SPLIT_RATES.items())
    )))
def q_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline UPGRADED with the round-5 filter tier, as
    one lazy plan: benchmark exclusion → length/quality gate →
    Gopher repetition gates (dup-line fraction ≤ 0.3, top-bigram char
    coverage ≤ 0.12) → unigram-LM surprisal band (keep the middle:
    3.395–3.420 nats — drop both boilerplate-predictable and garbled
    tails, the CCNet recipe) → exact dedup → n-gram decontamination →
    stratified split. Every gate is the already-hash-gated operator;
    the composition stays declarative so Catalyst prunes text as soon
    as the last text-derived expression is computed. Band thresholds
    are fixed literals (production would pick per-language percentile
    bands from a stats pass — the logbucket sketch serves exactly
    that)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % 50) != 0)
    scored = corpus.select(
        "doc_id",
        "lang",
        "text",
        textf.whitespace_token_count("text").alias("n_tokens"),
        textf.quality_score("text").alias("quality"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("quality") >= 0.5)
    )
    rep = quality.repetition_signals(corpus).select(
        "doc_id", "dup_line_frac", "top_bigram_char_frac"
    )
    kept = kept.join(rep, "doc_id", "left").filter(
        (F.coalesce("dup_line_frac", F.lit(0.0)) <= 0.3)
        & (F.coalesce("top_bigram_char_frac", F.lit(0.0)) <= 0.12)
    )
    # unigram surprisal, LM = the full documents table (deterministic
    # reference distribution; same construction as q_unigram_surprisal)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(textf.split_words("text"), lambda t: t != "")
        ).alias("term"),
    )
    # NOTE (r16 A/B, kept as the negative result): checkpointing the
    # (doc, term) counts and rolling ct up from them (one explode pass
    # instead of two) measured 2.43 s vs 2.03 s baseline — the doc-term
    # table is nearly corpus-token-sized, so materializing it costs
    # more than the explode recompute it saves, the same verdict r15
    # recorded for the whole token-explode tier.
    ct = toks.groupBy("term").agg(F.count("*").alias("ct"))
    total = ct.agg(F.sum("ct").alias("tt"))  # Σ vocab, not a 3rd scan
    dt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    lnq_ct = F.floor(F.log("ct") * 1e6 + F.lit(0.5)).cast("long")
    lnq_tt = F.floor(F.log("tt") * 1e6 + F.lit(0.5)).cast("long")
    # no hard broadcast hint on the vocab table (r7): ct grows with
    # corpus vocabulary, so AQE is the size guard — it auto-broadcasts
    # while ct fits the threshold (the measured plan at every tested
    # SF) and falls back to a term-keyed shuffle join at web-crawl
    # vocab instead of overflowing a forced broadcast
    sur = (
        dt.join(ct, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("dl"),
            F.sum(F.col("c") * lnq_ct).alias("s_micro"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (lnq_tt - F.expr("s_micro DIV dl")).alias("surprisal_micro"),
        )
    )
    kept = kept.join(sur, "doc_id").filter(
        F.col("surprisal_micro").between(3_395_000, 3_420_000)
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        kept.withColumn(
            "fingerprint", textf.normalized_fingerprint("text")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    hits = dedup.contamination_hits(docs, (F.col("doc_id") % 50) == 0)
    clean = deduped.join(hits, "doc_id", "left_anti")
    out = sampling.hash_split(
        clean, "doc_id", _SPLIT_RATES, stratum_col="lang"
    )
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        _q(F.col("quality"), 6).alias("quality"),
        "surprisal_micro",
        "split",
    )


@query(rf"""
            WITH w AS (
                SELECT doc_id, lang, text,
                       string_split_regex(lower(trim(text)), '\s+') AS words
                FROM documents
            ), sh AS (
                SELECT doc_id, lang, text,
                       CASE WHEN len(words) < 3
                            THEN [array_to_string(words, ' ')]
                            ELSE list_transform(
                                generate_series(0, len(words) - 3),
                                i -> array_to_string(
                                    list_slice(words, i + 1, i + 3), ' '))
                       END AS shingles
                FROM w
            ), m AS (
                SELECT doc_id, lang,
                       {_WS_TOKENS} AS n_tokens,
                       length(text) AS nc,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
                       length(regexp_replace(text, '\s+', '', 'g')) AS nc_nospace,
                       1 - len(list_distinct(shingles))
                           / CAST(len(shingles) AS DOUBLE) AS rep
                FROM sh
            ), r AS (
                SELECT doc_id, lang, n_tokens, rep,
                       LEAST(nc / 200.0, 1.0) AS len_score,
                       LEAST((CASE WHEN nc = 0 THEN 0.0
                                   ELSE CAST(npunct AS DOUBLE) / nc END) * 2.0,
                             1.0) AS noise_penalty,
                       CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE CAST(nc_nospace AS DOUBLE) / n_tokens END AS wl
                FROM m
            ), q AS (
                -- quality_score() floor-quantizes internally, so the
                -- filter compares the quantized value on both engines
                SELECT doc_id, lang, n_tokens, rep,
                       FLOOR((len_score * 0.5
                              + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                      THEN 1.0 ELSE 0.5 END) * 0.3
                              + (1.0 - noise_penalty) * 0.2) * 1000000
                             + 0.5) / 1000000.0 AS quality
                FROM r
            )
            SELECT doc_id, lang, n_tokens,
                   FLOOR(quality * 1000000 + 0.5) / 1000000.0 AS quality,
                   FLOOR(rep * 1000000 + 0.5) / 1000000.0 AS rep_ratio
            FROM q
            WHERE n_tokens >= 20 AND n_tokens <= 10000
              AND quality >= 0.9 AND rep <= 0.05
        """)
def q_corpus_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining corpus filter: token-count band, quality
    floor, repetition ceiling — one predicate chain, all pure JVM
    expressions, evaluated in a single codegen stage over the scan."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        textf.whitespace_token_count("text").alias("n_tokens"),
        textf.quality_score("text").alias("q_raw"),
        textf.repetition_ratio("text", 3).alias("r_raw"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 10000)
        & (F.col("q_raw") >= 0.9)
        & (F.col("r_raw") <= 0.05)
    )
    return kept.select(
        "doc_id",
        "lang",
        "n_tokens",
        _q(F.col("q_raw"), 6).alias("quality"),
        _q(F.col("r_raw"), 6).alias("rep_ratio"),
    )


@query(r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(trim(text)), '\s+'))
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
                       CAST(FLOOR(ln(tt) * 1e6 + 0.5) AS BIGINT)
                       - CAST(SUM(c * CAST(FLOOR(ln(ct) * 1e6 + 0.5)
                                           AS BIGINT)) AS BIGINT)
                         // CAST(SUM(c) AS BIGINT) AS sur_micro
                FROM dt JOIN ct USING (term), tt GROUP BY doc_id, tt
            ),
            by_src AS (
                SELECT source,
                       COUNT(*) AS n_docs,
                       CAST(SUM(dl) AS BIGINT) AS total_tokens,
                       CAST(SUM(sur_micro) AS BIGINT)
                           // COUNT(*) AS avg_surprisal_micro
                FROM per_doc JOIN documents USING (doc_id)
                GROUP BY source
            ),
            corpus AS (
                SELECT CAST(SUM(sur_micro) AS BIGINT) // COUNT(*)
                           AS corpus_avg
                FROM per_doc
            ),
            ex AS (
                SELECT source, n_docs, total_tokens, avg_surprisal_micro,
                       avg_surprisal_micro - corpus_avg AS excess_micro
                FROM by_src, corpus
            ),
            pt AS (
                SELECT CAST(SUM(greatest(excess_micro, 0)) AS BIGINT)
                           AS pos_total,
                       COUNT(*) AS n_src
                FROM ex
            )
            SELECT source, n_docs, total_tokens, avg_surprisal_micro,
                   CAST(excess_micro AS BIGINT) AS excess_micro,
                   CAST(CASE WHEN pos_total > 0
                             THEN (greatest(excess_micro, 0) * 1000000)
                                  // pos_total
                             ELSE 1000000 // n_src
                        END AS BIGINT) AS weight_ppm
            FROM ex, pt ORDER BY source
        """)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al., NeurIPS
    2023: upweight domains where the proxy model's EXCESS loss is
    high), with the repo's unigram-surprisal signal standing in for
    proxy-model loss: per source domain, the mean per-doc surprisal
    under the corpus unigram LM; a domain's excess = its mean minus
    the corpus-wide mean; sampling weights ∝ max(0, excess),
    normalized to parts-per-million — domains whose text the
    reference distribution finds surprising get more sampling mass,
    boilerplate-heavy domains get less. The entire chain is integer
    fixed-point: surprisal_micro is the established integer-exact
    construction, domain means are BIGINT sums with integer DIV,
    excess is a BIGINT difference, and the ppm normalization is
    integer multiply-then-DIV — no float crosses an aggregation, so
    DuckDB reproduces every weight bit-for-bit (the clamped-linear
    variant of DoReMi's exponentiated update, chosen for cross-engine
    exactness). All-equal degenerate corpora fall back to uniform ppm.
    Shape: the surprisal pipeline's three narrow shuffles + one
    |domains|-row aggregate; the domain table is bounded, the scalar
    corpus mean broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(textf.split_words("text"), lambda t: t != "")
        ).alias("term"),
    )
    dt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    ct = dt.groupBy("term").agg(F.sum("c").alias("ct"))
    total = ct.agg(F.sum("ct").alias("tt"))
    lnq_ct = F.floor(F.log("ct") * 1e6 + F.lit(0.5)).cast("long")
    lnq_tt = F.floor(F.log("tt") * 1e6 + F.lit(0.5)).cast("long")
    per_doc = (
        dt.join(ct, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("dl"),
            F.sum(F.col("c") * lnq_ct).alias("s_micro"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "dl",
            (lnq_tt - F.expr("s_micro DIV dl")).alias("sur_micro"),
        )
    )
    by_src = (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
            F.sum("sur_micro").alias("__sum_sur"),
        )
        .withColumn(
            "avg_surprisal_micro", F.expr("__sum_sur DIV n_docs")
        )
    )
    corpus = per_doc.agg(
        F.count("*").alias("__n_all"), F.sum("sur_micro").alias("__s_all")
    ).select(F.expr("__s_all DIV __n_all").alias("__corpus_avg"))
    excess = by_src.crossJoin(F.broadcast(corpus)).withColumn(
        "excess_micro", F.col("avg_surprisal_micro") - F.col("__corpus_avg")
    )
    pos_total = excess.agg(
        F.sum(F.greatest(F.col("excess_micro"), F.lit(0))).alias("__pos"),
        F.count("*").alias("__n_src"),
    )
    return (
        excess.crossJoin(F.broadcast(pos_total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "avg_surprisal_micro",
            "excess_micro",
            F.when(
                F.col("__pos") > 0,
                F.expr(
                    "(greatest(excess_micro, 0) * 1000000) DIV __pos"
                ),
            )
            .otherwise(F.expr("1000000 DIV __n_src"))
            .alias("weight_ppm"),
        )
        .orderBy("source")
    )


def _pretrain_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone chain up to (and including) the 2048-token pack —
    (doc_id, lang, source, n_tokens, bin), localCheckpoint'ed because
    every consumer aggregates it more than once in one plan: the
    manifest + source-mix pair in q_pretrain_shard_plan, and the
    balance rollup in q_shard_balance_report (which through r15 re-ran
    the ENTIRE scrub → dedup → encode → pack chain as the manifest
    subquery it composes — guide §1.2). Shared plan prefix, never a
    shared result: a fresh frame is built per query invocation."""
    docs = _t(spark, sf_dir, "documents")
    scrubbed = (
        dedup.boilerplate_scrub(
            docs, text_col="text", id_col="doc_id",
            window_words=5, min_df=2,
        )
        .filter(F.col("kept_words") > 0)
        .select("doc_id", F.col("kept_text").alias("text"))
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        scrubbed.withColumn(
            "fingerprint", textf.normalized_fingerprint("text")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    _, final_state = _bpe_trained(spark, sf_dir)
    counts = tokenizer.doc_token_counts(
        deduped, tokenizer.token_dict(final_state)
    )
    t = docs.select("doc_id", "lang", "source").join(
        counts.select("doc_id", "n_tokens"), "doc_id"
    )
    return sampling.contiguous_pack(
        t, "n_tokens", 2048, "doc_id", partition_cols=("lang",)
    ).localCheckpoint(eager=False)


def _pretrain_shard_plan_oracle_sql() -> str:
    """DuckDB twin of q_pretrain_shard_plan: the boilerplate-scrub CTE
    chain, keep-first dedup on the normalized scrubbed text, the shared
    BPE training chain + word→tok_n dictionary application, the
    per-language running-sum 2048-token bin assignment, and the two
    manifest aggregations (ordered doc_id list, source-sorted mix)."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{catalog_tokenizer._BPE_MERGES}),
        scr_w AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents WHERE regexp_replace(text, '\\s+', '', 'g') <> ''
        ), scr_chpos AS (
            SELECT doc_id, words,
                   UNNEST(generate_series(
                       0,
                       CAST(greatest(ceil(len(words) / 5.0), 1)
                            AS BIGINT) - 1)) AS pos
            FROM scr_w
        ), scr_ch AS (
            SELECT doc_id, pos,
                   array_to_string(
                       list_slice(words,
                                  CAST(pos * 5 + 1 AS BIGINT),
                                  CAST(pos * 5 + 5 AS BIGINT)),
                       ' ') AS span
            FROM scr_chpos
        ), scr_fp AS (
            SELECT doc_id, pos, span, md5(span) AS f FROM scr_ch
        ), scr_dfr AS (
            SELECT f, COUNT(DISTINCT doc_id) AS df
            FROM scr_fp GROUP BY f
        ), scrubbed AS (
            SELECT doc_id,
                   COALESCE(
                       string_agg(
                           CASE WHEN d.df < 2 THEN s.span END,
                           ' ' ORDER BY s.pos),
                       '') AS text
            FROM scr_fp s JOIN scr_dfr d USING (f)
            GROUP BY doc_id
        ), nonempty AS (
            SELECT doc_id, text FROM scrubbed WHERE text <> ''
        ), dd AS (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(regexp_replace(
                           lower(trim(text)), '\\s+', ' ', 'g'))
                       ORDER BY doc_id
                   ) AS rn
            FROM nonempty
        ), ddk AS (
            SELECT doc_id, text FROM dd WHERE rn = 1
        ), dw AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text),
                                                 '[^a-z0-9]+')) AS word
                FROM ddk)
            WHERE word <> ''
        ), tc AS (
            SELECT dw.doc_id,
                   CAST(SUM(COALESCE(d.tok_n, length(dw.word)))
                        AS BIGINT) AS n_tokens
            FROM dw LEFT JOIN dict d ON d.word = dw.word
            GROUP BY dw.doc_id
        ), t AS (
            SELECT doc.doc_id, doc.lang, doc.source, tc.n_tokens
            FROM documents doc JOIN tc ON tc.doc_id = doc.doc_id
        ), c AS (
            SELECT *,
                   SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM t
        ), p AS (
            SELECT lang, source, doc_id, n_tokens,
                   CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT)
                       AS bin
            FROM c
        ), man AS (
            SELECT lang, bin,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
                   string_agg(doc_id::VARCHAR, '|' ORDER BY doc_id)
                       AS doc_ids
            FROM p GROUP BY 1, 2
        ), mix0 AS (
            SELECT lang, bin, source,
                   CAST(COUNT(*) AS BIGINT) AS cs
            FROM p GROUP BY 1, 2, 3
        ), mixa AS (
            SELECT lang, bin,
                   string_agg(source || ':' || cs::VARCHAR,
                              '|' ORDER BY source) AS source_mix
            FROM mix0 GROUP BY 1, 2
        )
        SELECT man.lang || '-' || man.bin::VARCHAR AS shard_id,
               man.lang, man.bin, man.n_docs, man.shard_tokens,
               man.doc_ids, mixa.source_mix
        FROM man JOIN mixa USING (lang, bin)
        ORDER BY man.lang, man.bin
    """


@query(_pretrain_shard_plan_oracle_sql)
def q_pretrain_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE: a pretraining SHARD PLAN — the one operator a
    100 TB pipeline actually ships (the r14 verdict's task 3), chaining
    every already-gated stage into one lazy manifest query in the C4
    order: corpus-frequency BOILERPLATE SCRUB (5-word spans in ≥2
    distinct docs removed from every doc; Raffel et al., JMLR 2020
    §2.2) → EXACT DEDUP on the scrubbed text (lowest doc_id per
    normalized fingerprint) → ENCODE under the shared `_bpe_trained`
    state (per-doc exact token counts from the trained word→tok_n
    dictionary; docs with no [a-z0-9] words carry no tokens and drop,
    the pack_bpe_budget convention) → CONTIGUOUS PACK of each
    language's doc_id-ordered token stream at 2048-token boundaries
    (sampling.contiguous_pack — one window cumsum per language) →
    per-shard MANIFEST: shard_id (lang-bin), doc census, exact token
    count, the ordered doc_id list a shard writer would fetch, and the
    source mix (per-source doc counts, pipe-joined sorted by source —
    the mixture a data-governance audit reads). Deterministic
    throughout (md5 fingerprints, BIGINT token sums, struct-sorted
    mixes), so the DuckDB twin replays the ENTIRE chain — scrub, dedup,
    BPE training + dictionary application, the running-sum packing, and
    both manifest aggregations — and the value hash proves five stages
    end-to-end.

    Scale shape: the scrub's fp/doc-keyed aggregates, one fingerprint
    window, one dictionary hash-join (AQE broadcasts while the
    vocabulary is small), one per-language cumsum window (bounded
    partition key — contiguous_pack's documented 100 TB discipline),
    and two map-side-combinable manifest aggregates; per-shard doc
    lists are bounded by the 2048-token budget, so collect_list here
    is O(budget/avg_doc_tokens) per group, never corpus-sized."""
    packed = _pretrain_packed(spark, sf_dir)
    manifest = packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.col("doc_id"))),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("doc_ids"),
    )
    mix = (
        packed.groupBy("lang", "bin", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("lang", "bin")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("source", "c"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["source"], s["c"].cast("string")
                    ),
                ),
                "|",
            ).alias("source_mix")
        )
    )
    return (
        manifest.join(mix, ["lang", "bin"])
        .select(
            F.concat_ws(
                "-", "lang", F.col("bin").cast("string")
            ).alias("shard_id"),
            "lang",
            "bin",
            "n_docs",
            "shard_tokens",
            "doc_ids",
            "source_mix",
        )
        .orderBy("lang", "bin")
    )


def _shard_balance_oracle_sql() -> str:
    """DuckDB twin of q_shard_balance_report: the full capstone chain
    as a subquery (scrub → dedup → BPE training + dictionary → pack →
    manifest), then the integer-exact per-language audit aggregate."""
    return f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(shard_tokens) AS BIGINT) AS lang_tokens,
               CAST(MIN(shard_tokens) AS BIGINT) AS min_shard_tokens,
               CAST(MAX(shard_tokens) AS BIGINT) AS max_shard_tokens,
               CAST((SUM(shard_tokens) * 1000000)
                    // (COUNT(*) * 2048) AS BIGINT) AS fill_ppm
        FROM ({_pretrain_shard_plan_oracle_sql()})
        GROUP BY lang ORDER BY lang
    """


@query(_shard_balance_oracle_sql)
def q_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language balance audit of the pretraining shard plan — the
    capacity/data-governance review a shard writer runs before shipping
    (are any languages fragmenting into underfilled shards? how far
    over budget do boundary docs push?): composes q_pretrain_shard_plan
    (the five-stage manifest) into |langs| rows of integer-exact stats:
    shard count, doc count, token total, min/max shard tokens, and the
    mean fill ratio vs the 2048-token budget in parts-per-million
    (BIGINT sums + one integer multiply-then-DIV — no float crosses an
    aggregation, so the DuckDB twin, which replays the ENTIRE capstone
    chain as a subquery and then the audit aggregate, hash-matches
    bit-for-bit). Cost (r16 restructure, guide §1.2/§2.4): ONE
    two-level rollup straight off the shared `_pretrain_packed` frame.
    Through r15 this composed q_pretrain_shard_plan verbatim, which
    made the audit pay the manifest's collect_list(doc_ids) sort, the
    THREE-aggregate source-mix subtree, and a (lang, bin) join whose
    only role was multiplicity the optimizer cannot prove away (mix is
    1:1 with manifest BY CONSTRUCTION — both group the same packed
    rows by (lang, bin), so the inner join never changes cardinality
    and per-shard n_docs/shard_tokens are identical either way; the
    unchanged oracle, which still replays the full manifest⋈mix chain,
    pins that equivalence). The audit reads (lang, bin, n_docs,
    shard_tokens) only — aggregating packed directly drops 2
    aggregates, 1 join, and the doc_ids string sort from the plan."""
    packed = _pretrain_packed(spark, sf_dir)
    per_shard = packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )
    return (
        per_shard.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("shard_tokens").cast("long").alias("lang_tokens"),
            F.min("shard_tokens").cast("long").alias("min_shard_tokens"),
            F.max("shard_tokens").cast("long").alias("max_shard_tokens"),
        )
        .withColumn(
            "fill_ppm",
            F.expr("(lang_tokens * 1000000) DIV (n_shards * 2048)"),
        )
        .orderBy("lang")
    )


def _vocab_growth_zipf_oracle_sql() -> str:
    """DuckDB twin of q_vocab_growth_zipf_profile: the first-occurrence
    vocabulary table, the integer decile bucketing against the id
    bounds, the 10-row cumulative curve, and the micro-quantized
    log-log regression over the top-100 ranks."""
    return """
        WITH wds AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text),
                                                 '[^a-z0-9]+')) AS word
                FROM documents)
            WHERE word <> ''
        ), wf AS (
            SELECT word, MIN(doc_id) AS first_doc,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM wds GROUP BY word
        ), b AS (
            SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        ), pd AS (
            SELECT CAST(((first_doc - lo) * 10) // (hi - lo + 1)
                        AS INT) + 1 AS decile,
                   CAST(COUNT(*) AS BIGINT) AS new_words
            FROM wf, b GROUP BY 1
        ), ds AS (
            SELECT CAST(UNNEST(generate_series(1, 10)) AS INT) AS decile
        ), curve AS (
            SELECT ds.decile,
                   CAST(COALESCE(pd.new_words, 0) AS BIGINT) AS new_words,
                   CAST(SUM(COALESCE(pd.new_words, 0)) OVER (
                       ORDER BY ds.decile ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS vocab_size
            FROM ds LEFT JOIN pd USING (decile)
        ), topw AS (
            SELECT word, freq FROM wf
            ORDER BY freq DESC, word LIMIT 100
        ), rk AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, word) AS r
            FROM topw
        ), xy AS (
            SELECT CAST(FLOOR(ln(r) * 1e6 + 0.5) AS BIGINT) AS x,
                   CAST(FLOOR(ln(freq) * 1e6 + 0.5) AS BIGINT) AS y
            FROM rk
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM xy
        ), sl AS (
            SELECT CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(
                            1e6 * (CAST(n * sxy - sx * sy AS DOUBLE)
                                   / CAST(n * sxx - sx * sx AS DOUBLE))
                            + 0.5) AS BIGINT)
                   END AS zipf_slope_micro
            FROM s
        )
        SELECT curve.decile, curve.new_words, curve.vocab_size,
               sl.zipf_slope_micro
        FROM curve, sl ORDER BY curve.decile
    """


@query(_vocab_growth_zipf_oracle_sql)
def q_vocab_growth_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics — the two classical laws a corpus
    QA pass checks before training (Heaps 1978: vocabulary grows
    sublinearly with corpus size, V ∝ n^β; Zipf 1949: rank-frequency
    follows freq ∝ rank^(-s), s ≈ 1 for natural text — a corpus whose
    Zipf slope or Heaps curve deviates sharply is boilerplate-flooded,
    machine-generated, or mis-extracted; the r15 k=64 scale witness
    leaned on exactly this saturation behavior). Output: one row per
    ingest decile — new-word count and cumulative vocabulary size (the
    Heaps growth curve) — with the corpus Zipf slope attached (log-log
    least squares over the top-100 rank/frequency pairs,
    micro-quantized logs so the regression is integer-exact until ONE
    IEEE division).

    Scale shape (the reason this composes at 100 TB): the growth curve
    does NOT run one distinct-count per checkpoint — each word carries
    its FIRST-occurrence doc (one vocabulary-sized groupBy with
    map-side combine, the word_vocab pass plus a MIN), the checkpoint
    bucket is integer arithmetic on (first_doc, corpus id bounds)
    against one broadcast scalar row, and the curve is a 10-row
    cumulative sum. Checkpoints are doc_id-VALUE deciles (not ranks:
    a rank checkpoint would need a global sort of the doc table; with
    the dense/uniform ids the generators produce, value deciles ≈ rank
    deciles, and the contract documents the value semantics). The Zipf
    side is a top-k TakeOrdered (freq DESC, word ASC — total order) and
    a 100-row window + regression aggregate. Two corpus-sized shuffles
    total; nothing quadratic, no driver collects."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.col("text")), tokenizer.WORD_SPLIT_REGEX)
        ).alias("word"),
    ).filter(F.col("word") != "")
    wf = words.groupBy("word").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    per_dec = (
        wf.crossJoin(F.broadcast(bounds))
        .select(
            (
                F.expr("((first_doc - lo) * 10) DIV (hi - lo + 1)")
                + F.lit(1)
            )
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_words"))
    )
    deciles = spark.range(1, 11).select(
        F.col("id").cast("int").alias("decile")
    )
    wc = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        deciles.join(per_dec, "decile", "left")
        .select(
            "decile",
            F.coalesce("new_words", F.lit(0)).cast("long").alias(
                "new_words"
            ),
        )
        .withColumn(
            "vocab_size", F.sum("new_words").over(wc).cast("long")
        )
    )
    top = wf.orderBy(F.desc("freq"), F.asc("word")).limit(100)
    wr = Window.orderBy(F.desc("freq"), F.asc("word"))
    ranked = top.withColumn("r", F.row_number().over(wr))
    x = F.floor(F.log(F.col("r").cast("double")) * 1e6 + F.lit(0.5)).cast(
        "long"
    )
    y = F.floor(F.log(F.col("freq").cast("double")) * 1e6 + F.lit(0.5)).cast(
        "long"
    )
    sums = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = sums.select(
        F.when(
            F.expr("n * sxx - sx * sx") == 0, F.lit(0).cast("long")
        )
        .otherwise(
            F.floor(
                F.lit(1e6)
                * (
                    F.expr("n * sxy - sx * sy").cast("double")
                    / F.expr("n * sxx - sx * sx").cast("double")
                )
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("zipf_slope_micro")
    )
    return (
        curve.crossJoin(F.broadcast(slope))
        .select(
            "decile", "new_words", "vocab_size", "zipf_slope_micro"
        )
        .orderBy("decile")
    )


def _tokenizer_fertility_oracle_sql() -> str:
    """DuckDB twin of q_tokenizer_fertility_report: the shared BPE
    training chain, the word→token-count dictionary with the
    character-count fallback, the (lang, word) occurrence aggregate,
    and the integer-exact per-language ratios."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{catalog_tokenizer._BPE_MERGES}),
        lw AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM (SELECT lang,
                            unnest(string_split_regex(lower(text),
                                                      '[^a-z0-9]+')) AS word
                     FROM documents)
               WHERE word <> '' GROUP BY lang, word),
        ag AS (SELECT lang,
                      CAST(SUM(cnt) AS BIGINT) AS n_words,
                      CAST(SUM(cnt * length(lw.word)) AS BIGINT) AS n_chars,
                      CAST(SUM(cnt * COALESCE(d.tok_n, length(lw.word)))
                           AS BIGINT) AS n_tokens
               FROM lw LEFT JOIN dict d ON d.word = lw.word
               GROUP BY lang),
        nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM ag)
        SELECT nd.lang, nd.n_docs, ag.n_words, ag.n_chars, ag.n_tokens,
               CAST((ag.n_tokens * 1000000) // ag.n_words AS BIGINT)
                   AS fertility_micro,
               CAST((ag.n_chars * 1000000) // ag.n_tokens AS BIGINT)
                   AS chars_per_token_micro,
               CAST((ag.n_tokens * 1000000) // tot.tot_tokens AS BIGINT)
                   AS token_share_ppm
        FROM nd JOIN ag ON ag.lang = nd.lang, tot
        ORDER BY nd.lang
    """


@query(_tokenizer_fertility_oracle_sql)
def q_tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer QA under the corpus's OWN trained BPE —
    the fertility audit every multilingual pipeline runs before
    committing to a tokenizer (fertility = BPE tokens per word; a
    language whose fertility runs hot is over-fragmented by the shared
    vocabulary and silently pays more context budget per sentence —
    the standard multilingual-tokenizer comparison metric, cf. the
    fragmentation analyses around mBERT/XLM-R): per language — doc
    count, word occurrences, [a-z0-9] characters, exact BPE tokens
    under the shared `_bpe_trained` state, fertility in integer
    micro-units, characters-per-token (the compression ratio, micro),
    and the language's share of total corpus tokens (ppm) — every
    ratio a BIGINT multiply-then-DIV, so the DuckDB twin (which
    replays training + the dictionary + the same aggregates)
    hash-matches bit-for-bit.

    Scale shape: the corpus-sized work is ONE (lang, word) groupBy
    with map-side combine — the occurrence stream never reaches the
    dictionary join; the join runs on the vocab×langs aggregate (AQE
    broadcasts the vocab-sized dictionary), and everything downstream
    is |langs|-sized. The corpus-token total is a broadcast scalar
    (cross join), never a driver fetch. Languages whose documents
    carry no [a-z0-9] words have no token stream and drop (the
    pack_bpe_budget convention)."""
    docs = _t(spark, sf_dir, "documents")
    _, final_state = _bpe_trained(spark, sf_dir)
    dic = tokenizer.token_dict(final_state)
    lw = (
        docs.select(
            "lang",
            F.explode(
                F.split(F.lower(F.col("text")), tokenizer.WORD_SPLIT_REGEX)
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    agg = (
        lw.join(dic, "word", "left")
        .select(
            "lang",
            "cnt",
            F.length("word").cast("long").alias("wlen"),
            F.coalesce(F.col("tok_n"), F.length("word").cast("long")).alias(
                "tok_n"
            ),
        )
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("wlen")).cast("long").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("tok_n"))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    nd = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = agg.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    return (
        nd.join(agg, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("(n_tokens * 1000000) DIV n_words").alias(
                "fertility_micro"
            ),
            F.expr("(n_chars * 1000000) DIV n_tokens").alias(
                "chars_per_token_micro"
            ),
            F.expr("(n_tokens * 1000000) DIV tot_tokens").alias(
                "token_share_ppm"
            ),
        )
        .orderBy("lang")
    )


def _dedup_cluster_size_oracle_sql() -> str:
    """DuckDB twin of q_dedup_cluster_size_profile: the full keep-best
    chain (LSH signatures → banding → exact-Jaccard verify → recursive
    CTE components → quality election) as a subquery, then the
    integer-exact size census and descending-cumulative yield curve."""
    return f"""
        WITH kb AS (SELECT * FROM ({_DEDUP_KEEP_BEST_SQL})),
        sz AS (SELECT CAST(n_members AS BIGINT) AS cluster_size,
                      CAST(COUNT(*) AS BIGINT) AS n_clusters
               FROM kb GROUP BY 1),
        e AS (SELECT cluster_size, n_clusters,
                     CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
                     CAST((cluster_size - 1) * n_clusters AS BIGINT)
                         AS n_removed
              FROM sz),
        t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM e),
        c AS (SELECT *,
                     CAST(SUM(n_removed) OVER (
                         ORDER BY cluster_size DESC
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_removed
              FROM e)
        SELECT cluster_size, n_clusters, n_docs, n_removed,
               CAST((n_removed * 1000000) // total_docs AS BIGINT)
                   AS removed_share_ppm,
               CAST((cum_removed * 1000000) // total_docs AS BIGINT)
                   AS cum_removed_ppm
        FROM c, t ORDER BY cluster_size
    """


@query(_dedup_cluster_size_oracle_sql)
def q_dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplication-yield profile over the REAL MinHash-LSH
    near-dup clustering — the figure every dedup paper reports and the
    first diagnostic a curation team reads (how much of the corpus is
    duplicated, and at what multiplicity? cf. the cluster-size
    distributions in C4/Gopher/RefinedWeb): composes q_dedup_keep_best
    (LSH → exact-Jaccard verify → connected components → keep-best
    election, singletons included) into one row per CLUSTER SIZE:
    cluster count, docs involved, docs a keep-one policy removes
    (size−1 per cluster), that size's removal share of the corpus
    (ppm), and the cumulative removal share from the largest size down
    (the yield curve: "clusters of size ≥ s account for X ppm of the
    corpus"). Every ratio is a BIGINT multiply-then-DIV against the
    corpus total (itself Σ size·count — each doc is in exactly ONE
    cluster), so the DuckDB twin, which replays the ENTIRE keep-best
    chain as a subquery and then the census, hash-matches bit-for-bit.

    Cost: the already-audited keep-best chain plus a |clusters|-sized
    aggregate and a bounded window over |distinct sizes| rows (the
    bounded-shortlist exemption) — the profile itself is free."""
    clusters = q_dedup_keep_best(spark, sf_dir)
    sizes = (
        clusters.groupBy(F.col("n_members").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_removed"),
        )
        # materialized once (r16, guide §1.2): this |distinct sizes|-row
        # census feeds BOTH the broadcast total subquery and the final
        # read — without it the keep-best LAZY TAIL (quality scan ⋈
        # components → election window → cluster groupBy) ran twice per
        # invocation, once under the broadcast and once in the main pass
        .localCheckpoint(eager=False)
    )
    tot = sizes.agg(F.sum("n_docs").cast("long").alias("total_docs"))
    wy = Window.orderBy(F.desc("cluster_size")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .withColumn("cum_removed", F.sum("n_removed").over(wy).cast("long"))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            "n_removed",
            F.expr("(n_removed * 1000000) DIV total_docs").alias(
                "removed_share_ppm"
            ),
            F.expr("(cum_removed * 1000000) DIV total_docs").alias(
                "cum_removed_ppm"
            ),
        )
        .orderBy("cluster_size")
    )


def _source_overlap_oracle_sql() -> str:
    """DuckDB twin of q_source_overlap_matrix: the keep-best shingle
    chunking per source, the distinct (source, gram) table, the capped
    self-join, and the integer-ppm similarity grid (zero-overlap pairs
    included via the LEFT join against the full source grid)."""
    return r"""
        WITH w AS (
            SELECT source,
                   string_split_regex(lower(trim(text)), '\s+') AS words
            FROM documents
        ), shg AS (
            SELECT source,
                   CASE WHEN len(words) < 3
                        THEN [array_to_string(words, ' ')]
                        ELSE list_transform(
                            generate_series(0, len(words) - 3),
                            i -> array_to_string(
                                list_slice(words, i + 1, i + 3), ' '))
                   END AS sh
            FROM w
        ), sg AS (
            SELECT DISTINCT source, g
            FROM (SELECT source, unnest(sh) AS g FROM shg)
        ), per AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM sg GROUP BY source
        ), com AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        ), grid AS (
            SELECT pa.source AS src_a, pb.source AS src_b,
                   pa.n_grams AS grams_a, pb.n_grams AS grams_b
            FROM per pa, per pb WHERE pa.source < pb.source
        )
        SELECT g.src_a, g.src_b, g.grams_a, g.grams_b,
               CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
               CAST((COALESCE(c.n_common, 0) * 1000000)
                    // (g.grams_a + g.grams_b - COALESCE(c.n_common, 0))
                    AS BIGINT) AS jaccard_ppm,
               CAST((COALESCE(c.n_common, 0) * 1000000)
                    // LEAST(g.grams_a, g.grams_b) AS BIGINT)
                   AS containment_ppm
        FROM grid g
        LEFT JOIN com c ON c.src_a = g.src_a AND c.src_b = g.src_b
        ORDER BY g.src_a, g.src_b
    """


@query(_source_overlap_oracle_sql)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE n-gram overlap matrix — the leakage observability
    pass between corpus components (ngram_contamination audits docs vs
    a held-out benchmark; this audits the training sources against
    EACH OTHER: two "independent" crawls sharing half their 3-shingles
    are the same content twice, which silently double-weights it and
    defeats per-source mixture planning): per source pair — distinct
    3-shingle vocabulary sizes, the common-shingle count, Jaccard and
    containment in integer ppm (containment catches the
    subset-relationship a small source has to a big one that Jaccard
    hides). Pairs with NO overlap still emit a row (zero overlap
    between supposedly-related sources is itself a finding).

    Scale shape: the corpus-sized work is ONE distinct over (source,
    shingle) — map-side combinable; the self-join runs on the DISTINCT
    gram table where each gram appears at most |sources| times, so the
    join output is ≤ |grams|·C(|sources|,2) with NO hot keys (the
    all-pairs explosion near-dup LSH avoids cannot occur here — gram
    multiplicity is structurally capped by the source count); the
    |sources|²-row grid and per-source census are bounded. Shingles
    are the keep-best alphabet (lowercased whitespace words, <3-word
    docs contribute their whole text), so the DuckDB twin replays the
    same chunking bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    sg = (
        ensure_min_parallelism(docs.select("source", "text"))
        .select(
            "source", F.explode(textf.shingles(F.col("text"), 3)).alias("g")
        )
        .distinct()
    )
    per = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), "g")
    common = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pa = per.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("grams_a")
    )
    pb = per.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("grams_b")
    )
    grid = pa.crossJoin(pb).filter(F.col("src_a") < F.col("src_b"))
    return (
        grid.join(common, ["src_a", "src_b"], "left")
        .withColumn(
            "n_common", F.coalesce("n_common", F.lit(0)).cast("long")
        )
        .select(
            "src_a",
            "src_b",
            "grams_a",
            "grams_b",
            "n_common",
            F.expr(
                "(n_common * 1000000) DIV (grams_a + grams_b - n_common)"
            ).alias("jaccard_ppm"),
            F.expr(
                "(n_common * 1000000) DIV least(grams_a, grams_b)"
            ).alias("containment_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


def _mixture_epoch_oracle_sql() -> str:
    """DuckDB twin of q_mixture_epoch_schedule: the shared BPE
    training chain, the (source, word) token census, the sqrt-share
    temperature weight (one IEEE op, floor-quantized), and the staged
    integer budget allocation."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{catalog_tokenizer._BPE_MERGES}),
        sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM (SELECT source,
                            unnest(string_split_regex(lower(text),
                                                      '[^a-z0-9]+')) AS word
                     FROM documents)
               WHERE word <> '' GROUP BY source, word),
        st AS (SELECT source,
                      CAST(SUM(cnt * COALESCE(d.tok_n, length(sw.word)))
                           AS BIGINT) AS src_tokens
               FROM sw LEFT JOIN dict d ON d.word = sw.word
               GROUP BY source),
        nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot_tokens
                FROM st),
        base AS (SELECT nd.source, nd.n_docs, st.src_tokens,
                        tot.tot_tokens,
                        CAST((st.src_tokens * 1000000) // tot.tot_tokens
                             AS BIGINT) AS share_ppm,
                        CAST(FLOOR(sqrt(CAST(st.src_tokens AS DOUBLE)
                                        / CAST(tot.tot_tokens AS DOUBLE))
                                   * 1e6 + 0.5) AS BIGINT) AS w_micro
                 FROM nd JOIN st ON st.source = nd.source, tot),
        ws AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_sum FROM base)
        SELECT source, n_docs, src_tokens, share_ppm,
               CAST((w_micro * 1000000) // w_sum AS BIGINT) AS weight_ppm,
               CAST((((4 * tot_tokens) // 1000)
                     * ((w_micro * 1000000) // w_sum)) // 1000 AS BIGINT)
                   AS alloc_tokens,
               CAST(((((4 * tot_tokens) // 1000)
                      * ((w_micro * 1000000) // w_sum)) // 1000 * 1000)
                    // src_tokens AS BIGINT) AS epochs_milli
        FROM base, ws ORDER BY source
    """


@query(_mixture_epoch_oracle_sql)
def q_mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture EPOCH planner — the table a pretraining run
    actually publishes about its data (the per-source mixture tables
    in GPT-3/Llama reports: source, tokens, sampling weight, and the
    implied EPOCH count under the token budget; Muennighoff et al.,
    NeurIPS 2023 make epochs the first-class axis — past ~4 epochs a
    repeated source's tokens decay in value, so a planner must SEE
    which tail sources the temperature mixture is about to cycle):
    per source — doc count, exact trained-BPE tokens, natural share
    (ppm), the α=0.5 temperature sampling weight (sqrt-share,
    renormalized — the temperature_resample α, upweighting tail
    sources; sqrt is IEEE-correctly-rounded in both engines so ONE
    float op crosses, floor-quantized to micro before the integer
    renormalization), the token allocation under a 4×-corpus training
    budget (4 epochs if sampled uniformly), and the implied epochs in
    milli-units — the head source lands under 4000, the tail over.

    Scale shape: the corpus-sized work is ONE (source, word) groupBy
    (the fertility design — the dictionary join runs on the
    vocab-sized aggregate); everything downstream is |sources|-sized
    with broadcast scalar totals. The budget multiply is staged
    ((4·T) DIV 1000 before the ppm multiply) so BIGINT never
    overflows below ~10^15-token corpora — a 100 TB corpus is ~10^13.
    Sources with no [a-z0-9] words carry no tokens and drop (the
    pack_bpe_budget convention)."""
    docs = _t(spark, sf_dir, "documents")
    _, final_state = _bpe_trained(spark, sf_dir)
    dic = tokenizer.token_dict(final_state)
    sw = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), tokenizer.WORD_SPLIT_REGEX)
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    st = (
        sw.join(dic, "word", "left")
        .select(
            "source",
            "cnt",
            F.coalesce(F.col("tok_n"), F.length("word").cast("long")).alias(
                "tok_n"
            ),
        )
        .groupBy("source")
        .agg(
            F.sum(F.col("cnt") * F.col("tok_n"))
            .cast("long")
            .alias("src_tokens")
        )
    )
    nd = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = st.agg(F.sum("src_tokens").cast("long").alias("tot_tokens"))
    base = (
        nd.join(st, "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "share_ppm", F.expr("(src_tokens * 1000000) DIV tot_tokens")
        )
        .withColumn(
            "w_micro",
            F.floor(
                F.sqrt(
                    F.col("src_tokens").cast("double")
                    / F.col("tot_tokens").cast("double")
                )
                * 1e6
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    wsum = base.agg(F.sum("w_micro").cast("long").alias("w_sum"))
    return (
        base.crossJoin(F.broadcast(wsum))
        .withColumn("weight_ppm", F.expr("(w_micro * 1000000) DIV w_sum"))
        .withColumn(
            "alloc_tokens",
            F.expr("(((4 * tot_tokens) DIV 1000) * weight_ppm) DIV 1000"),
        )
        .withColumn(
            "epochs_milli", F.expr("(alloc_tokens * 1000) DIV src_tokens")
        )
        .select(
            "source",
            "n_docs",
            "src_tokens",
            "share_ppm",
            "weight_ppm",
            "alloc_tokens",
            "epochs_milli",
        )
        .orderBy("source")
    )
