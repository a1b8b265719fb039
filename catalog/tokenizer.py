"""Tokenizer queries: trained BPE merges, encoding, token budgets and
packing."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    sampling,
    tokenizer,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming import pipeline as streaming

from catalog import query
from catalog._common import _t, _WS_TOKENS


@query("""
            SELECT CAST(('0x' || substring(md5('shard:' || doc_id::VARCHAR),
                         1, 8))::UBIGINT % 16 AS INT) AS shard,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1
        """)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sharding for resumable materialization: stable shard id per
    doc, aggregated to per-shard doc/char totals (balance check)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.shard_assign(docs, "doc_id", 16)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(f"""
            WITH t AS (
                SELECT doc_id, lang, {_WS_TOKENS} AS n_tokens FROM documents
            ), c AS (
                SELECT lang, n_tokens,
                       SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM t
            )
            SELECT lang,
                   CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
            FROM c GROUP BY 1, 2
        """)
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: per language, cut the doc_id-ordered
    token stream at 2048-token boundaries; per-bin doc and token totals."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", textf.whitespace_token_count("text")
    )
    packed = sampling.contiguous_pack(
        docs, "n_tokens", 2048, "doc_id", partition_cols=("lang",)
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens")
    )


#: BPE training depth for the gated queries: enough merges that
#: multi-character tokens dominate the dictionary (the corpus's common
#: words collapse to 1-2 tokens) while keeping the oracle's replayed
#: chain readable — the same fixed-depth discipline as the 4-iteration
#: Lloyd trainer
_BPE_MERGES = 12


def _bpe_root(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted BPE training run: the ranked merge list
    (`merges/`) and the final (word, enc, freq) state (`state/`). Its
    key covers the documents parquet, the merge depth, and the training
    code with the tokenizer module (r14 advice: keyed on the corpus
    alone, a change to _BPE_MERGES or the training code silently served
    a stale artifact to every BPE-family query)."""

    def build(root: str) -> None:
        docs = _t(spark, sf_dir, "documents")
        vocab = tokenizer.word_vocab(docs)
        merges, final = tokenizer.train_bpe_merges(vocab, _BPE_MERGES)
        spark.createDataFrame(
            [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
            "rank long, pair_a string, pair_b string, pair_count long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/merges")
        final.write.mode("overwrite").parquet(f"{root}/state")

    return materialize(
        "bpetrained", sf_dir, [f"{sf_dir}/documents.parquet"],
        {"merges": _BPE_MERGES}, build,
    )


def _bpe_trained(spark: SparkSession, sf_dir: str):
    """(merge_table_df, final_state_df): the 12-merge BPE training run
    ONCE per corpus and persisted (`_bpe_root`) — the production shape
    (a pipeline trains its tokenizer once; the merge table, the
    counting dictionary, the encoding dictionary, and the packer all
    read the same trained state). Before this cache each BPE-family
    query paid the full 12-argmax training chain independently (~2s
    each at sf0.1, 4 queries)."""
    root = _bpe_root(spark, sf_dir)
    return (
        spark.read.parquet(f"{root}/merges"),
        spark.read.parquet(f"{root}/state"),
    )


def _bpe_merge_table_oracle_sql() -> str:
    """DuckDB twin of q_bpe_merge_table: the shared training chain, the
    merge table read off the b1..bN argmax CTEs."""
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS rank, a AS pair_a, b AS pair_b, "
        f"cnt AS pair_count FROM b{t}"
        for t in range(1, _BPE_MERGES + 1)
    )
    return f"""
        WITH {_bpe_train_ctes()}
        SELECT * FROM ({rows}) ORDER BY rank
    """


@query(_bpe_merge_table_oracle_sql)
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING replayed under the differential gate
    (operators/tokenizer.py; Sennrich et al., ACL 2016) — the merge
    table itself is the result: rank, pair, corpus-weighted count for
    the 12 most frequent adjacent-token-pair merges, trained on the
    distinct-word frequency table (ONE corpus shuffle; every iteration
    is a distributed pair-count aggregation over the vocabulary plus a
    1-row argmax collect). Determinism: exact BIGINT pair counts,
    (count DESC, a ASC, b ASC) tie-break on a binary-collated [a-z0-9]
    alphabet, and a leftmost-non-overlapping '(a)(b)'→'(ab)' replace —
    semantics Spark and DuckDB share exactly — so the DuckDB twin
    replays sample-free TRAINING (all 12 iterations as MATERIALIZED
    CTE chains) with zero inlined merge literals.

    EAGER SNAPSHOT (the mmr_rerank_micro contract): the sequential
    argmax collects run at construction time (inside the shared
    `_bpe_trained` artifact build — training runs ONCE per corpus
    fingerprint and every BPE-family query reads the persisted state,
    the production shape); the returned frame is the materialized
    merge table."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return merges.orderBy("rank")


def _bpe_token_counts_oracle_sql() -> str:
    """DuckDB twin of q_bpe_token_counts: training chain verbatim, the
    dictionary read off the final state, applied to the exploded corpus
    with the same absent-word character-count fallback."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{_BPE_MERGES}),
        dw AS (SELECT doc_id, word FROM (
                   SELECT doc_id,
                          unnest(string_split_regex(lower(text),
                                                    '[^a-z0-9]+')) AS word
                   FROM documents)
               WHERE word <> '')
        SELECT dw.doc_id,
               CAST(SUM(COALESCE(d.tok_n, length(dw.word))) AS BIGINT)
                   AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM dw LEFT JOIN dict d ON d.word = dw.word
        GROUP BY dw.doc_id
        ORDER BY dw.doc_id
    """


@query(_bpe_token_counts_oracle_sql)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus's OWN trained BPE
    vocabulary — the number an LLM data pipeline budgets, mixes, and
    packs by (functions/text.py's whitespace/regex counters stay as the
    cheap first-pass proxies). Trains the same 12 merges as
    q_bpe_merge_table, derives the word→token-count dictionary from the
    final training state (the vocabulary table IS the dictionary — no
    second corpus pass; trained once per corpus via `_bpe_trained`),
    and hash-joins it back to the exploded corpus (AQE picks broadcast
    when the dictionary is small). The DuckDB twin replays training
    AND application from the same CTE chain."""
    docs = _t(spark, sf_dir, "documents")
    _, final_state = _bpe_trained(spark, sf_dir)
    counts = tokenizer.doc_token_counts(
        docs, tokenizer.token_dict(final_state)
    )
    return counts.select("doc_id", "n_tokens", "n_words")


def _pack_bpe_budget_oracle_sql() -> str:
    """DuckDB twin of q_pack_bpe_budget: the shared BPE training chain,
    dictionary application with the character-count fallback, the lang
    join, and the running-sum 2048-token bin assignment."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{_BPE_MERGES}),
        dw AS (SELECT doc_id, word FROM (
                   SELECT doc_id,
                          unnest(string_split_regex(lower(text),
                                                    '[^a-z0-9]+')) AS word
                   FROM documents)
               WHERE word <> ''),
        tc AS (SELECT dw.doc_id,
                      CAST(SUM(COALESCE(d.tok_n, length(dw.word)))
                           AS BIGINT) AS n_tokens
               FROM dw LEFT JOIN dict d ON d.word = dw.word
               GROUP BY dw.doc_id),
        t AS (SELECT doc.doc_id, doc.lang, tc.n_tokens
              FROM documents doc JOIN tc ON tc.doc_id = doc.doc_id),
        c AS (SELECT lang, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
              FROM t)
        SELECT lang,
               CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        FROM c GROUP BY 1, 2
    """


@query(_pack_bpe_budget_oracle_sql)
def q_pack_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the corpus's OWN TRAINED BPE vocabulary —
    the composition a real pre-training pipeline runs (whitespace
    counts are the cheap proxy `pack_token_budget` packs by; the model
    consumes TRUE tokenizer tokens, and packing by the proxy over- or
    under-fills every 2048-token context window by the words-per-token
    drift): train the 12 merges (one corpus shuffle + vocab-sized
    iterations), hash-join the word→token-count dictionary back to the
    corpus for exact per-doc n_tokens, then cut the doc_id-ordered
    per-language token stream at 2048-token boundaries
    (sampling.contiguous_pack — the distributed prefix-sum bin
    assignment) and report the per-bin census. Documents with no
    [a-z0-9] words carry no tokens and drop from the stream in both
    engines. The DuckDB twin replays training, dictionary application,
    and the running-sum packing in one chain (the Spark side reads the
    shared `_bpe_trained` state — trained once per corpus)."""
    docs = _t(spark, sf_dir, "documents")
    _, final_state = _bpe_trained(spark, sf_dir)
    counts = tokenizer.doc_token_counts(
        docs, tokenizer.token_dict(final_state)
    )
    t = docs.select("doc_id", "lang").join(
        counts.select("doc_id", "n_tokens"), "doc_id"
    )
    packed = sampling.contiguous_pack(
        t, "n_tokens", 2048, "doc_id", partition_cols=("lang",)
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


def _bpe_train_ctes() -> str:
    """The SQL-replayed BPE TRAINING CHAIN shared by both tokenizer
    twins: vocab build (v0 = char-wrapped distinct words), then per
    merge t: p{t} adjacent pairs via 1-based list indexing over a
    lateral range unnest, b{t} the argmax row (count DESC, a, b), v{t}
    the leftmost-non-overlapping replace applied via a 1-row cross
    join. MATERIALIZED throughout — each level is referenced by the
    next pair count AND the next replace, so plain inlining would
    re-evaluate the chain exponentially (the Lloyd-chain lesson).
    Emits v0..v{N} and b1..b{N}."""
    iters = []
    for t in range(1, _BPE_MERGES + 1):
        p = t - 1
        iters.append(f"""
        p{t} AS (SELECT t[i] AS a, t[i + 1] AS b, freq FROM (
                    SELECT string_split(substring(enc, 2, length(enc) - 2),
                                        ')(') AS t, freq
                    FROM v{p}) tt,
                    UNNEST(range(1, len(tt.t))) AS r(i)),
        b{t} AS MATERIALIZED (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
                FROM p{t} GROUP BY a, b
                ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
        v{t} AS MATERIALIZED (SELECT v.word,
                       replace(v.enc, '(' || b.a || ')(' || b.b || ')',
                               '(' || b.a || b.b || ')') AS enc,
                       v.freq
                FROM v{p} v, b{t} b)""")
    chain = ",".join(iters)
    return f"""
        w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
               FROM (SELECT unnest(string_split_regex(lower(text),
                                                      '[^a-z0-9]+')) AS word
                     FROM documents)
               WHERE word <> '' GROUP BY word),
        v0 AS MATERIALIZED (SELECT word,
                    regexp_replace(word, '(.)', '(\\1)', 'g') AS enc,
                    freq
               FROM w),
        {chain}"""


def _bpe_encode_docs_oracle_sql() -> str:
    """DuckDB twin of q_bpe_encode_docs: the shared BPE training chain,
    the word → pipe-joined token sequence dictionary off the final
    state, the position-keyed corpus explode, the char-sequence
    fallback for absent words, and the per-doc position-ordered
    string_agg."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        replace(substring(enc, 2, length(enc) - 2),
                                ')(', '|') AS toks,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{_BPE_MERGES}),
        dw AS (SELECT doc_id, i AS pos, ws[i] AS word
               FROM (SELECT doc_id,
                            string_split_regex(lower(text),
                                               '[^a-z0-9]+') AS ws
                     FROM documents) tt,
                    UNNEST(range(1, len(tt.ws) + 1)) AS r(i)
               WHERE ws[i] <> '')
        SELECT dw.doc_id,
               string_agg(
                   COALESCE(d.toks,
                            array_to_string(string_split(dw.word, ''),
                                            '|')),
                   '|' ORDER BY dw.pos) AS tokens,
               CAST(SUM(COALESCE(d.tok_n, length(dw.word))) AS BIGINT)
                   AS n_tokens
        FROM dw LEFT JOIN dict d ON d.word = dw.word
        GROUP BY dw.doc_id
        ORDER BY dw.doc_id
    """


@query(_bpe_encode_docs_oracle_sql)
def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc → token-ID ENCODING under the corpus's own trained BPE
    vocabulary (the r13 verdict's task 2 — the operator a pre-training
    pipeline runs before writing shards: bpe_merge_table trains,
    bpe_token_counts budgets, pack_bpe_budget packs; this emits the
    ACTUAL per-document token sequence). Trains the same 12 merges,
    derives the word → ordered-token-sequence dictionary from the
    final training state (tokenizer.token_dict_seq — the parenthesis
    encoding splits to a pipe-joined token string), and hash-joins it
    back to the posexploded corpus so each document's tokens
    concatenate in word order into one byte-comparable string. Words
    absent from the dictionary fall back to their character sequence;
    documents with no [a-z0-9] words drop (the pack_bpe_budget
    convention). Round-trip law pinned in tests/test_tokenizer.py:
    tokens with pipes removed == the normalized word stream. The
    DuckDB twin replays training, the sequence dictionary, and the
    position-ordered string_agg (the Spark side reads the shared
    `_bpe_trained` state — trained once per corpus)."""
    docs = _t(spark, sf_dir, "documents")
    _, final_state = _bpe_trained(spark, sf_dir)
    encoded = tokenizer.encode_docs(
        docs, tokenizer.token_dict_seq(final_state)
    )
    return encoded.select("doc_id", "tokens", "n_tokens")


def _streaming_token_budget_oracle_sql() -> str:
    """DuckDB twin of q_streaming_token_budget: the shared BPE training
    chain, the dictionary off the final state, application to the
    exploded corpus with the character-count fallback, aggregated per
    source — what every micro-batch's partials sum to."""
    return f"""
        WITH {_bpe_train_ctes()},
        dict AS (SELECT word,
                        CAST(len(string_split(
                            substring(enc, 2, length(enc) - 2),
                            ')(')) AS BIGINT) AS tok_n
                 FROM v{_BPE_MERGES}),
        dw AS (SELECT doc_id, source, word FROM (
                   SELECT doc_id, source,
                          unnest(string_split_regex(lower(text),
                                                    '[^a-z0-9]+')) AS word
                   FROM documents)
               WHERE word <> ''),
        wtot AS (SELECT source,
                        CAST(SUM(COALESCE(d.tok_n, length(dw.word)))
                             AS BIGINT) AS n_tokens,
                        CAST(COUNT(*) AS BIGINT) AS n_words
                 FROM dw LEFT JOIN dict d ON d.word = dw.word
                 GROUP BY source),
        dtot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY source)
        SELECT w.source, w.n_tokens, w.n_words, d.n_docs
        FROM wtot w JOIN dtot d ON d.source = w.source
        ORDER BY w.source
    """


@query(_streaming_token_budget_oracle_sql)
def q_streaming_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET metering AS A STREAM under the corpus's own trained
    BPE vocabulary (streaming.token_budget_sink) — the ingest-side
    companion of bpe_token_counts: the 12-merge dictionary trains once
    and persists (the same SQL-replayed training), documents arrive as
    a 3-slice file stream, each micro-batch joins the broadcast
    dictionary and appends per-source partials, and the serving view
    sums them. Associative sums make the totals batching-independent,
    so the DuckDB twin — training chain + dictionary application +
    per-source aggregation — pins streamed metering ≡ batch ≡ SQL
    replay in one hash."""
    bpe = _bpe_root(spark, sf_dir)
    # each artifact passes its upstream path, so a retrained dictionary
    # reaches the partials (keyed on the documents alone, they served
    # the old dictionary's totals after _BPE_MERGES changed)
    dict_path = materialize(
        "bpedict", sf_dir, [], {"bpe": bpe},
        lambda p: tokenizer.token_dict(
            spark.read.parquet(f"{bpe}/state")
        ).write.mode("overwrite").parquet(p),
    )

    def slices(stage: str) -> None:
        docs = _t(spark, sf_dir, "documents")
        for part in range(3):
            docs.filter(F.col("doc_id") % 3 == part).select(
                "doc_id", "text", "source"
            ).coalesce(1).write.mode("append").parquet(stage)

    stage = materialize(
        "tokbudget_src", sf_dir, [f"{sf_dir}/documents.parquet"], {}, slices
    )
    work = materialize(
        "tokbudget_out", sf_dir, [], {"src": stage, "dict": dict_path},
        lambda w: streaming.drain_to_sink(
            spark, stage, "doc_id long, text string, source string",
            streaming.token_budget_sink(dict_path, os.path.join(w, "partials")),
            os.path.join(w, "ckpt"),
        ),
    )
    return streaming.token_budget_view(
        spark, os.path.join(work, "partials")
    ).orderBy("source")
