"""Byte-pair-encoding tokenizer training + token counting, Spark-first.

The reference pipeline (337 LoC of sensor ETL — `data_collector.py`,
`dataframe_to_kafka.py`, `spark_streaming_kafka.py`) has no text
tokenizer; this module is part of the mandated LLM-training-data
extension surface: token counting under the corpus's OWN trained
vocabulary — the number every data pipeline budgets, mixes, and packs
by — rather than a fixed whitespace proxy (functions/text.py keeps
those as the cheap first-pass filters).

Algorithm (Sennrich, Haddow & Birch, ACL 2016 — "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly merge the most frequent ADJACENT token pair across the
corpus, weighted by word frequency. This implementation trains on the
distinct-word frequency table (the classical formulation), so the
iterative part never touches the corpus again:

  corpus ──explode/groupBy──▶ vocab(word, freq)   [ONE corpus shuffle]
  vocab ──n_merges × (pair-count agg + 1-row argmax)──▶ merge table
  vocab'(word → token count) ──hash-join back──▶ per-doc token counts

Scale shape at 100 TB: the corpus-sized work is exactly two shuffles —
the vocab build (map-side-combined groupBy over exploded words; the
distinct-word table is 10⁶–10⁸ rows whatever the corpus size) and the
final dictionary join (AQE picks broadcast vs sort-merge by the
dictionary's real size). Each training iteration is a distributed
aggregation over the VOCAB only, with a 1-row argmax collect (the
bounded-scalar class); the merge application is a narrow chained
`replace`. Nothing in the loop scales with corpus bytes.

Determinism contract (the house rule — every quantity either an exact
integer or a byte-equal string, so a DuckDB twin replays TRAINING
itself):
- pair counts are exact BIGINT sums;
- argmax ties break (count DESC, pair_a ASC, pair_b ASC) — binary
  collation on a [a-z0-9] alphabet, identical in both engines;
- the merge step is `replace(enc, '(a)(b)', '(ab)')` over the
  parenthesis-delimited token encoding, and both Spark's `replace` and
  DuckDB's `replace` scan LEFTMOST NON-OVERLAPPING — which is exactly
  the original BPE merge semantics within a word ("aaa" + merge (a,a)
  → ["aa","a"]), pinned in tests/test_tokenizer.py against a pure-
  python third implementation.

The '(tok)(tok)' encoding is what makes a single `replace` safe: every
token occurrence is wrapped, so a pair pattern can never match a token
PREFIX ('(a)(b)' cannot fire on '(a)(bc)' — the closing paren
mismatches), never a SUFFIX ('(xa)(b)' has 'x' where the pattern needs
'('), and adjacent matches share no characters ('(a)(b)(a)(b)' → both
merge). Tokens are restricted to [a-z0-9] by the pre-tokenizer, so the
structural parens cannot appear inside a token.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: pre-tokenizer: lowercase, split on runs of anything outside the
#: token alphabet. [a-z0-9] is load-bearing — see the module docstring.
WORD_SPLIT_REGEX = "[^a-z0-9]+"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) distinct-word frequency table — the ONE pass over
    corpus bytes in BPE training. Map-side combine applies (partial
    count before the shuffle); the output is vocabulary-sized."""
    words = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT_REGEX)).alias(
            "word"
        )
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )


def encode_chars(word: Column | str) -> Column:
    """Initial BPE state: each character wrapped as a token —
    'the' → '(t)(h)(e)'."""
    col = F.col(word) if isinstance(word, str) else word
    return F.regexp_replace(col, "(.)", "($1)")


def _tokens(enc: Column | str) -> Column:
    """'(t)(h)(e)' → ['t','h','e'] (split the interior on ')(')."""
    col = F.col(enc) if isinstance(enc, str) else enc
    return F.split(
        col.substr(F.lit(2), F.length(col) - F.lit(2)), r"\)\("
    )


def adjacent_pair_counts(state: DataFrame) -> DataFrame:
    """(a, b, cnt): corpus-weighted adjacent-token-pair counts over a
    (word, enc, freq) training state. All JVM-side: split + element_at
    over a generated index sequence, then a map-side-combined sum."""
    t = _tokens(F.col("enc"))
    pairs = (
        state.select(t.alias("t"), "freq")
        .filter(F.size("t") > 1)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, "
                    "element_at(t, i + 1) AS b))"
                )
            ).alias("p"),
            "freq",
        )
    )
    return pairs.groupBy("p.a", "p.b").agg(
        F.sum("freq").cast("long").alias("cnt")
    )


def apply_merge(state: DataFrame, a: str, b: str) -> DataFrame:
    """One BPE merge over the encoded state: leftmost-non-overlapping
    replace of '(a)(b)' with '(ab)' — narrow (no shuffle)."""
    return state.withColumn(
        "enc",
        F.replace(F.col("enc"), F.lit(f"({a})({b})"), F.lit(f"({a}{b})")),
    )


def train_bpe_merges(
    vocab: DataFrame, n_merges: int, rematerialize_every: int = 16
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train `n_merges` BPE merges over a (word, freq) vocabulary.

    Returns (merge list [(a, b, corpus_count)] in training order, final
    state DataFrame (word, enc, freq)). Each iteration runs ONE
    distributed pair-count aggregation over the vocabulary and collects
    ONE row (the argmax — the bounded-scalar collect class); the merge
    itself is a chained narrow `replace` over the persisted base state.
    Stops early (returns fewer merges) if no adjacent pair remains —
    a degenerate all-single-character vocabulary.

    `rematerialize_every` bounds the replace-chain length: without it,
    iteration i re-executes ALL i prior replaces from the persisted
    base (O(n_merges² · vocab) string work — invisible at 12 merges,
    dominant at the production 256–512; measured in
    tools/scaling.py bpe_chain). Every C merges the encoded state
    re-materializes via localCheckpoint, so total replace work is
    O(n_merges · C · vocab) and per-iteration cost stays flat in the
    merge index — the fix that keeps the loop vocabulary-bound, not
    chain-bound.

    EAGER: the argmax collects run at call time (training is inherently
    sequential — merge i changes the pair counts merge i+1 ranks)."""
    state = vocab.select(
        "word", encode_chars("word").alias("enc"), "freq"
    ).persist()
    merges: list[tuple[str, str, int]] = []
    try:
        cur = state
        chain = 0
        for _ in range(int(n_merges)):
            best = (
                adjacent_pair_counts(cur)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merges.append((a, b, cnt))
            cur = apply_merge(cur, a, b)
            chain += 1
            if rematerialize_every and chain >= int(rematerialize_every):
                cur = cur.localCheckpoint(eager=True)
                chain = 0
        # materialize the final encodings BEFORE releasing the base
        # state — callers get a plain (word, enc, freq) frame whose
        # recomputation no longer depends on the persisted input
        final = cur.localCheckpoint(eager=True)
    finally:
        state.unpersist()
    return merges, final


def token_dict(final_state: DataFrame) -> DataFrame:
    """(word, tok_n): per-word token count under the trained merges —
    the dictionary the corpus-sized join consumes."""
    return final_state.select(
        "word", F.size(_tokens(F.col("enc"))).cast("long").alias("tok_n")
    )


def token_dict_seq(final_state: DataFrame) -> DataFrame:
    """(word, toks, tok_n): per-word ORDERED token sequence under the
    trained merges, pipe-joined ('th|e') — the dictionary the encoding
    join consumes. Derived from the same final training state as
    token_dict; tokens are [a-z0-9]+ so '|' can never appear inside
    one and the joined string splits back losslessly."""
    toks = _tokens(F.col("enc"))
    return final_state.select(
        "word",
        F.array_join(toks, "|").alias("toks"),
        F.size(toks).cast("long").alias("tok_n"),
    )


def encode_docs(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens, n_tokens): the ACTUAL per-document token sequence
    under a trained BPE dictionary — the operator a pre-training
    pipeline runs before writing shards (doc_token_counts budgets by
    the count; this emits the sequence itself, pipe-joined in document
    word order so the result is one byte-comparable string per doc).

    Corpus-sized work: posexplode (word order kept as `pos`), ONE
    dictionary equi-join (AQE picks broadcast while the dictionary is
    small), and a per-doc sort-by-position aggregation — the same
    single-shuffle shape as doc_token_counts plus the order-preserving
    struct sort inside the groupBy. Words absent from the dictionary
    (corpus drift after training) fall back to their character
    sequence — exactly the tokens an un-merged word carries.
    Documents with no [a-z0-9] words carry no tokens and drop, the
    pack_bpe_budget convention. Round-trip law (pinned in
    tests/test_tokenizer.py): tokens with the pipes removed equal the
    normalized word stream concatenated."""
    words = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), WORD_SPLIT_REGEX)
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    char_toks = _tokens(encode_chars(F.col("word")))
    joined = words.join(dictionary, "word", "left").select(
        id_col,
        "pos",
        F.coalesce(
            F.col("toks"), F.array_join(char_toks, "|")
        ).alias("toks"),
        F.coalesce(F.col("tok_n"), F.length("word").cast("long")).alias(
            "tok_n"
        ),
    )
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                lambda s: s["toks"],
            ),
            "|",
        ).alias("tokens"),
        F.sum("tok_n").cast("long").alias("n_tokens"),
    )


def doc_token_counts(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, n_words): per-document token counts under a
    trained BPE dictionary. The corpus-sized work is the explode + one
    dictionary equi-join (AQE picks broadcast when the dictionary is
    small) + the per-doc sum. Words absent from the dictionary (corpus
    drift after training) fall back to their character count — the
    exact count an un-merged word gets."""
    words = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), WORD_SPLIT_REGEX)
        ).alias("word"),
    ).filter(F.col("word") != "")
    joined = words.join(dictionary, "word", "left").select(
        id_col,
        F.coalesce(F.col("tok_n"), F.length("word").cast("long")).alias(
            "tok_n"
        ),
    )
    return joined.groupBy(id_col).agg(
        F.sum("tok_n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )
