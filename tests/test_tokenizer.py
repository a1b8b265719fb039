"""BPE tokenizer trainer: third-implementation parity + the semantics
pins the oracle contract leans on (leftmost-non-overlapping merge,
lexicographic tie-break, paren-encoding structural safety)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (  # noqa: E501
    tokenizer,
)

SF = "/root/testdata/sf0.001"


# -- pure-python reference (third implementation, list-of-tokens form —
#    shares NO string/replace machinery with the Spark or DuckDB sides)


def _ref_merge_word(toks: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _ref_bpe(
    word_freqs: dict[str, int], n_merges: int
) -> tuple[list[tuple[str, str, int]], dict[str, list[str]]]:
    state = {w: list(w) for w in word_freqs}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, toks in state.items():
            f = word_freqs[w]
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        state = {w: _ref_merge_word(t, a, b) for w, t in state.items()}
    return merges, state


def _ref_vocab(spark) -> dict[str, int]:
    import re

    rows = spark.read.parquet(f"{SF}/documents.parquet").select("text").collect()
    freqs: dict[str, int] = {}
    for r in rows:
        for w in re.split("[^a-z0-9]+", r["text"].lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    return freqs


def test_merge_table_matches_python_reference(spark):
    freqs = _ref_vocab(spark)
    ref_merges, _ = _ref_bpe(freqs, 12)
    vocab = tokenizer.word_vocab(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    got_merges, _ = tokenizer.train_bpe_merges(vocab, 12)
    assert got_merges == ref_merges


def test_token_counts_match_python_reference(spark):
    freqs = _ref_vocab(spark)
    _, ref_state = _ref_bpe(freqs, 12)
    vocab = tokenizer.word_vocab(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    _, final = tokenizer.train_bpe_merges(vocab, 12)
    got = {
        r["word"]: r["tok_n"]
        for r in tokenizer.token_dict(final).collect()
    }
    assert got == {w: len(t) for w, t in ref_state.items()}
    # structural safety: re-concatenating a word's tokens yields the
    # word (no paren leaked into a token, no char lost)
    for r in final.collect():
        toks = r["enc"][1:-1].split(")(")
        assert "".join(toks) == r["word"]
        assert all("(" not in t and ")" not in t for t in toks)


def test_merge_is_leftmost_non_overlapping(spark):
    # 'aaa' + merge (a,a) must become ['aa','a'], never ['a','aa'] or
    # a rescan into ['aaa'] — the exact semantics both engines' replace
    # shares and the oracle contract states
    st = spark.createDataFrame(
        [("aaa", "(a)(a)(a)", 1), ("abab", "(a)(b)(a)(b)", 1)],
        "word string, enc string, freq long",
    )
    got = {
        r["word"]: r["enc"]
        for r in tokenizer.apply_merge(st, "a", "a").collect()
    }
    assert got["aaa"] == "(aa)(a)"
    got2 = {
        r["word"]: r["enc"]
        for r in tokenizer.apply_merge(st, "a", "b").collect()
    }
    # adjacent matches share no characters in the paren encoding, so
    # BOTH (a,b) occurrences merge in one pass
    assert got2["abab"] == "(ab)(ab)"


def test_pair_pattern_cannot_cross_token_boundaries(spark):
    # '(a)(bc)' must NOT fire merge (a,b) (prefix of a longer token),
    # and '(xa)(b)' must NOT fire it either (suffix) — the structural
    # guarantee the paren encoding exists to provide
    st = spark.createDataFrame(
        [("abc", "(a)(bc)", 1), ("xab", "(xa)(b)", 1)],
        "word string, enc string, freq long",
    )
    got = {
        r["word"]: r["enc"]
        for r in tokenizer.apply_merge(st, "a", "b").collect()
    }
    assert got == {"abc": "(a)(bc)", "xab": "(xa)(b)"}


def test_argmax_tie_breaks_lexicographic(spark):
    # 'zy' and 'ab' each occur twice → tied pair counts; the winner
    # must be ('a','b'), the lexicographically smallest pair
    vocab = spark.createDataFrame(
        [("zy", 2), ("ab", 2)], "word string, freq long"
    )
    merges, _ = tokenizer.train_bpe_merges(vocab, 1)
    assert merges == [("a", "b", 2)]


def test_train_stops_on_degenerate_vocab(spark):
    # all-single-character vocabulary: no adjacent pair exists — the
    # trainer returns an empty merge list instead of spinning
    vocab = spark.createDataFrame(
        [("a", 5), ("b", 3)], "word string, freq long"
    )
    merges, final = tokenizer.train_bpe_merges(vocab, 4)
    assert merges == []
    assert {r["enc"] for r in final.collect()} == {"(a)", "(b)"}


def test_doc_token_counts_fallback_for_unseen_words(spark):
    # a word absent from the dictionary counts as its characters (the
    # exact count an un-merged word gets)
    docs = spark.createDataFrame(
        [(1, "the the zq")], "doc_id long, text string"
    )
    dictionary = spark.createDataFrame(
        [("the", 1)], "word string, tok_n long"
    )
    got = tokenizer.doc_token_counts(docs, dictionary).collect()
    assert [(r["doc_id"], r["n_tokens"], r["n_words"]) for r in got] == [
        (1, 1 + 1 + 2, 3)
    ]


def test_vocab_is_corpus_weighted(spark):
    docs = spark.createDataFrame(
        [(1, "go go stop"), (2, "Go, STOP!")], "doc_id long, text string"
    )
    got = {
        r["word"]: r["freq"]
        for r in tokenizer.word_vocab(docs).collect()
    }
    # lowercasing + non-alnum splitting fold 'Go,' and 'STOP!' in
    assert got == {"go": 3, "stop": 2}


def test_encode_docs_matches_python_reference_and_round_trips(spark):
    """bpe_encode_docs (r13-verdict task 2): the per-document ordered
    token sequence matches the pure-python third implementation, and
    the round-trip law holds — tokens with the pipes removed equal the
    document's normalized word stream concatenated."""
    import re

    freqs = _ref_vocab(spark)
    _, ref_state = _ref_bpe(freqs, 12)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = tokenizer.word_vocab(docs)
    _, final = tokenizer.train_bpe_merges(vocab, 12)
    got = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in tokenizer.encode_docs(
            docs, tokenizer.token_dict_seq(final)
        ).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    n_checked = 0
    for doc_id, text in texts.items():
        words = [w for w in re.split("[^a-z0-9]+", text.lower()) if w]
        if not words:
            assert doc_id not in got  # no-token docs drop
            continue
        ref_toks = [t for w in words for t in ref_state[w]]
        tokens, n_tokens = got[doc_id]
        assert tokens == "|".join(ref_toks)
        assert n_tokens == len(ref_toks)
        # round-trip law: pipes out == normalized word stream
        assert tokens.replace("|", "") == "".join(words)
        n_checked += 1
    assert n_checked > 0 and len(got) == n_checked


def test_encode_docs_fallback_for_unseen_words(spark):
    # a word absent from the dictionary encodes as its character
    # sequence, in place, in document order
    docs = spark.createDataFrame(
        [(1, "the zq the")], "doc_id long, text string"
    )
    dictionary = spark.createDataFrame(
        [("the", "th|e", 2)], "word string, toks string, tok_n long"
    )
    got = tokenizer.encode_docs(docs, dictionary).collect()
    assert [(r["doc_id"], r["tokens"], r["n_tokens"]) for r in got] == [
        (1, "th|e|z|q|th|e", 6)
    ]


def test_bpe_trained_artifact_invalidates_on_merge_depth_change(
    spark, monkeypatch
):
    """r14 advice regression: the shared `_bpe_trained` artifact used to
    be keyed on the documents parquet alone, so changing _BPE_MERGES (or
    the training code) silently served a stale artifact to every
    BPE-family query. The fingerprint now folds in the merge depth and
    a tokenizer-source digest: bumping the depth must retrain (deeper
    merge table), and restoring it must retrain AGAIN rather than serve
    the deeper state."""
    from catalog import tokenizer as catalog_tokenizer
    from catalog.tokenizer import _bpe_trained

    sf_dir = "/root/testdata/sf0.001"
    merges, _ = _bpe_trained(spark, sf_dir)
    assert merges.count() == catalog_tokenizer._BPE_MERGES

    monkeypatch.setattr(
        catalog_tokenizer, "_BPE_MERGES", catalog_tokenizer._BPE_MERGES + 1
    )
    deeper, _ = _bpe_trained(spark, sf_dir)
    assert deeper.count() == catalog_tokenizer._BPE_MERGES  # retrained, not stale

    monkeypatch.undo()
    back, _ = _bpe_trained(spark, sf_dir)
    assert back.count() == catalog_tokenizer._BPE_MERGES


def test_streaming_token_budget_follows_a_retrained_dictionary(
    spark, monkeypatch, tmp_path
):
    """The memoized token-budget stream (dictionary, staged source,
    partials) used to be keyed on the documents parquet alone: after
    _BPE_MERGES changed, `_bpe_trained` retrained but the stream kept
    serving the old dictionary's totals. Each artifact now passes its
    upstream path as a key param, so a deeper training reaches the
    served totals. Artifacts go to a private temp root, so the deeper
    build does not replace the shared ones other processes read."""
    import tempfile

    from catalog import tokenizer as catalog_tokenizer
    from catalog._common import _t
    from catalog.tokenizer import q_bpe_token_counts, q_streaming_token_budget

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"

    def stream_totals():
        rows = q_streaming_token_budget(spark, sf_dir).collect()
        return {r["source"]: r["n_tokens"] for r in rows}

    def batch_totals():
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "source"
        )
        counts = q_bpe_token_counts(spark, sf_dir)
        rows = (
            counts.join(docs, "doc_id")
            .groupBy("source")
            .agg(F.sum("n_tokens").alias("n"))
            .collect()
        )
        return {r["source"]: r["n"] for r in rows}

    shallow = stream_totals()  # warms every memoized artifact
    assert shallow == batch_totals()

    monkeypatch.setattr(
        catalog_tokenizer, "_BPE_MERGES", catalog_tokenizer._BPE_MERGES + 1
    )
    deeper = stream_totals()
    assert deeper == batch_totals()
    assert deeper != shallow  # one merge more: fewer tokens somewhere


def test_fertility_report_consistent_with_doc_counts(spark):
    """The per-language fertility audit is an exact re-aggregation of
    the same trained-dictionary token counts doc_token_counts budgets
    by: per-language word/token totals must equal the python fold over
    the per-doc counts joined to lang; the ratios are the documented
    integer formulas; fertility >= 1e6 (every word is >= 1 token) and
    chars/token >= 1e6 (every token is >= 1 char); the language token
    shares sum to 1e6 up to |langs| floor-truncations."""
    import __spark_entry__ as entrymod
    from catalog.tokenizer import _bpe_trained

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r.lang: r
        for r in entrymod.queries()["tokenizer_fertility_report"](
            spark, sf_dir
        ).collect()
    }

    _, final_state = _bpe_trained(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_doc = tokenizer.doc_token_counts(
        docs, tokenizer.token_dict(final_state)
    )
    ref = {
        r.lang: r
        for r in docs.select("doc_id", "lang")
        .join(per_doc, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("w"),
            F.sum("n_tokens").alias("t"),
        )
        .collect()
    }
    # langs with zero [a-z0-9] words drop from the report
    assert set(got) == {k for k, v in ref.items() if v.w > 0}
    tot = sum(r.t for r in ref.values())
    for lang, r in ref.items():
        g = got[lang]
        assert (g.n_words, g.n_tokens) == (r.w, r.t)
        assert g.fertility_micro == (r.t * 1_000_000) // r.w
        assert g.fertility_micro >= 1_000_000
        assert g.chars_per_token_micro >= 1_000_000
        assert g.chars_per_token_micro == (g.n_chars * 1_000_000) // r.t
        assert g.token_share_ppm == (r.t * 1_000_000) // tot
    share_sum = sum(g.token_share_ppm for g in got.values())
    assert 1_000_000 - len(got) <= share_sum <= 1_000_000
    # doc census covers the corpus (every testdata doc has words)
    assert sum(g.n_docs for g in got.values()) == docs.count()
