"""Text-analysis expression unit tests (token counts, quality, shingles,
fingerprints) on known strings."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)


def _one(spark, s, col_expr):
    return spark.createDataFrame([(s,)], "text STRING").select(
        col_expr.alias("v")
    ).first().v


def test_whitespace_token_count(spark):
    assert _one(spark, "a b  c", textf.whitespace_token_count("text")) == 3
    assert _one(spark, "   ", textf.whitespace_token_count("text")) == 0
    assert _one(spark, "", textf.whitespace_token_count("text")) == 0
    assert _one(spark, "single", textf.whitespace_token_count("text")) == 1


def test_regex_token_count(spark):
    # letters run + digits run + symbol each count once
    assert _one(spark, "ab12!", textf.regex_token_count("text")) == 3
    assert _one(spark, "hello, world", textf.regex_token_count("text")) == 3


def test_stopword_hits_word_bounded(spark):
    hits = textf.stopword_hits("text", ["the", "and"])
    assert _one(spark, "the cat and the dog", hits) == 3
    # 'theme' must not count as 'the'
    assert _one(spark, "theme park", hits) == 0


def test_quality_score_bounds(spark):
    for s in ["", "short", "a " * 300, "!!!???##@@", "normal words of decent length here"]:
        v = _one(spark, s, textf.quality_score("text"))
        assert 0.0 <= v <= 1.0, (s, v)


def test_normalized_fingerprint_collapses_whitespace_and_case(spark):
    fp = lambda s: _one(spark, s, textf.normalized_fingerprint("text"))
    assert fp("Hello   World") == fp("hello world") == fp("  hello\tworld  ")
    assert fp("hello world") != fp("hello worlds")


def test_shingles_basic(spark):
    got = _one(spark, "a b c d", textf.shingles("text", 3))
    assert got == ["a b c", "b c d"]


def test_shingles_short_doc_single_shingle(spark):
    assert _one(spark, "a b", textf.shingles("text", 3)) == ["a b"]


def test_shingles_equivalent_to_words_form(spark):
    df = spark.createDataFrame(
        [("The quick brown fox jumps over the lazy dog",), ("one two",)],
        "text STRING",
    )
    a = df.select(textf.shingles("text", 3).alias("s")).collect()
    b = df.select(
        textf.shingles_from_words(textf.split_words("text"), 3).alias("s")
    ).collect()
    assert a == b


def test_mask_pii_emails_and_phones(spark):
    rows = [
        (0, "write to alice.smith+spam@mail.example.co.uk today"),
        (1, "call +1 (555) 010-1234 or 555-010-9999 now"),
        (2, "no pii here at all"),
        (3, "mixed: bob@x.io and +44 20 7946 0958 ok"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: r.m
        for r in df.select("id", textf.mask_pii("t").alias("m")).collect()
    }
    assert got[0] == "write to <EMAIL> today"
    assert "<PHONE>" in got[1] and "555" not in got[1]
    assert got[2] == "no pii here at all"
    assert "<EMAIL>" in got[3] and "<PHONE>" in got[3]
    assert "bob@" not in got[3]


def test_normalize_text_urls_case_whitespace(spark):
    df = spark.createDataFrame(
        [(0, "  See https://Example.com/A?b=1   NOW\t\tplease ")],
        "id long, t string",
    )
    out = df.select(textf.normalize_text("t").alias("n")).head().n
    assert out == "see now please"


def test_winnowing_fast_query_same_shape_as_md5_twin(spark):
    """The xxhash64 production query must emit the same docs and a
    comparable fingerprint density as the oracle-green md5 twin (values
    differ by hash family; the shared winnow_mins mechanism and the
    reference test above pin selection)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    fast = entrymod.queries()["winnowing_fingerprints_fast"](spark, sf)
    slow = entrymod.queries()["winnowing_fingerprints"](spark, sf)
    f_docs = {r.doc_id: r.n for r in fast.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    s_docs = {r.doc_id: r.n for r in slow.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert set(f_docs) == set(s_docs)
    # which grams win each window is a per-family random permutation, so
    # per-doc counts vary (both are ~2n/(w+1) in expectation); corpus
    # density must agree tightly and no doc may diverge wildly
    total_f, total_s = sum(f_docs.values()), sum(s_docs.values())
    assert abs(total_f - total_s) / total_s < 0.10, (total_f, total_s)
    for d in f_docs:
        assert 0.4 <= f_docs[d] / s_docs[d] <= 2.5, (d, f_docs[d], s_docs[d])


def test_extract_domains_and_registered_domain(spark):
    df = spark.createDataFrame(
        [
            (1, "see https://CDN.Assets.Example.COM/x and "
                "http://a.org:8080/p?q=1 plus https://b.co.uk/"),
            (2, "no urls here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.doms
        for r in df.select(
            "doc_id", textf.extract_domains("text").alias("doms")
        ).collect()
    }
    assert got[1] == ["cdn.assets.example.com", "a.org", "b.co.uk"]
    assert got[2] == []
    base = (
        df.filter(F.col("doc_id") == 1)
        .select(
            F.transform(
                textf.extract_domains("text"),
                lambda d: textf.registered_domain(d),
            ).alias("b")
        )
        .collect()[0]
        .b
    )
    assert base == ["example.com", "a.org", "co.uk"]


def test_vocab_growth_zipf_profile_matches_python_reference(spark, tmp_path):
    """The Heaps curve + Zipf slope against a pure-python third
    implementation on a synthetic corpus with known structure: the
    first-occurrence decile bucketing, the cumulative vocabulary, and
    the micro-quantized top-100 log-log regression must agree exactly;
    a Zipfian generator (freq of rank-r word ~ N/r) must land the
    slope near -1."""
    import math
    import re as _re

    import __spark_entry__ as entrymod

    # synthetic corpus: 40 docs; rank-r word "w{r}" appears ~120/r
    # times, spread round-robin over docs; plus per-doc unique words so
    # the vocabulary keeps growing across deciles
    n_docs = 40
    texts = {i: [] for i in range(n_docs)}
    for r in range(1, 61):
        for j in range(max(1, 120 // r)):
            texts[(r * 7 + j) % n_docs].append(f"w{r}")
    for i in range(n_docs):
        texts[i].append(f"uniq{i}")
    rows = [(i, " ".join(texts[i])) for i in range(n_docs)]
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "synth",
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    got = entrymod.queries()["vocab_growth_zipf_profile"](
        spark, str(tmp_path)
    ).collect()

    # python reference
    first, freq = {}, {}
    for did, text in rows:
        for w in _re.split(r"[^a-z0-9]+", text.lower()):
            if not w:
                continue
            freq[w] = freq.get(w, 0) + 1
            if w not in first or first[w] > did:
                first[w] = min(first.get(w, did), did)
    lo, hi = 0, n_docs - 1
    per_dec = {}
    for w, fd in first.items():
        d = ((fd - lo) * 10) // (hi - lo + 1) + 1
        per_dec[d] = per_dec.get(d, 0) + 1
    cum, curve = 0, {}
    for d in range(1, 11):
        cum += per_dec.get(d, 0)
        curve[d] = (per_dec.get(d, 0), cum)
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    xs = [math.floor(math.log(i + 1) * 1e6 + 0.5) for i in range(len(top))]
    ys = [math.floor(math.log(f) * 1e6 + 0.5) for _, f in top]
    n = len(top)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = math.floor(1e6 * (n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5)

    assert [(r.decile, r.new_words, r.vocab_size) for r in got] == [
        (d, curve[d][0], curve[d][1]) for d in range(1, 11)
    ]
    assert all(r.zipf_slope_micro == slope for r in got)
    # the Zipfian generator should land near the canonical s = -1
    assert -1_300_000 < slope < -700_000
    # and the curve keeps growing (the per-doc unique words)
    assert got[-1].vocab_size > got[0].vocab_size > 0


def test_source_overlap_matrix_known_construction(spark, tmp_path):
    """Cross-source overlap against a corpus built with KNOWN shingle
    structure: sources A and B share exactly the shingles of one
    common document; C is disjoint from both — the matrix must report
    the exact common counts, the zero row for the disjoint pairs, and
    the documented integer ppm formulas (python third implementation
    of the same <3-word whole-doc chunking)."""
    import itertools
    import pandas as pd

    import __spark_entry__ as entrymod

    def sh(text):
        words = text.strip().lower().split()
        if len(words) < 3:
            return {" ".join(words)}
        return {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        }

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "A"),
        (1, "pack my box with five dozen liquor jugs", "A"),
        (2, "the quick brown fox jumps over the lazy dog", "B"),
        (3, "sphinx of black quartz judge my vow today ok", "B"),
        (4, "completely disjoint shingle universe lives here now then", "C"),
        (5, "tiny doc", "C"),
    ]
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": [r[2] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    got = {
        (r.src_a, r.src_b): r
        for r in entrymod.queries()["source_overlap_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    grams = {}
    for _, text, src in rows:
        grams.setdefault(src, set()).update(sh(text))
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    for sa, sb in itertools.combinations("ABC", 2):
        g = got[(sa, sb)]
        common = len(grams[sa] & grams[sb])
        union = len(grams[sa] | grams[sb])
        assert (g.grams_a, g.grams_b) == (len(grams[sa]), len(grams[sb]))
        assert g.n_common == common
        assert g.jaccard_ppm == (common * 1_000_000) // union
        assert g.containment_ppm == (common * 1_000_000) // min(
            len(grams[sa]), len(grams[sb])
        )
    # A∩B is exactly doc 0's shingle set; C overlaps nobody
    assert got[("A", "B")].n_common == len(sh(rows[0][1]))
    assert got[("A", "C")].n_common == 0
    assert got[("B", "C")].n_common == 0
