"""Dedup operator tests: exact, MinHash-LSH (candidates + verified
pairs + hot-bucket cap), and a differential check of the single-pass
simhash fold against an independent per-bit formulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    dedup,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick  brown fox jumps over the lazy dog"),  # ws/case dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (4, "completely different content about databases and engines"),
    (5, "completely different content about databases and engines"),  # exact dup of 4
    (6, "unrelated short text"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")


def test_exact_dedup_groups_normalized_duplicates(spark):
    out = dedup.exact_dedup(_docs(spark)).collect()
    by_keep = {r.keep_id: r.dup_count for r in out}
    assert by_keep[1] == 2  # docs 1+2 collapse (whitespace/case-insensitive)
    assert by_keep[4] == 2  # docs 4+5
    assert by_keep[3] == 1 and by_keep[6] == 1
    assert len(out) == 4


def test_minhash_identical_docs_pair_with_jaccard_one(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_dedup_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # normalization happens in shingling
    assert pairs.get((4, 5)) == 1.0
    assert (1, 6) not in pairs and (4, 6) not in pairs


def test_minhash_near_dup_found_by_verification(spark):
    # docs 1 and 3 share 6 of 8 shingles (jaccard 0.6 over the union of 10)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_dedup_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert (1, 3) in pairs
    assert 0.3 <= pairs[(1, 3)] < 1.0


def test_minhash_candidates_est_jaccard_in_range(spark):
    cands = dedup.minhash_lsh_candidates(_docs(spark)).collect()
    assert cands, "identical docs must land in the same buckets"
    for r in cands:
        assert 0.0 <= r.est_jaccard <= 1.0


def test_minhash_hot_bucket_cap_drops_degenerate_buckets(spark):
    # 5 identical docs -> every band bucket has size 5; cap 4 drops them all
    clones = spark.createDataFrame(
        [(i, "same text in every document here") for i in range(5)],
        "doc_id BIGINT, text STRING",
    )
    capped = dedup.minhash_lsh_candidates(clones, max_bucket_size=4).count()
    uncapped = dedup.minhash_lsh_candidates(clones, max_bucket_size=None).count()
    assert capped == 0
    assert uncapped == 10  # all C(5,2) pairs


def test_simhash_single_pass_matches_per_bit_formulation(spark):
    """Differential: the folded 64-counter simhash must equal the naive
    bit-by-bit definition (sign of per-bit +1/-1 sums)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    df = _docs(spark).select("doc_id", dedup.simhash64(toks).alias("sig"))

    hashes = F.transform(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: F.xxhash64(t)
    )
    def bit_weight(b: int):
        # factory keeps the aggregate lambda 2-arg (pyspark maps extra
        # params to lambda variables) with b a Python literal
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    naive = F.lit(0).cast("long")
    for b in range(64):
        weight = bit_weight(b)
        mask = (1 << b) if b < 63 else -(1 << 63)
        naive = naive.bitwiseOR(
            F.when(weight > 0, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    ref = _docs(spark).select("doc_id", naive.alias("sig"))
    assert sorted(df.collect()) == sorted(ref.collect())


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3), pair {10,11}, isolated edge {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a BIGINT, id_b BIGINT"
    )
    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_pointer_jumping(spark):
    # 40-node chain: plain propagation needs 39 rounds; pointer jumping
    # must converge well inside max_iter=30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a BIGINT, id_b BIGINT"
    )
    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 41


def test_simhash_candidates_identical_docs_hamming_zero(spark):
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_candidates(_docs(spark)).collect()
    }
    assert out.get((4, 5)) == 0  # byte-identical docs


def test_simhash_from_hashes_small_nbits_positive_masks(spark):
    """Regression: _bit_masks(n) for n<64 must emit +2^(n-1) for the top
    bit, not the negated 64-bit sentinel (caught by the md5 differential
    twin — signatures came out negative for n_bits=60)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([([1, 1, 1],)], "h array<long>")
    out = df.select(dedup.simhash_from_hashes(F.col("h"), 8).alias("s")).head().s
    assert out == 1  # all tokens hash to 1 -> only bit 0 wins votes
    df2 = spark.createDataFrame([([1 << 7, 1 << 7],)], "h array<long>")
    out2 = df2.select(dedup.simhash_from_hashes(F.col("h"), 8).alias("s")).head().s
    assert out2 == 1 << 7  # top bit of an 8-bit simhash is +128, not negative


def test_contamination_hits_counts_shared_trigrams(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),        # benchmark (id % 2 == 0)
            (1, "the quick brown fox sleeps"),       # shares 2 trigrams w/ 0
            (3, "completely different words here"),  # shares none
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n_hits
        for r in dedup.contamination_hits(
            docs, (F.col("doc_id") % 2) == 0
        ).collect()
    }
    # doc 1's distinct trigrams: {the quick brown, quick brown fox,
    # brown fox sleeps} — first two appear in benchmark doc 0
    assert out == {1: 2}


def test_repetition_ratio_flags_repeated_trigrams(spark):
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
        text as textf,
    )

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "all words here are distinct tokens"), (3, "x")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.r
        for r in docs.select(
            "doc_id", textf.repetition_ratio("text").alias("r")
        ).collect()
    }
    assert out[1] == 0.5  # ["a a a","a a a"] -> 1 distinct of 2
    assert out[2] == 0.0
    assert out[3] == 0.0  # short doc -> single whole-text shingle


def test_incremental_components_equals_batch_recompute(spark):
    """3-batch replay: folding each batch of edges into the running
    (id, component) table must converge to exactly the from-scratch
    clustering of the union — including the hard cases: a later edge
    MERGING two established components, a brand-new node bridging two
    components, and an intra-component edge that must be a no-op."""
    batches = [
        # batch 1: two separate chains + an island pair
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        # batch 2: merge the 1-chain with the 10-chain; intra-component
        # no-op edge; a fresh pair
        [(3, 10), (1, 3), (30, 31)],
        # batch 3: new node 40 bridges the 20-cluster and the 30-cluster
        [(20, 40), (40, 30), (50, 51)],
    ]
    schema = "id_a long, id_b long"
    labels = spark.createDataFrame([], "id long, component long")
    for pairs in batches:
        labels = dedup.incremental_components(
            labels, spark.createDataFrame(pairs, schema)
        ).localCheckpoint()  # materialize the running state per batch
    all_pairs = spark.createDataFrame(
        [p for b in batches for p in b], schema
    )
    full = dedup.connected_components(all_pairs)
    got = sorted((r.id, r.component) for r in labels.collect())
    want = sorted((r.id, r.component) for r in full.collect())
    assert got == want
    # spot-check the semantics, not just the equivalence
    comp = dict(got)
    assert comp[11] == 1 and comp[40] == 20 and comp[31] == 20
    assert comp[50] == 50 and comp[51] == 50


def test_keep_best_policy_shape(spark):
    """The keep/drop election: clusters keep their highest-quality
    member (doc_id tie-break), singletons are their own component —
    exercised through connected_components + a window argmax, the
    same composition q_dedup_keep_best gates."""
    from pyspark.sql import Window

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.2), (11, 0.1), (99, 0.7)],
        "doc_id long, quality double",
    )
    comps = dedup.connected_components(edges).select(
        F.col("id").alias("doc_id"), "component"
    )
    full = quality.join(comps, "doc_id", "left").select(
        "doc_id",
        "quality",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    kept = {
        r.component: r.doc_id
        for r in full.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 0.9 -> smaller doc_id (2) kept
    assert kept[1] == 2
    # cluster {10,11}: higher quality (10) kept
    assert kept[10] == 10
    # singleton 99 keeps itself
    assert kept[99] == 99


def test_passage_dedup_elects_global_first_and_reconstructs(spark):
    # doc 1: passages A B (window=3 words each); doc 2 repeats A then
    # unique C; doc 3 is entirely doc 1's passage A. First occurrence
    # (smallest doc_id, pos) keeps; all later copies drop.
    A = "alpha beta gamma"
    B = "delta epsilon zeta"
    C = "eta theta iota"
    docs = spark.createDataFrame(
        [(1, f"{A} {B}"), (2, f"{A} {C}"), (3, A)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.passage_dedup(
            docs, text_col="text", id_col="doc_id", window_words=3
        ).collect()
    }
    assert out[1].n_passages == 2 and out[1].n_dup_passages == 0
    assert out[1].kept_text == f"{A} {B}"
    # doc 2: its copy of A is a duplicate (doc 1 pos 0 came first),
    # C survives — reconstruction keeps order
    assert out[2].n_passages == 2 and out[2].n_dup_passages == 1
    assert out[2].kept_text == C
    assert out[2].kept_words == 3
    # doc 3 loses everything
    assert out[3].n_passages == 1 and out[3].n_dup_passages == 1
    assert out[3].kept_text == "" and out[3].kept_words == 0


def test_passage_dedup_within_doc_repetition(spark):
    # the SAME passage repeated inside one document dedups to its
    # first position too (pos breaks the tie when doc_id is equal)
    A = "one two three"
    docs = spark.createDataFrame(
        [(7, f"{A} {A}")], "doc_id long, text string"
    )
    r = dedup.passage_dedup(
        docs, text_col="text", id_col="doc_id", window_words=3
    ).collect()[0]
    assert r.n_passages == 2 and r.n_dup_passages == 1
    assert r.kept_text == A


def test_cross_modal_dedup_each_modality_contributes_unique_pairs(spark):
    """The r12-verdict task-6 planted-fixture pin for the cross-modal
    composition entry (r13-verdict task 5 added the audio leg): on the
    sf0.001 corpus, the text twins are only reachable through the
    MinHash leg, the +32-brightness image twins only through the dHash
    leg, the identical-vector embedding twins only through the
    quantizer-cell leg, the ×2-gain audio twins only through the
    energy-contour leg — each modality must yield single-modality
    components the other three legs cannot see, and the
    image/embed/audio legs must find EXACTLY their 30 planted pairs
    (no incidental pairs exist in those modalities at this scale; text
    has incidental exact-dup documents on top of its 30)."""
    import __spark_entry__ as entrymod

    df = (
        entrymod.queries()["cross_modal_dedup"](
            spark, "/root/testdata/sf0.001"
        )
        .toPandas()
        .set_index("component")
    )
    mods = ("text", "image", "embed", "audio")
    only = {
        m: df[
            (df[f"n_{m}"] > 0)
            & (df[[f"n_{o}" for o in mods if o != m]] == 0).all(axis=1)
        ]
        for m in mods
    }
    assert len(only["text"]) >= 25
    assert len(only["image"]) >= 25
    assert len(only["embed"]) >= 25
    assert len(only["audio"]) >= 25
    assert int(df["n_image"].sum()) == 30
    assert int(df["n_embed"].sum()) == 30
    assert int(df["n_audio"].sum()) == 30
    assert int(df["n_text"].sum()) >= 30
    # every emitted component is a real cluster with an elected keeper
    assert (df["n_members"] >= 2).all()
    assert df["keep_quality"].notna().all()


def test_boilerplate_scrub_matches_python_reference(spark):
    """boilerplate_scrub (C4 §2.2 remove-all chrome rule) against a
    pure-python third implementation on the sf0.001 corpus: identical
    chunking, document-frequency census, removal verdicts, and
    byte-exact reconstruction — plus the semantic pin that
    distinguishes it from passage_dedup: a span repeated across docs
    loses EVERY occurrence, first included."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: (r.n_spans, r.n_boiler_spans, r.kept_words, r.kept_text)
        for r in dedup.boilerplate_scrub(
            docs, window_words=5, min_df=2
        ).collect()
    }
    import re as _re
    from collections import defaultdict

    texts = {
        r.doc_id: r.text for r in docs.select("doc_id", "text").collect()
    }
    spans: dict[int, list[str]] = {}
    df: dict[str, set] = defaultdict(set)
    for did, text in texts.items():
        ws = _re.split(r"\s+", text.strip().lower())
        n = max(1, -(-len(ws) // 5))
        ss = [" ".join(ws[i * 5 : i * 5 + 5]) for i in range(n)]
        spans[did] = ss
        for s in ss:
            df[s].add(did)
    total_boiler = 0
    for did, ss in spans.items():
        boiler = [s for s in ss if len(df[s]) >= 2]
        kept = [s for s in ss if len(df[s]) < 2]
        kept_text = " ".join(kept)
        exp = (
            len(ss),
            len(boiler),
            len(kept_text.split(" ")) if kept_text else 0,
            kept_text,
        )
        assert got[did] == exp, did
        total_boiler += len(boiler)
    assert total_boiler > 0  # the corpus genuinely repeats spans
    # remove-ALL semantics (vs passage_dedup's keep-first): the FIRST
    # occurrence of a repeated span is removed too — the doc holding
    # it must count that span among its boiler spans
    first_docs = {min(dids) for s, dids in df.items() if len(dids) >= 2}
    assert any(got[d][1] > 0 for d in first_docs)


def test_boilerplate_scrub_drops_empty_documents(spark):
    """The r14 advice edge, pinned: empty / whitespace-only / NULL
    documents are DROPPED from the scrub output — before the fix the
    sequence() floor manufactured one empty-string span per empty doc,
    and two empty docs made '' corpus "boilerplate" (inflating
    n_spans/n_boiler_spans for every empty doc). Non-empty docs must
    be completely unaffected by empty neighbors."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, ""),            # empty
        (4, "   \t\n  "),   # whitespace-only
        (5, None),          # NULL text
        (6, "unique words only here nothing repeats"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.boilerplate_scrub(
            docs, window_words=5, min_df=2
        ).collect()
    }
    # empty/whitespace/NULL docs: no row at all (not an empty-span row)
    assert set(got) == {1, 2, 6}
    # docs 1 and 2 share their first 5-word span -> it is boilerplate
    # in BOTH (remove-all), the trailing 1-word span survives
    for did, tail in ((1, "zeta"), (2, "eta")):
        r = got[did]
        assert (r.n_spans, r.n_boiler_spans) == (2, 1)
        assert r.kept_text == tail and r.kept_words == 1
    # the all-unique doc keeps everything; the two empty docs did NOT
    # manufacture a shared '' span that could have polluted the census
    r = got[6]
    assert r.n_boiler_spans == 0
    assert r.kept_text == "unique words only here nothing repeats"


def test_dedup_cluster_size_profile_consistent_with_keep_best(spark):
    """The yield profile is an exact census of the keep-best clusters:
    per distinct cluster size, the cluster/doc/removed counts must
    equal the python fold over q_dedup_keep_best's rows; each doc is
    in exactly one cluster so the doc column sums to the corpus; the
    descending-cumulative yield curve ends at (total - n_clusters)
    removed and the ppm columns are the documented integer formulas."""
    from collections import Counter

    import __spark_entry__ as entrymod
    from catalog.dedup import q_dedup_keep_best

    sf_dir = "/root/testdata/sf0.001"
    clusters = q_dedup_keep_best(spark, sf_dir).collect()
    sizes = Counter(r.n_members for r in clusters)
    total = sum(s * c for s, c in sizes.items())

    rows = entrymod.queries()["dedup_cluster_size_profile"](
        spark, sf_dir
    ).collect()
    assert [r.cluster_size for r in rows] == sorted(sizes)
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == corpus
    cum_ref = 0
    for r in sorted(rows, key=lambda r: -r.cluster_size):
        assert r.n_clusters == sizes[r.cluster_size]
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removed == (r.cluster_size - 1) * r.n_clusters
        cum_ref += r.n_removed
        assert r.removed_share_ppm == (r.n_removed * 1_000_000) // total
        assert r.cum_removed_ppm == (cum_ref * 1_000_000) // total
    assert cum_ref == total - len(clusters)
