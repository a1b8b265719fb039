"""pretrain_shard_plan capstone invariants (the r14 verdict's task 3).

The debut gate + driver window prove the manifest hash-equal to the
DuckDB five-stage replay; these tests pin the LAWS a shard plan must
satisfy regardless of corpus: bin token budgets, census consistency
between the three manifest columns, lossless doc coverage against an
independently computed survivor set, and per-language bin contiguity.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"
BUDGET = 2048


@pytest.fixture(scope="module")
def manifest(spark):
    import __spark_entry__ as entrymod

    return entrymod.queries()["pretrain_shard_plan"](spark, SF_DIR).collect()


def test_manifest_census_is_internally_consistent(manifest):
    """n_docs == len(doc_ids) == Σ source_mix counts, every shard; the
    doc list is strictly increasing (ordered, duplicate-free); shard_id
    reconstructs from (lang, bin)."""
    assert manifest
    for r in manifest:
        ids = [int(x) for x in r.doc_ids.split("|")]
        assert r.n_docs == len(ids)
        assert ids == sorted(set(ids))
        mix = dict(
            (part.rsplit(":", 1)[0], int(part.rsplit(":", 1)[1]))
            for part in r.source_mix.split("|")
        )
        assert sum(mix.values()) == r.n_docs
        assert r.shard_id == f"{r.lang}-{r.bin}"
        assert r.shard_tokens > 0


def test_bins_respect_budget_and_are_contiguous(manifest):
    """Contiguous packing law: a doc lands in the bin where its tokens
    START, so every shard except possibly a language's LAST holds
    ≥ the budget boundary crossing — bins are 0..max with no gaps, and
    a shard's tokens can exceed the budget only via its boundary doc
    (shard_tokens - last_doc_tokens < budget... pinned in the weaker,
    corpus-independent form: every non-final shard crosses its
    boundary, i.e. cumulative tokens ≥ (bin+1)·budget)."""
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in manifest:
        by_lang[r.lang].append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.bin)
        assert [r.bin for r in rows] == list(range(len(rows))), lang
        cum = 0
        for r in rows[:-1]:
            cum += r.shard_tokens
            assert cum >= (r.bin + 1) * BUDGET, (lang, r.bin)


def test_doc_coverage_matches_independent_survivor_set(spark, manifest):
    """Every scrubbed+deduped doc with ≥1 token appears in EXACTLY one
    shard, and none other: the manifest's doc universe equals the
    survivor set computed independently (scrub → normalized-fingerprint
    keep-first → tokenizable)."""
    from pyspark.sql import functions as F

    from catalog.tokenizer import _bpe_trained
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
        text as textf,
    )
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scrubbed = (
        dedup.boilerplate_scrub(docs, window_words=5, min_df=2)
        .filter(F.col("kept_words") > 0)
        .select("doc_id", F.col("kept_text").alias("text"))
        .withColumn("fp", textf.normalized_fingerprint("text"))
    )
    keep_first = (
        scrubbed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    )
    survivors = {
        r.doc_id
        for r in keep_first.join(
            scrubbed.select("doc_id", "text"), "doc_id"
        ).collect()
        # tokenizable = at least one [a-z0-9] word
        if any(w for w in __import__("re").split(r"[^a-z0-9]+", r.text) if w)
    }
    in_shards: list[int] = []
    for r in manifest:
        in_shards.extend(int(x) for x in r.doc_ids.split("|"))
    assert len(in_shards) == len(set(in_shards))  # exactly-once
    assert set(in_shards) == survivors

    # and the token total matches the independent count under the same
    # trained dictionary (the encode stage feeding the pack is lossless)
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        tokenizer,
    )

    _, final_state = _bpe_trained(spark, SF_DIR)
    counts = tokenizer.doc_token_counts(
        keep_first.join(scrubbed.select("doc_id", "text"), "doc_id"),
        tokenizer.token_dict(final_state),
    )
    total = counts.agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(r.shard_tokens for r in manifest) == total


def test_manifest_drives_a_partitioned_shard_write(spark, manifest, tmp_path):
    """The manifest is a PLAN — prove it executes: join the doc-level
    pack assignment back to the scrubbed corpus, write one parquet
    directory per shard via the engine's canonical partitioned sink,
    and read back each shard's doc set + token sum equal to the
    manifest row (the shard writer a 100 TB pipeline runs; here at
    sf0.001 over a handful of shards)."""
    from pyspark.sql import functions as F

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.sinks import (
        write_partitioned_parquet,
    )

    # reconstruct the doc→shard assignment the same way the plan does
    # (the manifest's doc_ids column IS that assignment, exploded)
    plan = spark.createDataFrame(
        [
            (r.shard_id, int(d))
            for r in manifest
            for d in r.doc_ids.split("|")
        ],
        "shard_id string, doc_id long",
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "shards")
    write_partitioned_parquet(plan.join(docs, "doc_id"), out, ["shard_id"])

    back = spark.read.parquet(out)
    got = {
        r.shard_id: (r.n, set(r.ids))
        for r in back.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set("doc_id").alias("ids"),
        )
        .collect()
    }
    assert set(got) == {r.shard_id for r in manifest}
    for r in manifest:
        n, ids = got[r.shard_id]
        assert n == r.n_docs
        assert ids == {int(d) for d in r.doc_ids.split("|")}


def test_shard_balance_report_consistent_with_manifest(spark, manifest):
    """The audit is an exact aggregate of the manifest: per language,
    shard/doc/token counts and min/max must equal the python fold over
    the manifest rows; fill_ppm is the documented integer formula."""
    from collections import defaultdict

    import __spark_entry__ as entrymod

    got = {
        r.lang: r
        for r in entrymod.queries()["shard_balance_report"](
            spark, SF_DIR
        ).collect()
    }
    by_lang = defaultdict(list)
    for r in manifest:
        by_lang[r.lang].append(r)
    assert set(got) == set(by_lang)
    for lang, rows in by_lang.items():
        g = got[lang]
        toks = [r.shard_tokens for r in rows]
        assert g.n_shards == len(rows)
        assert g.n_docs == sum(r.n_docs for r in rows)
        assert g.lang_tokens == sum(toks)
        assert (g.min_shard_tokens, g.max_shard_tokens) == (
            min(toks), max(toks),
        )
        assert g.fill_ppm == (sum(toks) * 1_000_000) // (len(rows) * 2048)
        # packing sanity: mean fill sits near the budget (underfill only
        # from each language's final shard and over-budget boundary docs)
        assert g.fill_ppm > 500_000
