"""Unit tests for deterministic sampling/splitting/packing (operators.sampling)
and the bucketed range join (relational.band_join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    relational,
    sampling,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, "en" if i % 3 else "tr", 10 + i % 50) for i in range(600)],
        "doc_id long, lang string, n_tokens int",
    )


def test_rate_threshold_bounds():
    assert sampling.rate_threshold(0.0) == "00000000"
    assert sampling.rate_threshold(1.0) == "ffffffff"
    assert sampling.rate_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        sampling.rate_threshold(1.5)


def test_hash_split_deterministic_and_calibrated(docs):
    a = sampling.hash_split(docs, "doc_id", 0.8).collect()
    b = sampling.hash_split(docs, "doc_id", 0.8).collect()
    assert sorted((r.doc_id, r.split) for r in a) == sorted(
        (r.doc_id, r.split) for r in b
    )
    frac = sum(r.split == "train" for r in a) / len(a)
    assert 0.7 < frac < 0.9  # binomial(600, .8) within ~4 sigma


def test_hash_split_stratified_rates(docs):
    out = sampling.hash_split(
        docs, "doc_id", {"en": 1.0, "tr": 0.0}, stratum_col="lang"
    ).collect()
    for r in out:
        assert r.split == ("train" if r.lang == "en" else "holdout")


def test_hash_split_seed_changes_assignment(docs):
    a = {r.doc_id: r.split for r in sampling.hash_split(docs, "doc_id", 0.5).collect()}
    b = {
        r.doc_id: r.split
        for r in sampling.hash_split(docs, "doc_id", 0.5, seed="other").collect()
    }
    assert a != b


def test_shard_assign_stable_and_in_range(docs):
    out = sampling.shard_assign(docs, "doc_id", 8).collect()
    assert {r.shard for r in out} <= set(range(8))
    counts = [sum(r.shard == s for r in out) for s in range(8)]
    assert min(counts) > 0  # 600 keys over 8 shards: every shard hit


def test_contiguous_pack_respects_budget_boundaries(docs):
    packed = sampling.contiguous_pack(
        docs, "n_tokens", 200, "doc_id", partition_cols=("lang",)
    )
    rows = packed.orderBy("lang", "doc_id").collect()
    # bin = floor(tokens-before-this-doc / budget), per language
    seen: dict[str, int] = {}
    for r in rows:
        before = seen.get(r.lang, 0)
        assert r.bin == before // 200, (r.doc_id, r.lang, before)
        seen[r.lang] = before + r.n_tokens


def test_band_join_matches_nested_loop_semantics(spark):
    facts = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 30.0), ("b", 25.0, 60.0), ("c", 59.5, 100.0)],
        "band string, lo double, hi double",
    )
    got = {
        (r.id, r.band)
        for r in relational.band_join(facts, bands, "v", step=7.0).collect()
    }
    want = {
        (r.id, r.band)
        for r in facts.join(
            bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    }
    assert got == want


def test_band_join_plan_has_no_nested_loop(spark):
    facts = spark.range(100).select(F.col("id"), F.col("id").cast("double").alias("v"))
    bands = spark.createDataFrame(
        [("a", 0.0, 50.0)], "band string, lo double, hi double"
    )
    plan = (
        relational.band_join(facts, bands, "v", step=10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_rate_threshold_properties():
    """Monotone, endpoint-exact, and 8-hex-char invariant for any rate."""
    from hypothesis import given, strategies as st

    @given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
    def check(r):
        t = sampling.rate_threshold(r)
        assert len(t) == 8 and all(c in "0123456789abcdef" for c in t)

    check()
    grid = [i / 100 for i in range(101)]
    ts = [sampling.rate_threshold(r) for r in grid]
    assert ts == sorted(ts)  # monotone in the rate


def test_temperature_resample_realizes_mixture(spark):
    """Realized copy counts must track the p^0.5 target mixture within
    the stochastic-rounding noise (per-doc independent draws → O(√n)
    deviation), and be invariant to partitioning (content-hash, not
    rand)."""
    import math

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sampling import (
        temperature_resample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(docs).groupBy("lang").agg(
        F.sum("n_copies").alias("realized")
    )
    got = {r.lang: r.realized for r in out.collect()}
    # targets: w_l * N with w ∝ sqrt(p)
    p = {"big": 0.9, "small": 0.1}
    z = sum(math.sqrt(v) for v in p.values())
    for lang, pl in p.items():
        n_l = 1000 * pl
        target = math.sqrt(pl) / z * 1000
        frac = (target / n_l) % 1.0
        bound = 5 * math.sqrt(max(frac * (1 - frac), 0.01) * n_l) + 1
        assert abs(got[lang] - target) <= bound, (lang, got[lang], target)
    # head thinned, tail upsampled
    assert got["big"] < 900 and got["small"] > 100
    # partitioning-invariant
    out2 = temperature_resample(docs.repartition(13)).groupBy("lang").agg(
        F.sum("n_copies").alias("realized")
    )
    assert {r.lang: r.realized for r in out2.collect()} == got


def test_weighted_bottomk_is_deterministic_and_layout_invariant(spark):
    rows = [(i, f"g{i % 4}", (i * 13) % 50 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, w long")
    a = sorted(
        map(
            tuple,
            sampling.weighted_bottomk(df, ["g"], "id", "w", k=5)
            .select("g", "rk", "id")
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sampling.weighted_bottomk(
                df.repartition(13), ["g"], "id", "w", k=5
            )
            .select("g", "rk", "id")
            .collect(),
        )
    )
    assert a == b and len(a) == 20


def test_weighted_bottomk_prefers_heavy_rows(spark):
    """In each of 100 groups: one row with weight 10_000 vs nine with
    weight 1. PPS order sampling keeps the k=1 smallest u/w, so the
    heavy row must win the overwhelming majority of groups (its
    priority is ~10^4 smaller in expectation)."""
    rows = []
    for g in range(100):
        rows.append((g * 10, f"g{g}", 10_000))
        rows.extend((g * 10 + j, f"g{g}", 1) for j in range(1, 10))
    df = spark.createDataFrame(rows, "id long, g string, w long")
    kept = sampling.weighted_bottomk(df, ["g"], "id", "w", k=1).collect()
    heavy_wins = sum(1 for r in kept if r.id % 10 == 0)
    assert len(kept) == 100 and heavy_wins >= 95, heavy_wins


def test_weighted_bottomk_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, "g", 5), (2, "g", 0), (3, "g", -1), (4, "g", None)],
        "id long, g string, w long",
    )
    kept = sampling.weighted_bottomk(df, ["g"], "id", "w", k=10).collect()
    assert sorted(r.id for r in kept) == [1]


def test_mixture_epoch_schedule_laws(spark):
    """The epoch planner's integer laws on the real corpus: src_tokens
    re-derives from doc_token_counts grouped by source; shares and
    weights follow the documented formulas off those exact counts; the
    sqrt temperature FLATTENS the mixture (weight ordering preserved
    but ratios compressed vs natural shares); allocations sum to the
    4x budget within the staged-DIV truncation; and every source's
    epoch count sits on alloc/src_tokens exactly."""
    import math

    import __spark_entry__ as entrymod
    from catalog.tokenizer import _bpe_trained
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (  # noqa: E501
        tokenizer,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r.source: r
        for r in entrymod.queries()["mixture_epoch_schedule"](
            spark, sf_dir
        ).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, final_state = _bpe_trained(spark, sf_dir)
    per_doc = tokenizer.doc_token_counts(
        docs, tokenizer.token_dict(final_state)
    )
    ref = {
        r.source: r.t
        for r in docs.select("doc_id", "source")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    assert set(got) == set(ref)
    tot = sum(ref.values())
    w = {
        s: math.floor(math.sqrt(t / tot) * 1e6 + 0.5)
        for s, t in ref.items()
    }
    wsum = sum(w.values())
    budget = 4 * tot
    alloc_sum = 0
    for s, t in ref.items():
        g = got[s]
        assert g.src_tokens == t
        assert g.share_ppm == (t * 1_000_000) // tot
        assert g.weight_ppm == (w[s] * 1_000_000) // wsum
        alloc = ((budget // 1000) * g.weight_ppm) // 1000
        assert g.alloc_tokens == alloc
        assert g.epochs_milli == (alloc * 1000) // t
        alloc_sum += alloc
    # staged integer truncation only: within 0.2% of the 4x budget
    assert 0.998 * budget < alloc_sum <= budget
    # sqrt flattens: the head source is allocated UNDER its natural
    # share (epochs < 4.0), the tail source OVER (epochs > 4.0)
    head = max(ref, key=ref.get)
    tail = min(ref, key=ref.get)
    if ref[head] != ref[tail]:
        assert got[head].epochs_milli < 4000 < got[tail].epochs_milli
