"""Count-min sketch: guarantees, mergeability, bounded state."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    sketches,
)


def _keyed(spark, rows):
    return spark.createDataFrame([(k,) for k in rows], "k string")


def test_estimate_never_undercounts(spark):
    # skewed stream: "hot" 500×, others 1-50×
    rows = ["hot"] * 500 + [f"k{i}" for i in range(50) for _ in range(i + 1)]
    df = _keyed(spark, rows)
    sk = sketches.cms_build(df, "k", depth=4, width=64)
    exact = df.groupBy("k").agg(F.count("*").alias("exact_n"))
    est = sketches.cms_estimate(
        sk, exact.select("k"), "k", depth=4, width=64
    )
    joined = exact.join(est, "k").collect()
    assert len(joined) == 51
    for r in joined:
        assert r.cms_est >= r.exact_n, (r.k, r.cms_est, r.exact_n)


def test_heavy_hitter_exact_at_generous_width(spark):
    # width >> distinct keys → collisions unlikely per row, min() exact
    rows = ["hot"] * 100 + ["a", "b", "c"] * 3
    df = _keyed(spark, rows)
    sk = sketches.cms_build(df, "k", depth=4, width=1024)
    est = {
        r.k: r.cms_est
        for r in sketches.cms_estimate(
            sk, df.select("k").distinct(), "k", depth=4, width=1024
        ).collect()
    }
    assert est["hot"] == 100
    assert est["a"] == 3


def test_grid_is_bounded(spark):
    df = _keyed(spark, [f"key{i}" for i in range(5000)])
    sk = sketches.cms_build(df, "k", depth=4, width=32)
    cells = sk.filter(F.col("r") >= 0)
    assert cells.count() <= 4 * 32
    # every counter cell is in range
    bad = cells.filter(
        (F.col("r") >= 4) | (F.col("bucket") < 0) | (F.col("bucket") >= 32)
    ).count()
    assert bad == 0
    # exactly one parameter sentinel carrying (width, depth)
    sent = sk.filter(F.col("r") < 0).collect()
    assert len(sent) == 1 and (sent[0].bucket, sent[0].n) == (32, 4)
    # total mass conserved: each counter row of the grid sums to N
    per_row = {
        r.r: r.s
        for r in cells.groupBy("r").agg(F.sum("n").alias("s")).collect()
    }
    assert set(per_row.values()) == {5000}


def test_merge_equals_whole(spark):
    rows = [f"k{i % 37}" for i in range(400)]
    a = sketches.cms_build(_keyed(spark, rows[:150]), "k", depth=4, width=64)
    b = sketches.cms_build(_keyed(spark, rows[150:]), "k", depth=4, width=64)
    merged = sketches.cms_merge(a, b)
    whole = sketches.cms_build(_keyed(spark, rows), "k", depth=4, width=64)
    diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert diff == 0


def test_absent_key_estimates_small(spark):
    df = _keyed(spark, [f"k{i}" for i in range(20)])
    sk = sketches.cms_build(df, "k", depth=4, width=512)
    ghost = _keyed(spark, ["never-seen"])
    est = sketches.cms_estimate(sk, ghost, "k", depth=4, width=512).collect()
    # with 20 keys over 4×512 cells the min over 4 rows is almost surely 0
    assert est[0].cms_est == 0


def test_estimate_rejects_mismatched_parameters(spark):
    # probing a depth-4/width-64 grid with the wrong parameters must
    # FAIL FAST, not confidently return 0 (the left join would coalesce
    # absent cells to 0 and min() would report it as an estimate)
    import pytest

    df = _keyed(spark, [f"k{i}" for i in range(200)])
    sk = sketches.cms_build(df, "k", depth=4, width=64)
    probe = _keyed(spark, ["k0"])
    # narrower AND WIDER probe widths must both be rejected — the wider
    # case is the one a shape heuristic can never catch (all grid
    # buckets < build width < probe width)
    for depth, width in [(8, 64), (4, 32), (2, 64), (4, 128)]:
        with pytest.raises(Exception, match="parameter mismatch"):
            sketches.cms_estimate(sk, probe, "k", depth=depth, width=width).collect()
    # a sentinel-less grid (not built by cms_build) is rejected too
    with pytest.raises(Exception, match="parameter mismatch"):
        sketches.cms_estimate(
            sk.filter(F.col("r") >= 0), probe, "k", depth=4, width=64
        ).collect()
    # a mixed-parameter merge leaves two sentinels -> rejected
    other = sketches.cms_build(df, "k", depth=4, width=128)
    mixed = sketches.cms_merge(sk, other)
    with pytest.raises(Exception, match="parameter mismatch"):
        sketches.cms_estimate(mixed, probe, "k", depth=4, width=64).collect()
    # matching parameters still answer
    ok = sketches.cms_estimate(sk, probe, "k", depth=4, width=64).collect()
    assert ok[0].cms_est >= 1


def test_kmv_estimate_exact_below_k(spark):
    df = spark.createDataFrame([(i % 40,) for i in range(500)], "k long")
    sk = sketches.kmv_build(df.withColumn("g", F.lit("a")), ["g"], "k", k=64)
    est = sketches.kmv_estimate(sk, ["g"], k=64).collect()[0]
    # 40 distinct < k=64 → the sketch IS the distinct set → exact
    assert est.n_seen == 40 and est.ndv_est == 40.0


def test_kmv_estimate_within_error_above_k(spark):
    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    sk = sketches.kmv_build(df.withColumn("g", F.lit("a")), ["g"], "k", k=64)
    est = sketches.kmv_estimate(sk, ["g"], k=64).collect()[0].ndv_est
    # KMV relative error ~ 1/sqrt(k-2) ≈ 12.7%; allow 4 sigma
    assert abs(est - n) / n < 0.5, est


def test_kmv_merge_equals_whole(spark):
    rows = [(i % 300,) for i in range(1000)]
    g = lambda d: d.withColumn("g", F.lit("a"))  # noqa: E731
    a = sketches.kmv_build(
        g(spark.createDataFrame(rows[:400], "k long")), ["g"], "k", k=32
    )
    b = sketches.kmv_build(
        g(spark.createDataFrame(rows[400:], "k long")), ["g"], "k", k=32
    )
    merged = sketches.kmv_merge(a.unionByName(b), ["g"], k=32)
    whole = sketches.kmv_build(
        g(spark.createDataFrame(rows, "k long")), ["g"], "k", k=32
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_kmv_state_is_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(3000)], "k long, g string"
    )
    sk = sketches.kmv_build(df, ["g"], "k", k=16)
    per_group = sk.groupBy("g").count().collect()
    assert all(r["count"] == 16 for r in per_group)


def test_bloom_no_false_negatives_and_low_fp(spark):
    members = _keyed(spark, [f"m{i}" for i in range(300)])
    others = _keyed(spark, [f"x{i}" for i in range(300)])
    sk = sketches.bloom_build(members, "k", n_hashes=4, n_bits=4096)
    # every member MUST pass — the bloom contract has no false negatives
    got = {
        r.k: r.might_contain
        for r in sketches.bloom_probe(
            sk, members, "k", n_hashes=4, n_bits=4096
        ).collect()
    }
    assert all(got.values()) and len(got) == 300
    # non-members pass only at the (1-e^{-kn/m})^k rate ≈ 0.4% here;
    # allow a generous margin, but a broken AND-of-bits would be ~100%
    fp = sum(
        r.might_contain
        for r in sketches.bloom_probe(
            sk, others, "k", n_hashes=4, n_bits=4096
        ).collect()
    )
    assert fp <= 15, fp


def test_bloom_merge_equals_whole(spark):
    rows = [f"k{i}" for i in range(400)]
    a = sketches.bloom_build(_keyed(spark, rows[:150]), "k", 4, 2048)
    b = sketches.bloom_build(_keyed(spark, rows[150:]), "k", 4, 2048)
    merged = sketches.bloom_merge(a, b)
    whole = sketches.bloom_build(_keyed(spark, rows), "k", 4, 2048)
    diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert diff == 0


def test_bloom_state_is_bounded(spark):
    df = _keyed(spark, [f"key{i}" for i in range(50000)])
    sk = sketches.bloom_build(df, "k", n_hashes=4, n_bits=1024)
    bits = sk.filter(F.col("bit") >= 0)
    assert bits.count() <= 1024
    assert bits.filter(F.col("bit") >= 1024).count() == 0
    # exactly one parameter sentinel, encoding (n_bits, n_hashes)
    sent = sk.filter(F.col("bit") < 0).collect()
    assert len(sent) == 1 and sent[0].bit == -(1024 * 1024 + 4)


def test_bloom_probe_is_duplicate_safe(spark):
    # a true member duplicated in `candidates` must still answer True:
    # the verdict is min-over-hits, not a count that a duplicate inflates
    members = _keyed(spark, [f"m{i}" for i in range(50)])
    sk = sketches.bloom_build(members, "k", n_hashes=4, n_bits=4096)
    dup = _keyed(spark, ["m0", "m0", "m0", "zz-not-a-member"])
    got = {
        r.k: r.might_contain
        for r in sketches.bloom_probe(sk, dup, "k", 4, 4096).collect()
    }
    assert got["m0"] is True
    assert got["zz-not-a-member"] is False


def test_bloom_probe_rejects_mismatched_parameters(spark):
    import pytest

    members = _keyed(spark, [f"m{i}" for i in range(50)])
    sk = sketches.bloom_build(members, "k", n_hashes=4, n_bits=2048)
    probe = _keyed(spark, ["m0"])
    for nh, nb in [(4, 4096), (2, 2048), (8, 1024)]:
        with pytest.raises(Exception, match="parameter mismatch"):
            sketches.bloom_probe(sk, probe, "k", nh, nb).collect()
    # a sentinel-less table (not built by bloom_build) is rejected too
    legacy = sk.filter(F.col("bit") >= 0)
    with pytest.raises(Exception, match="parameter mismatch"):
        sketches.bloom_probe(legacy, probe, "k", 4, 2048).collect()
    # mixed-parameter merge leaves two sentinels -> rejected
    other = sketches.bloom_build(members, "k", n_hashes=4, n_bits=4096)
    mixed = sketches.bloom_merge(sk, other)
    with pytest.raises(Exception, match="parameter mismatch"):
        sketches.bloom_probe(mixed, probe, "k", 4, 2048).collect()


def test_logbucket_exact_below_8_and_relative_error_guarantee(spark):
    import random

    rnd = random.Random(11)
    vals = [rnd.randint(1, 10**9) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long").withColumn(
        "g", F.lit("a")
    )
    sk = sketches.logbucket_build(df, ["g"], "v")
    qs = [0.5, 0.9, 0.99]
    est = {
        round(r.q, 3): r.est
        for r in sketches.logbucket_quantile(sk, ["g"], qs).collect()
    }
    svals = sorted(vals)
    for q in qs:
        # percentile_disc convention: value at rank ceil(q·N)
        true = svals[-(-int(q * 1000) * len(vals) // 1000) - 1]
        e = est[q]
        # est is the lower bound of the true value's bucket:
        # e <= true < e·(1 + 1/8)
        assert e <= true <= e + max(e // 8, 0) + 1, (q, e, true)

    # small values are exact
    tiny = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 5, 6, 7] * 3], "v long"
    ).withColumn("g", F.lit("a"))
    sk2 = sketches.logbucket_build(tiny, ["g"], "v")
    got = {
        round(r.q, 3): r.est
        for r in sketches.logbucket_quantile(
            sk2, ["g"], [0.5, 1.0]
        ).collect()
    }
    assert got[0.5] == 4 and got[1.0] == 7


def test_logbucket_merge_equals_whole_and_state_bounded(spark):
    rows = [(i % 3000 + 1,) for i in range(9000)]
    g = lambda d: d.withColumn("g", F.lit("a"))  # noqa: E731
    a = sketches.logbucket_build(
        g(spark.createDataFrame(rows[:4000], "v long")), ["g"], "v"
    )
    b = sketches.logbucket_build(
        g(spark.createDataFrame(rows[4000:], "v long")), ["g"], "v"
    )
    merged = sketches.logbucket_merge(a.unionByName(b), ["g"])
    whole = sketches.logbucket_build(
        g(spark.createDataFrame(rows, "v long")), ["g"], "v"
    )
    diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert diff == 0
    # 3000 distinct values collapse into <= 8*12 buckets (values < 2^12)
    assert whole.count() <= 8 * 12


def test_logbucket_drops_nonpositive(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (1,), (100,)], "v long"
    ).withColumn("g", F.lit("a"))
    sk = sketches.logbucket_build(df, ["g"], "v")
    tot = sk.agg(F.sum("n")).collect()[0][0]
    assert tot == 2


def test_null_keys_excluded_from_all_sketches(spark):
    """NULL keys must not poison any sketch: md5(NULL)=NULL would store
    an unmatchable bit (bloom false negative), a NULL CMS cell
    (undercount), or a NULL KMV hash (sorts FIRST in Spark, LAST in
    DuckDB — cross-engine divergence). The pinned semantic: NULLs are
    excluded everywhere; a NULL bloom probe answers false."""
    df = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "k string"
    )
    # bloom: no NULL bit rows; NULL probe answers false, members true
    bsk = sketches.bloom_build(df, "k", 4, 1024)
    assert bsk.filter(F.col("bit").isNull()).count() == 0
    got = {
        r.k: r.might_contain
        for r in sketches.bloom_probe(bsk, df.distinct(), "k", 4, 1024).collect()
    }
    assert got["a"] and got["b"] and got[None] is False
    # cms: no NULL cells; mass = non-null rows only
    csk = sketches.cms_build(df, "k", depth=4, width=64)
    assert csk.filter(F.col("bucket").isNull()).count() == 0
    mass = csk.filter(F.col("r") == 0).agg(F.sum("n")).collect()[0][0]
    assert mass == 2
    # kmv: no NULL hashes; estimate counts non-null distinct only
    ksk = sketches.kmv_build(df.withColumn("g", F.lit("a")), ["g"], "k", k=8)
    assert ksk.filter(F.col("h").isNull()).count() == 0
    est = sketches.kmv_estimate(ksk, ["g"], k=8).collect()[0]
    assert est.n_seen == 2


def test_cms_join_cardinality_upper_bound_and_mismatch(spark):
    import pytest

    # A: keys 0..99 each 3x; B: keys 50..149 each 2x
    # exact join size = 50 overlapping keys * 3 * 2 = 300
    a_rows = [(k,) for k in range(100) for _ in range(3)]
    b_rows = [(k,) for k in range(50, 150) for _ in range(2)]
    A = spark.createDataFrame(a_rows, "k long")
    B = spark.createDataFrame(b_rows, "k long")
    ska = sketches.cms_build(A, "k", depth=4, width=512)
    skb = sketches.cms_build(B, "k", depth=4, width=512)
    est = sketches.cms_join_cardinality(ska, skb).collect()[0].join_size_est
    # one-sided: never under; with 150 keys over 512 buckets, collisions
    # are few — the bound should be close
    assert 300 <= est <= 450, est
    # mismatched widths fail fast instead of silently answering
    skw = sketches.cms_build(B, "k", depth=4, width=256)
    with pytest.raises(Exception, match="parameter mismatch"):
        sketches.cms_join_cardinality(ska, skw).collect()
    # disjoint key sets -> estimate collapses toward 0 collisions only
    C = spark.createDataFrame([(k,) for k in range(10000, 10100)], "k long")
    skc = sketches.cms_build(C, "k", depth=4, width=512)
    est0 = sketches.cms_join_cardinality(ska, skc).collect()[0].join_size_est
    # min over rows includes zero-collision rows as 0 — with 4 rows and
    # few collisions, at least one row should prove near-disjointness
    assert est0 <= 60, est0
    # fully empty B sketch -> estimate 0
    empty = sketches.cms_build(
        spark.createDataFrame([], "k long"), "k", depth=4, width=512
    )
    assert sketches.cms_join_cardinality(ska, empty).collect()[0].join_size_est == 0
