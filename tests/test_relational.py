"""Relational operator unit tests (projections, set ops, windows, joins)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    relational,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans.explain import (
    formatted_plan,
)


def test_project_exclude_and_drop_null_rows(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 3.0), (3, "c", 4.0)],
        "id BIGINT, name STRING, v DOUBLE",
    )
    out = relational.drop_null_rows(relational.project_exclude(df, ["v"]))
    assert sorted(out.collect()) == [Row(id=1, name="a"), Row(id=3, name="c")]


def test_union_all_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id BIGINT, tag STRING")
    b = spark.createDataFrame([("y", 2)], "tag STRING, id BIGINT")  # reordered cols
    out = relational.union_all([a, b])
    assert sorted(out.collect()) == [Row(id=1, tag="x"), Row(id=2, tag="y")]


def test_repeat_rows_is_narrow(spark):
    df = spark.createDataFrame([(1,), (2,)], "id BIGINT")
    out = relational.repeat_rows(df, 3)
    assert out.count() == 6
    assert "Exchange" not in formatted_plan(out), "repeat must not shuffle"


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "grp STRING, id BIGINT, v DOUBLE",
    )
    out = relational.topk_per_group(df, ["grp"], [F.desc("v"), F.asc("id")], k=2)
    got = sorted((r.grp, r.id, r.rn) for r in out.collect())
    assert got == [("a", 2, 1), ("a", 3, 2), ("b", 4, 1)]


def test_latest_per_key_with_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1, 100), ("a", 2, 200), ("a", 3, 200), ("b", 4, 50)],
        "k STRING, id BIGINT, ts BIGINT",
    )
    out = relational.latest_per_key(df, ["k"], "ts", tiebreak="id")
    got = {r.k: r.id for r in out.collect()}
    assert got == {"a": 3, "b": 4}  # ties broken by highest id


def test_lag_delta(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 12.0)],
        "k STRING, ts BIGINT, v DOUBLE",
    )
    out = relational.lag_delta(df, ["k"], "ts", "v").orderBy("ts")
    assert [r.delta for r in out.collect()] == [None, 5.0, -3.0]


def test_date_histogram_and_terms(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 10), "x"),
            (dt.datetime(2024, 1, 1, 11), "x"),
            (dt.datetime(2024, 1, 2, 9), "y"),
        ],
        "ts TIMESTAMP, kind STRING",
    )
    hist = {
        r.bucket.date().isoformat(): r.doc_count
        for r in relational.date_histogram(df, "ts", "day").collect()
    }
    assert hist == {"2024-01-01": 2, "2024-01-02": 1}
    terms = relational.terms_agg(df, "kind", k=1).collect()
    assert [(r.kind, r.doc_count) for r in terms] == [("x", 2)]


def test_rollup_and_cube_totals(spark):
    df = spark.createDataFrame(
        [("r1", "n1", 1), ("r1", "n2", 2), ("r2", "n3", 3)],
        "r STRING, n STRING, v INT",
    )
    roll = relational.rollup_agg(df, ["r", "n"], [F.sum("v").alias("s")])
    grand = [x.s for x in roll.collect() if x.r is None and x.n is None]
    assert grand == [6]
    cube = relational.cube_agg(df, ["r", "n"], [F.sum("v").alias("s")])
    # cube adds the n-only slices rollup lacks
    n_only = {x.n: x.s for x in cube.collect() if x.r is None and x.n is not None}
    assert n_only == {"n1": 1, "n2": 2, "n3": 3}


def test_multiway_join_chain(spark):
    a = spark.createDataFrame([(1, "x")], "id BIGINT, av STRING")
    b = spark.createDataFrame([(1, "y")], "id BIGINT, bv STRING")
    c = spark.createDataFrame([(1, "z")], "id BIGINT, cv STRING")
    out = relational.multiway_join(a, [(b, "id", "inner"), (c, "id", "inner")])
    assert out.collect() == [Row(id=1, av="x", bv="y", cv="z")]


def test_shuffled_deterministic_per_seed(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "id BIGINT")
    a = [r.id for r in relational.shuffled(df, seed=1).collect()]
    b = [r.id for r in relational.shuffled(df, seed=1).collect()]
    assert a == b and sorted(a) == list(range(20))


def test_approx_sketches_within_error_bounds(spark):
    """approx_count_distinct (HLL, ~2.3% default rsd) and
    percentile_approx must land near exact answers — the rows-only
    driver check can't see values, so the bound lives here."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000).select(
        (F.col("id") % 37).alias("g"),
        (F.col("id") % 4831).alias("u"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    got = df.groupBy((F.col("g") % 2).alias("grp")).agg(
        F.approx_count_distinct("u").alias("au"),
        F.countDistinct("u").alias("eu"),
        F.percentile_approx("v", 0.5).alias("p50"),
        F.expr("percentile(v, 0.5)").alias("e50"),
    )
    for r in got.collect():
        assert abs(r.au - r.eu) / r.eu < 0.10, (r.au, r.eu)  # 2x default rsd
        assert abs(r.p50 - r.e50) <= 10.0, (r.p50, r.e50)


def test_zorder2_key_bit_interleave(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(3, 1), (0xFFFF, 0), (0, 0xFFFF), (0, 0)], "a long, b long"
    )
    got = [
        r.z
        for r in df.select(
            relational.zorder2_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    ]
    # spread(3)=0b101, spread(1)=0b1 -> 0b101 | 0b10 = 7
    assert got == [7, 0x55555555, 0xAAAAAAAA, 0]


def test_hll_sketch_rollup_merge_and_accuracy(spark):
    """The mergeable-sketch contract behind q_sketch_distinct_rollup:
    (1) at low cardinality the DataSketches HLL estimate is exact;
    (2) union-merging per-group sketches loses nothing vs sketching the
    whole (same lgK ⇒ lossless max-merge), so stored partition sketches
    answer coarser rollups exactly as a full re-count would estimate;
    (3) at 200k distinct the estimate stays within 5% (lgK=12 ⇒ rse
    ≈1.6%)."""
    df = spark.range(5000).select(
        (F.col("id") % 97).alias("k"), (F.col("id") % 4).alias("g")
    )
    per_group = df.groupBy("g").agg(F.hll_sketch_agg("k").alias("sk"))
    ests = {
        r.g: r.est
        for r in per_group.select(
            "g", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    assert ests == {0: 97, 1: 97, 2: 97, 3: 97}

    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).head().est
    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("est")
    ).head().est
    assert merged == whole == 97

    big = spark.range(200_000)
    est = big.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("id")).alias("est")
    ).head().est
    assert abs(est - 200_000) / 200_000 < 0.05, est

    # the query's global row == direct sketch over all events (merge of
    # the daily sketches is lossless)
    from catalog.sketches import q_sketch_distinct_rollup

    rows = q_sketch_distinct_rollup(
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = [r.est_users for r in rows if r.day is None]
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).head().est
    assert total == [direct]
    assert all(r.est_users > 0 for r in rows)
