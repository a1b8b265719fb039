"""Join-strategy tests: as-of join semantics, salted-join equivalence,
and the bucketed co-located join layout (shuffle-free plan)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    relational,
    temporal,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T10:00:00"), 1),
            ("u1", _ts("2024-01-01T10:05:00"), 2),
            ("u1", _ts("2024-01-01T09:00:00"), 3),   # before any right row
            ("u2", _ts("2024-01-01T10:00:00"), 4),   # key with no right rows
        ],
        "k STRING, ts TIMESTAMP, lid INT",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T09:30:00"), "a"),
            ("u1", _ts("2024-01-01T10:05:00"), "b"),  # equal ts → matches
            ("u1", _ts("2024-01-01T11:00:00"), "c"),  # future → never matches
        ],
        "k STRING, ts TIMESTAMP, rv STRING",
    )
    out = {
        r.lid: r.rv_r
        for r in temporal.asof_join(left, right, ["k"], "ts", ["rv"]).collect()
    }
    assert out == {1: "a", 2: "b", 3: None, 4: None}


def test_asof_join_struct_keeps_right_row_consistent(spark):
    # both right columns must come from the SAME matched row
    left = spark.createDataFrame(
        [("u1", _ts("2024-01-01T10:00:00"), 1)], "k STRING, ts TIMESTAMP, lid INT"
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T09:00:00"), "early", 100),
            ("u1", _ts("2024-01-01T09:30:00"), "late", 200),
        ],
        "k STRING, ts TIMESTAMP, tag STRING, amount INT",
    )
    row = temporal.asof_join(left, right, ["k"], "ts", ["tag", "amount"]).first()
    assert (row.tag_r, row.amount_r) == ("late", 200)


def test_salted_join_equivalent_to_plain_join(spark):
    left = spark.createDataFrame(
        [(i % 3, i) for i in range(100)], "k BIGINT, v BIGINT"
    )
    right = spark.createDataFrame(
        [(0, "x"), (1, "y"), (5, "z")], "k BIGINT, tag STRING"
    )
    plain = sorted(
        (r.k, r.v, r.tag) for r in left.join(right, ["k"], "inner").collect()
    )
    salted = sorted(
        (r.k, r.v, r.tag)
        for r in relational.salted_join(left, right, ["k"], n_salts=8).collect()
    )
    assert salted == plain
    left_out = sorted(
        (r.k, r.v, r.tag)
        for r in relational.salted_join(left, right, ["k"], n_salts=8, how="left").collect()
    )
    plain_left = sorted(
        (r.k, r.v, r.tag) for r in left.join(right, ["k"], "left").collect()
    )
    assert left_out == plain_left


# ----------------------------------------------------- gaps-and-islands


def test_runs_collapses_streaks(spark):
    rows = [
        # user 1: a a a b a  -> runs a(3), b(1), a(1)
        (1, 1, "a"), (1, 2, "a"), (1, 3, "a"), (1, 4, "b"), (1, 5, "a"),
        # user 2: b b -> one run of 2
        (2, 6, "b"), (2, 7, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, state string")
    got = {
        (r.user_id, r.run_start): (r.state, r.run_len, r.run_end)
        for r in temporal.runs(df, ["user_id"], "state", ["event_id"]).collect()
    }
    assert got[(1, 1)] == ("a", 3, 3)
    assert got[(1, 4)] == ("b", 1, 4)
    assert got[(1, 5)] == ("a", 1, 5)
    assert got[(2, 6)] == ("b", 2, 7)
    assert len(got) == 4


def test_locf_carries_last_non_null_per_key(spark):
    rows = [
        (1, 1, None), (1, 2, 5.0), (1, 3, None), (1, 4, 7.0), (1, 5, None),
        (2, 6, None),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, v double")
    out = {
        r.seq: r.filled
        for r in temporal.locf(df, "v", ["k"], ["seq"], out_col="filled").collect()
    }
    assert out[1] is None          # nothing observed yet
    assert out[2] == 5.0
    assert out[3] == 5.0           # carried forward
    assert out[4] == 7.0           # replaced by newer observation
    assert out[5] == 7.0
    assert out[6] is None          # other key unaffected


def test_date_spine_emits_zero_days(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "x"), ("2024-01-03 09:00:00", "x")],
        "ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    dims = df.select("tag").distinct()
    counts = df.groupBy(F.to_date("ts").alias("day"), "tag").agg(
        F.count("*").alias("n")
    )
    out = temporal.date_spine(df, "ts", dims, counts)
    got = {
        str(r.day): r.n
        for r in out.select("day", F.coalesce("n", F.lit(0)).alias("n")).collect()
    }
    # Jan 2 has no events but MUST appear as an explicit zero bucket
    assert got == {"2024-01-01": 1, "2024-01-02": 0, "2024-01-03": 1}


def test_interpolate_linear_matches_closed_form(spark):
    """interpolate_linear semantics on a hand-computable series: exact
    hits return the observation, interior points time-weight the
    brackets, points outside the observed range are NULL (no
    extrapolation)."""
    from pyspark.sql import functions as F

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        temporal,
    )

    obs = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 10.0, 20.0), ("a", 20.0, 0.0)],
        "k string, t double, v double",
    )
    spine = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", 2.5), ("a", 15.0), ("a", 20.0), ("a", 25.0)],
        "k string, t double",
    )
    got = {
        r.t: r.value_interp
        for r in temporal.interpolate_linear(
            obs, spine, ["k"], ts_col="t", value_col="v"
        ).collect()
    }
    assert got[-5.0] is None          # before first obs
    assert got[0.0] == 10.0           # exact hit
    assert got[2.5] == 12.5           # 10 + (20-10)*0.25
    assert got[15.0] == 10.0          # 20 + (0-20)*0.5
    assert got[20.0] == 0.0           # exact hit on last
    assert got[25.0] is None          # beyond last obs


def test_asof_join_forward_picks_earliest_at_or_after(spark):
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.temporal import (
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 99), (2, 5)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (3, 1, "z")],
        "k long, ts long, v string",
    )
    got = {
        (r.k, r.ts): r.v_r
        for r in asof_join_forward(
            left, right, ["k"], "ts", ["v"]
        ).collect()
    }
    # equal ts matches; next-at-or-after otherwise; no match → NULL
    assert got == {(1, 10): "a", (1, 25): "c", (1, 99): None, (2, 5): None}
