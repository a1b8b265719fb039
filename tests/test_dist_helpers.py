"""Differential tests for the distributed total-order machinery —
_dist_rank (global row_number without a single-partition window) and
_dist_cumsum (global running totals, ditto) must agree EXACTLY with
the naive single-partition window formulations on data engineered to
stress their edges: duplicate keys straddling would-be boundaries,
cutpoints equal to data values, empty buckets, and a cutpoint list
with duplicates."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from catalog.stats import _cut_bucket, _dist_cumsum, _dist_rank


def _naive_rank(df, key, tie, out):
    w = Window.orderBy(F.asc(key), F.asc(tie))
    return df.withColumn(out, F.row_number().over(w))


ROWS = [
    # (key, tie, val) — duplicate keys 5 and 9, values hitting cutpoints
    (1, 10, 3),
    (5, 11, 1),
    (5, 12, 4),
    (5, 13, 1),
    (9, 14, 5),
    (9, 15, 9),
    (2, 16, 2),
    (7, 17, 6),
    (20, 18, 5),
    (0, 19, 3),
]


def test_dist_rank_matches_naive_window(spark):
    df = spark.createDataFrame(ROWS, "k long, t long, v long")
    for cuts in ([5.0], [0.0, 5.0, 9.0, 9.0], [2.5, 7.5], [100.0]):
        got = {
            (r.k, r.t): r.rk
            for r in _dist_rank(df, "k", "t", "rk", cuts).collect()
        }
        want = {
            (r.k, r.t): r.rk
            for r in _naive_rank(df, "k", "t", "rk").collect()
        }
        assert got == want, cuts


def test_dist_rank_precomputed_counts_path(spark):
    df = spark.createDataFrame(ROWS, "k long, t long, v long")
    cuts = [4.0, 8.0]
    part = df.withColumn("__pid", _cut_bucket("k", cuts))
    counts = {
        r["__pid"]: r["n"]
        for r in part.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    got = {
        (r.k, r.t): r.rk
        for r in _dist_rank(
            df, "k", "t", "rk", cuts, counts
        ).collect()
    }
    want = {
        (r.k, r.t): r.rk for r in _naive_rank(df, "k", "t", "rk").collect()
    }
    assert got == want


def test_dist_cumsum_matches_naive_window(spark):
    df = spark.createDataFrame(ROWS, "k long, t long, v long")
    w = (
        Window.orderBy(F.asc("k"), F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.k, r.t): r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    for cuts in ([5.0], [0.0, 5.0, 9.0], [3.0, 6.0, 100.0]):
        got = {
            (r.k, r.t): r.cum_v
            for r in _dist_cumsum(
                df, "k", "t", ["v"], cuts
            ).collect()
        }
        assert got == want, cuts


def test_dist_cumsum_multiple_columns(spark):
    df = spark.createDataFrame(ROWS, "k long, t long, v long").withColumn(
        "w", F.col("v") * 2 + 1
    )
    w = (
        Window.orderBy(F.asc("k"), F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = df.withColumn("cv", F.sum("v").over(w)).withColumn(
        "cw", F.sum("w").over(w)
    )
    want = {(r.k, r.t): (r.cv, r.cw) for r in naive.collect()}
    got = {
        (r.k, r.t): (r.cum_v, r.cum_w)
        for r in _dist_cumsum(
            df, "k", "t", ["v", "w"], [4.0, 9.0]
        ).collect()
    }
    assert got == want
