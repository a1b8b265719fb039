"""Continuous-aggregate (hypertable rollup) semantics — operators.rollup.

Pins the two load-bearing claims: (1) materialized history ∪ fresh tail
equals the full rollup exactly (the day/minute disjointness argument);
(2) the materialized layout is partitioned by day, so a late-data
refresh touches one directory.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    rollup,
)


def _events(spark, n=500):
    base = datetime.datetime(2024, 1, 1)
    return spark.range(n).select(
        (F.lit(base) + F.make_interval(mins=(F.col("id") * 7) % 4000)).alias(
            "ts"
        ),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        ((F.col("id") % 100) / 10.0).alias("value"),
    )


def test_history_plus_tail_equals_full_rollup(spark, tmp_dir):
    ev = _events(spark)
    path = os.path.join(tmp_dir, "cagg")
    got = rollup.ensure_materialized(spark, ev, path)
    full = rollup.minute_rollup_frame(ev)
    assert got.count() == full.count()
    assert (
        got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0
    )


def test_materialized_layout_is_day_partitioned(spark, tmp_dir):
    ev = _events(spark)
    path = os.path.join(tmp_dir, "cagg")
    rollup.ensure_materialized(spark, ev, path)
    dt_dirs = [d for d in os.listdir(path) if d.startswith("dt=")]
    # 4000 minutes ≈ 2.8 days; watermark cuts the last partial day to the
    # tail, leaving at least the first two full days materialized
    assert len(dt_dirs) >= 2


def test_tail_reads_only_post_watermark_rows(spark, tmp_dir):
    ev = _events(spark)
    path = os.path.join(tmp_dir, "cagg")
    w = rollup.materialization_watermark(ev)
    rollup.materialize_history(ev, path, w)
    hist = spark.read.parquet(path)
    # nothing at-or-after the watermark is materialized
    assert hist.filter(F.col("minute") >= F.lit(w)).count() == 0
    # and the union still accounts for every raw row
    agg = rollup.continuous_aggregate(spark, ev, path, w)
    assert agg.agg(F.sum("n")).head()[0] == ev.count()


def test_tail_scan_prunes_day_partitions(spark, tmp_dir):
    """With a day-partitioned landing table and partition_col set, the
    tail side of the serve plan must carry the watermark as a
    PartitionFilter on dt — directory pruning, not row filtering."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans.explain import (
        formatted_plan,
    )

    ev = _events(spark)
    land = os.path.join(tmp_dir, "land")
    ev.withColumn("dt", F.to_date("ts")).write.partitionBy("dt").parquet(land)
    raw = spark.read.parquet(land)
    w = rollup.materialization_watermark(raw)
    mat = os.path.join(tmp_dir, "cagg")
    rollup.materialize_history(raw, mat, w)
    served = rollup.continuous_aggregate(
        spark, raw, mat, w, partition_col="dt"
    )
    plan = formatted_plan(served)
    # the landing-table scan (the one over `land`) must show a dt bound
    assert any(
        "PartitionFilters" in s and "dt" in s.split("PartitionFilters")[1][:200]
        for s in plan.split("Scan parquet") if "land" in s[:800]
    ), plan[:1500]
    # and the union still equals the full rollup
    full = rollup.minute_rollup_frame(raw)
    assert served.exceptAll(full).count() == 0
    assert full.exceptAll(served).count() == 0


def test_frozen_watermark_covers_late_arriving_days(spark, tmp_dir):
    """Regression: ensure_materialized must reuse the watermark FROZEN at
    materialization time. Recomputing it from live data would drop every
    day that arrived between the old and new max(ts) — they'd be past
    the frozen history AND before the recomputed watermark."""
    ev1 = _events(spark, 300)  # spans ~1.5 days from 2024-01-01
    path = os.path.join(tmp_dir, "cagg")
    got1 = rollup.ensure_materialized(spark, ev1, path)
    assert got1.agg(F.sum("n")).head()[0] == 300
    # two more days of data arrive AFTER materialization
    ev2 = _events(spark, 500)
    got2 = rollup.ensure_materialized(spark, ev2, path)
    assert got2.agg(F.sum("n")).head()[0] == 500  # nothing dropped
