"""Continuous aggregates — hypertable-style materialized rollups.

The TimescaleDB/"hypertable rollup" pattern re-expressed Spark-first:
at 100 TB the raw event history is append-only and cold, and re-scanning
it for every bucketed dashboard query is the anti-pattern. Instead the
bucketed rollup is materialized ONCE as parquet partitioned by day —
so an incremental refresh rewrites only the invalidated day partitions —
and a query unions that materialized history with a rollup of the fresh
tail computed from raw events. The only raw data a query touches is the
tail beyond the materialization watermark.

Correctness invariant: the bucket (minute) never straddles the watermark
because the watermark is a day boundary and day-truncation is coarser
than minute-truncation — so history buckets and tail buckets are
disjoint and the union IS the full rollup (no re-aggregation needed).
The differential gate pins this: q_hypertable_rollup must hash-match a
plain full-table GROUP BY in DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def minute_rollup_frame(
    df: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Shared rollup shape for both the materialized and the tail branch:
    (minute, *keys) → row count + exact integer-cents sum. The cents sum
    is a long, so partial/map-side aggregation is exact and the
    materialized numbers merge losslessly with the tail's."""
    ts = F.col(ts_col).cast("timestamp")
    cents = F.round(F.col(value_col) * 100).cast("long")
    return df.groupBy(
        F.date_trunc("minute", ts).alias("minute"), *keys
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("value_cents"),
    )


def materialization_watermark(df: DataFrame, ts_col: str = "ts"):
    """Day-boundary watermark: day-truncated max(ts). One parquet
    footer-stats scan at 100 TB (min/max per row group), a single scalar
    to the driver — the same watermark a continuous-aggregate refresh
    job would persist."""
    ts = F.col(ts_col).cast("timestamp")
    return df.agg(F.date_trunc("day", F.max(ts)).alias("w")).head()[0]


def materialize_history(
    df: DataFrame,
    path: str,
    watermark,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> None:
    """Write the pre-watermark rollup partitioned by day. Refresh story:
    late data for day D invalidates exactly partition dt=D — overwrite
    that directory, not the table (dynamic partition overwrite)."""
    ts = F.col(ts_col).cast("timestamp")
    hist = minute_rollup_frame(
        df.filter(ts < F.lit(watermark)), ts_col, keys, value_col
    ).withColumn("dt", F.to_date("minute"))
    hist.write.mode("overwrite").partitionBy("dt").parquet(path)


def continuous_aggregate(
    spark: SparkSession,
    raw: DataFrame,
    path: str,
    watermark,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    partition_col: str | None = None,
) -> DataFrame:
    """Materialized history ∪ fresh-tail rollup. Disjoint by the day/
    minute granularity argument above, so a plain unionByName is exact.

    `partition_col`: when the raw landing table is day-partitioned (the
    S5 layout this engine writes), name its date partition column and
    the tail filter becomes a PartitionFilter — the serve scan lists and
    reads ONLY the post-watermark day directories instead of row-group-
    filtering the whole history. A bare timestamp predicate cannot prune
    directories; the redundant-looking date predicate is what makes the
    tail O(tail) at 100 TB (measured by tools/scaling.py cagg)."""
    ts = F.col(ts_col).cast("timestamp")
    cols = ["minute", *keys, "n", "value_cents"]
    tail_src = raw
    if partition_col is not None:
        tail_src = tail_src.filter(
            F.col(partition_col) >= F.to_date(F.lit(watermark))
        )
    tail = minute_rollup_frame(
        tail_src.filter(ts >= F.lit(watermark)), ts_col, keys, value_col
    ).select(*cols)
    try:
        hist = spark.read.parquet(path).select(*cols)
    except Exception:
        # empty materialization (single-day corpus: everything is tail) —
        # a partition-dir parquet write with zero rows leaves no data
        # files to infer a schema from
        return tail
    return hist.unionByName(tail)


def ensure_materialized(
    spark: SparkSession,
    raw: DataFrame,
    path: str,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    partition_col: str | None = None,
) -> DataFrame:
    """Build-if-absent convenience used by the gated query.

    The watermark is FROZEN with the materialization (persisted in
    `_CAGG_META`) and reused on every serve — recomputing it from live
    data against a frozen history would silently drop any days that
    arrived in between (they'd be past the old history AND before the
    new watermark). A changed raw source needs a new `path` (the
    catalog's artifact store keys it on the source stats); rebuilding
    there re-freezes both."""
    import datetime
    import json

    meta_path = os.path.join(path, "_CAGG_META")
    if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
        meta_path
    ):
        with open(meta_path) as f:
            watermark = datetime.datetime.fromisoformat(
                json.load(f)["watermark"]
            )
    else:
        watermark = materialization_watermark(raw, ts_col)
        materialize_history(raw, path, watermark, ts_col, keys, value_col)
        with open(meta_path, "w") as f:
            json.dump({"watermark": watermark.isoformat()}, f)
    return continuous_aggregate(
        spark, raw, path, watermark, ts_col, keys, value_col, partition_col
    )

