"""Helpers every catalog family shares: table reads, the float policy
with its DuckDB twins, epoch seconds, and the SQL fragments several
oracles inline.

Float policy: aggregates of fixed-decimal float columns are quantized to
integer "cents" BEFORE aggregation (exact, order-independent sums) and
outputs are floor-quantized (floor(x*10^d + 0.5)/10^d) instead of
ROUND()ed — Spark rounds the shortest-decimal repr (HALF_UP) while
DuckDB rounds the binary double, so ROUND diverges on midpoints.
Integral sums, window deltas and counts are exact and left raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources import (
    readers,
)


def _cents(col: F.Column | str, scale: int = 100) -> F.Column:
    """Quantize a fixed-decimal-valued double to integer 'cents'.

    Sums/avgs over the resulting longs are exact integers (< 2^53), so
    they are independent of partition/accumulation order — the oracle
    hash can't be tripped by float sum-order nondeterminism.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("long")


def _q(col: F.Column, digits: int) -> F.Column:
    """floor-quantize to `digits` decimals: floor(x*10^d + 0.5) / 10^d.

    Unlike ROUND, this is bit-deterministic across engines: Spark rounds
    the shortest decimal repr (HALF_UP on BigDecimal) while DuckDB rounds
    the binary double, so ROUND diverges on .xxx5 midpoints; floor of the
    identical double is identical everywhere.
    """
    p = 10 ** digits
    return F.floor(col * p + F.lit(0.5)) / F.lit(float(p))


def _sql_q(expr: str, digits: int) -> str:
    p = 10 ** digits
    return f"FLOOR(({expr}) * {p} + 0.5) / {p}.0"


def _cents_avg(col: F.Column | str, scale: int = 100, digits: int = 4) -> F.Column:
    return _q(F.avg(_cents(col, scale)) / float(scale), digits)


def _cents_sum(col: F.Column | str, scale: int = 100, digits: int = 2) -> F.Column:
    return _q(F.sum(_cents(col, scale)) / float(scale), digits)


#: SQL twins of _cents_avg/_cents_sum (DuckDB)
def _sql_cents_avg(expr: str, scale: int = 100, digits: int = 4) -> str:
    inner = f"AVG(CAST(ROUND(({expr}) * {scale}, 0) AS BIGINT)) / {scale}.0"
    return _sql_q(inner, digits)


def _sql_cents_sum(expr: str, scale: int = 100, digits: int = 2) -> str:
    # ({expr}) — callers pass additive expressions (e.g. Q9's profit);
    # without the parens the scale would bind only to the last term
    inner = f"SUM(CAST(ROUND(({expr}) * {scale}, 0) AS BIGINT)) / {scale}.0"
    return _sql_q(inner, digits)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.read_table(spark, sf_dir, name)


def _epoch_sec(col: F.Column | str) -> F.Column:
    """Epoch seconds (double) from any timestamp flavor.

    TIMESTAMP_NTZ cannot be cast to a numeric directly; routing through
    TIMESTAMP first is legal for both NTZ and LTZ inputs, and with the
    session timezone pinned UTC (read_table does this) the NTZ wall time
    IS the UTC instant — identical to DuckDB's epoch(ts) on naive ts.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


_WS_TOKENS = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END"
)

_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
