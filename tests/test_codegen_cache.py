"""The generated-class cache that `get_spark()` sizes.

Spark compiles generated code (whole-stage codegen, projections) into
classes and keeps them in one LRU cache per JVM. At Spark's default of
100 entries a rotating set of more distinct classes than that misses on
every access, so each pass recompiles what the last one compiled.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    session,
)

KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_a_rotating_plan_set_compiles_once(spark):
    # a primitive literal is inlined into the generated source, so each
    # k yields its own class: 150 of them, more than Spark's default 100
    def one_pass():
        for k in range(1, 151):
            spark.range(8).select(F.col("id") * k + k).collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before == 0


class _Builder:
    """Records `config` calls as SparkSession.Builder does: last wins."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self

    @property
    def sparkContext(self):
        return self

    def setLogLevel(self, _level):
        pass


def _built_conf(monkeypatch, **kwargs) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark(master="local[1]", **kwargs)
    return builder.conf


def test_cache_bound_is_set_and_a_caller_value_wins(monkeypatch):
    assert _built_conf(monkeypatch)[KEY] == str(session.CODEGEN_CACHE_ENTRIES)
    assert _built_conf(monkeypatch, extra_conf={KEY: "123"})[KEY] == "123"
