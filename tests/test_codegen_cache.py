"""The generated-class cache that `get_spark()` sizes, and PySpark's
call-site capture that it turns off.

Spark compiles generated code (whole-stage codegen, projections) into
classes and keeps them in one LRU cache per JVM. At Spark's default of
100 entries a rotating set of more distinct classes than that misses on
every access, so each pass recompiles what the last one compiled.
With call-site capture on, every `functions`/`Column` call makes about
8 extra py4j round trips.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    session,
)

KEY = "spark.sql.codegen.cache.maxEntries"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


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


def test_call_site_capture_is_off_and_a_caller_value_wins(monkeypatch):
    assert _built_conf(monkeypatch)[DEBUGGING] == "false"
    assert _built_conf(monkeypatch, extra_conf={DEBUGGING: "true"})[DEBUGGING] == "true"


def test_building_a_wide_select_is_cheap_in_py4j(spark, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting_send(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    df = spark.range(4)
    monkeypatch.setattr(client, "send_command", counting_send)
    df.select(*[(F.col("id") + k).alias(f"c{k}") for k in range(20)])
    monkeypatch.undo()
    # 725 with call-site capture on, 125 with it off
    assert len(sent) <= 300


def test_an_analysis_error_still_names_the_column(spark):
    with pytest.raises(AnalysisException, match="nope"):
        spark.range(1).select(F.col("nope"))
