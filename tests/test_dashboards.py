"""Dashboard panel compiler tests (the Kibana-equivalent layer)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    dashboards,
    relational,
)


@pytest.fixture()
def readings(spark):
    rows = [
        (dt.datetime(2024, 1, 1, 10, 0), "r1", 21.0),
        (dt.datetime(2024, 1, 1, 10, 30), "r1", 23.0),
        (dt.datetime(2024, 1, 1, 11, 0), "r2", 19.0),
        (dt.datetime(2024, 1, 2, 9, 0), "r1", 20.0),
    ]
    return spark.createDataFrame(rows, "ts TIMESTAMP, room STRING, temp DOUBLE")


def test_date_histogram_panel_with_split(readings):
    panel = dashboards.build_panel(
        readings,
        {
            "kind": "date_histogram",
            "ts": "ts",
            "interval": "day",
            "split": "room",
            "metrics": {"avg_temp": F.avg("temp").alias("avg_temp")},
        },
    )
    got = {
        (r.bucket.date().isoformat(), r.room): r.avg_temp for r in panel.collect()
    }
    assert got == {
        ("2024-01-01", "r1"): 22.0,
        ("2024-01-01", "r2"): 19.0,
        ("2024-01-02", "r1"): 20.0,
    }


def test_terms_and_metric_panels(readings):
    top_rooms = dashboards.build_panel(
        readings, {"kind": "terms", "key": "room", "k": 1}
    )
    totals = dashboards.build_panel(
        readings, {"kind": "metric", "metrics": {"n": F.count("*").alias("n")}}
    )
    assert [(r.room, r.doc_count) for r in top_rooms.collect()] == [("r1", 3)]
    assert totals.first().n == 4


def test_unknown_panel_kind_raises(readings):
    with pytest.raises(ValueError, match="unknown panel kind"):
        dashboards.build_panel(readings, {"kind": "pie"})


def test_shuffled_within_partitions_preserves_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "id BIGINT")
    out = relational.shuffled_within_partitions(df, seed=7, num_partitions=4)
    assert sorted(r.id for r in out.collect()) == list(range(100))
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans.explain import (
        formatted_plan,
    )
    plan = formatted_plan(out)
    # local sort after a hash scatter — a GLOBAL random sort would need
    # rangepartitioning (sampling pass + skew-prone ordering exchange)
    assert "Sort" in plan
    assert "rangepartitioning" not in plan.lower()
