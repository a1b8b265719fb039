"""Shared Spark fixture for the unit suite.

One session per pytest run (JVM startup is ~15 s — per-test sessions
would dominate runtime); small shuffle-partition count so tiny-fixture
shuffles don't fan out into hundreds of empty tasks.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (  # noqa: E402
    get_spark,
)


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="unit-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # bucketed-table tests saveAsTable into a throwaway warehouse
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="test_warehouse_"),
            # a caller's own worker PYTHONPATH, which get_spark() must keep
            # beside its start-up hook (test_worker_site)
            "spark.executorEnv.PYTHONPATH": tempfile.mkdtemp(prefix="test_worker_path_"),
        },
    )
    yield s


@pytest.fixture()
def tmp_dir(tmp_path):
    return str(tmp_path)
