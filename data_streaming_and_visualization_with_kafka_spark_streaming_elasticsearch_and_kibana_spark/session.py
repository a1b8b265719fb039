"""SparkSession factory.

Scale posture: every config here is chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged —
AQE handles runtime partition coalescing / skew splitting, session
timezone is pinned UTC for reproducible timestamp semantics (and
DuckDB-oracle parity), and Arrow is on for the (rare) Pandas-UDF paths.

Python workers get ``_worker_site/`` on their PYTHONPATH (through
``spark.executorEnv.PYTHONPATH``, ahead of any PYTHONPATH the caller
passes in ``extra_conf``). Spark starts each worker — tasks, Python
data-source planners, streaming-sink commits — with ``pyspark.zip``, the
py4j zip and the spark-core jar first on ``sys.path``, and every worker
call runs ``importlib.invalidate_caches()``, which on Python 3.11
re-reads the full index of each of those archives (about 6,700 entries
for Spark 4.1), three times on each micro-batch's blocking path through
the ``es_bulk_wire`` sink. The ``sitecustomize`` there drops the archives
when a directory install of pyspark and py4j with the same
``version.py`` files is further down the path, so workers import those
instead. It falls back to the unchanged path when either package has no
directory install, or when its version differs from what an archive
ships. Either way it then runs any ``sitecustomize`` it shadows. On a
cluster whose executors lack this directory, the entry names nothing
and workers start as Spark starts them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: start-up hook that keeps Spark's archives off the workers' sys.path
WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")


def get_spark(
    app_name: str = "sensor-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master``/memory come from spark-submit; local
    defaults target the test harness (local[N], N from SPARK_GRAFT_CPUS).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle partitions: ~cores locally; AQE coalesces at runtime so a
    # higher static value is safe on big inputs.
    nshuffle = shuffle_partitions or int(cpus if str(cpus).isdigit() else 32)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # legacy-generation test parquet stored TIMESTAMP(NANOS) — read
        # as long and convert explicitly (sources.readers.read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (WORKER_SITE, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
