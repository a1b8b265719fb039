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

For a ``local[...]`` master, Hadoop's local file systems come from
``local_fs``: without libhadoop, stock Hadoop starts a ``chmod`` or
``readlink`` child process for each offset-log, commit-log and
state-store file of every micro-batch. The first session built from a
checkout compiles ``_jvm/NoForkLocalFs.java`` with ``javac`` against
Spark's ``hadoop-client-api`` jar (about 1.5 s) into a jar under
``_jvm/build/`` (git-ignored; the temp directory when the package
directory is read-only), keyed on the source, the Hadoop jar name and
the JDK of ``javac`` (its path, stat and ``release`` file); later
sessions and processes reuse it. The jar goes first on
``spark.driver.extraClassPath`` (a caller's value is kept after it) and
its classes are named in ``spark.hadoop.fs.file.impl`` and
``spark.hadoop.fs.AbstractFileSystem.file.impl``. With no ``javac``, a
failed compile or a non-local master the conf is left as it is, stock
Hadoop runs, and a failure is logged once.

Spark keeps the classes it compiles for generated code (whole-stage
codegen, projections, predicates) in one LRU cache per JVM, keyed on
the generated source. Its default size, 100 entries
(``spark.sql.codegen.cache.maxEntries``), is far below the catalog's
working set: a process that re-runs a query mix larger than the cache
cycles through it, so every access misses and each pass recompiles
what the last one compiled. One pass over the 274 queries at sf0.001
compiles about 4,000 distinct classes, at roughly 8 KB of metaspace
each; a second pass in the same process compiled 5,913 classes again at
the default size and 164 with this bound (4 vCPUs).
``CODEGEN_CACHE_ENTRIES`` holds that working set twice over for at most
about 65 MB of metaspace. It is a static conf: it takes effect only when
``get_spark`` builds the JVM's first session (before anything has
generated code), and a caller's value in ``extra_conf`` wins.

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled``, default ``true``).
With it on, every ``functions``/``Column`` call records where in the
Python source it was made: it fetches the active session, looks up the
JVM's ``PySparkCurrentOrigin`` by reflection, reads the conf, then sets
and clears the origin, about 8 py4j round trips per call, and it walks
the Python stack (retrying a failing ``import IPython`` against
``sys.path`` each time). Building ``tpch_q1`` took 877 round trips with
it and 227 without; a 20-column ``select`` took 725 and 125 (4 vCPUs).
What is lost: an analysis error's DataFrame query context no longer
names the Python file and line of the failing call. The exception, its
class and its message are unchanged. PySpark reads the flag once per
process, at the first such call made while a session is active, and
keeps it, so a value set after that takes no effect; a caller's value
in ``extra_conf`` wins.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .local_fs import local_fs_conf

#: start-up hook that keeps Spark's archives off the workers' sys.path
WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")

#: compiled generated classes one JVM keeps (Spark's default: 100)
CODEGEN_CACHE_ENTRIES = 8192


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
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (WORKER_SITE, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    # a driver JVM that is already up keeps the class path it started with
    gateway = SparkContext._gateway
    running = gateway.jvm.System.getProperty("java.class.path") if gateway else None
    conf = local_fs_conf(master, conf, running_classpath=running)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
