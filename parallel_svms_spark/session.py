"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this
process may run on) and a ``$SPARK_GRAFT_DRIVER_MEM`` driver heap
(default: half of physical memory); the same config block
is what we would ship to a 1000-executor cluster (AQE on, adaptive
skew-join, Arrow for the Pandas-UDF path, UTC session TZ so results
hash-match a UTC-naive DuckDB oracle).

Its Python workers fork from ``_worker_daemon`` instead of
``pyspark.daemon``. Spark calls ``importlib.invalidate_caches()``
before every Python task, and on CPython 3.11-3.12 that makes each
cached zip importer re-read its archive (the Spark jar and pyspark.zip
on the workers' path): 150-300 ms of CPU per task. The daemon's zip
importers keep the index they read once. A session this module did not
build (such as an external driver's) keeps the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the parallel_svms_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_resources(environ, n_cpus: int, phys_bytes: int
                    ) -> tuple[int, str]:
    """(local master core count, driver heap) for ``get_spark``.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` win when set;
    otherwise the cores this process may run on and half of physical
    memory (whole gigabytes, at least 1g).
    """
    cpus = int(environ.get("SPARK_GRAFT_CPUS") or n_cpus)
    mem = (environ.get("SPARK_GRAFT_DRIVER_MEM")
           or f"{max(1, phys_bytes // 2 // 2**30)}g")
    return cpus, mem


def get_spark(app_name: str = "parallel_svms_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    on a real cluster this would be ~2-3× total executor cores; AQE
    coalesces downward at runtime either way.

    The Python workers start from ``parallel_svms_spark._worker_daemon``
    (see the module docstring), so the package's root goes on their
    path through ``spark.executorEnv.PYTHONPATH``; Spark merges it with
    the environment's ``PYTHONPATH``. Without it, a driver that imports
    the package only through its own ``sys.path`` could start no Python
    worker at all.
    """
    cpus, driver_mem = local_resources(
        os.environ, len(os.sched_getaffinity(0)),
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # compat only: current fixtures write events.ts as timestamp[us]
        # (no tz) ⇒ TIMESTAMP_NTZ, normalized in io.sources.load_table;
        # this flag covers older TIMESTAMP(NANOS) layouts which Spark's
        # reader otherwise rejects (read as long, loader converts ns→µs
        # matching DuckDB's truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module",
                "parallel_svms_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
