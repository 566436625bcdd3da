"""SparkSession factory.

Local-mode settings tuned for the sandbox (one JVM, N threads), with the
conf surface a 1000-executor deployment would override via spark-submit:
shuffle partitioning, AQE (incl. skew-join splitting), Arrow batching for
the pandas-UDF kernels, UTC session timezone (required for DuckDB oracle
parity — duckdb timestamps are UTC-naive).

Defaults come from the host: ``local[os.cpu_count()]`` and a driver heap
of a quarter of RAM, 1-24 GB. ``SPARK_GRAFT_CPUS`` / ``cpus`` and
``SPARK_DRIVER_MEM`` override them exactly.

Python workers are forked by ``pyworker`` (``spark.python.daemon.module``),
not ``pyspark.daemon``. On Python < 3.13 every task's
``importlib.invalidate_caches()`` re-reads the central directory of
``pyspark.zip`` once per zip importer (~0.25 s of CPU per task, more than the
kernels spend on a 250-page task); ``pyworker`` re-reads an archive only
when it changed. Delete ``pyworker`` and the two settings below once workers run
Python >= 3.13, where the call no longer reads archives. The daemon imports
this package before any ``--py-files`` are shipped, so the package's parent
directory goes on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """A quarter of the host's RAM (``MemTotal``), clamped to 1-24 GB."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(24, ram // (4 << 30)))}g"


def get_spark(
    cpus: int | None = None,
    app_name: str = "ksana_corpus_builder_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to ``2 * cpus`` locally; on a real
    cluster this is sized so one shuffle partition ~ 128-256 MB of the
    target table (for 100 TB input, O(500k) map partitions feed AQE which
    coalesces post-shuffle — we set a high initial number and let
    ``spark.sql.adaptive.coalescePartitions`` shrink it).
    """
    cpus = cpus or _DEFAULT_CPUS
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    conf = dict(extra_conf or {})
    path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = (
        _PACKAGE_PARENT + (os.pathsep + path if path else ""))
    conf["spark.python.daemon.module"] = "ksana_corpus_builder_spark.pyworker"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast anything under 64 MB — dimension tables, stopword dicts
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
