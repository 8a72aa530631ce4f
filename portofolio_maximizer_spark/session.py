"""SparkSession factory.

Local testing runs on ``local[N]`` but every conf below is chosen for the
1000-executor / 100 TB target:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- broadcast threshold raised so dimension tables (region/nation/supplier,
  signal/config tables in the trading surface) never shuffle;
- Arrow enabled for every pandas-UDF exchange;
- shuffle partitions sized for the local core count — on a real cluster this
  is overridden (AQE coalescing makes over-partitioning cheap, so scale this
  with cluster cores, not data size);
- Python call-site capture off: with it on, every Column operator makes
  about nine extra py4j round trips to record its ``file:line``, the bulk
  of DAG-build traffic; errors keep their class and message and lose only
  that Python ``file:line`` fragment;
- one Python worker pool per session: Spark keys its worker pools on the
  workers' environment, and SQL-side Python (``applyInArrow``,
  ``mapInArrow``, Python UDFs) adds ``SPARK_SIMPLIFIED_TRACEBACK=1`` that
  RDD tasks do not, so with simplified tracebacks on, the first grouped
  fit after any RDD Python job starts a second daemon and a second set of
  workers. With them off, every Python path shares the warm workers; a
  UDF error still raises ``PythonException`` with the original exception
  class and message, and its traceback keeps PySpark's own worker frames;
- Python workers fork from a daemon that has already imported ``pyarrow``
  and ``pandas`` (``worker_daemon``): pyarrow's pandas shim imports pandas
  on a process's first ``pa.array``/``pa.table``/``to_numpy``, which every
  Arrow grouped fit calls, and Spark hands out idle workers first in,
  first out, so on a cold session each group of a fit would pay that
  import on a fresh worker. The daemon pays it once, at pool start.
  Before that it drops from ``sys.path`` the archives Spark prepends that
  add nothing: ``pyspark.zip`` and the py4j zip when the installed
  release matches, and jars with no Python. Workers then import PySpark
  from the installed package's cached bytecode (the zip has none: 0.62 s
  of compiling per daemon start), and each task's
  ``invalidate_caches()`` re-reads no archive index (105-121 ms per
  task). With no matching release installed the zips stay.
  Workers get this package's parent directory on their ``PYTHONPATH``, so
  they can start that daemon whatever the driver's working directory. The
  daemon conf is static: a session built elsewhere (the driver's vanilla
  one) keeps PySpark's plain daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: the directory holding this package, for the workers' import path
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "portofolio_maximizer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- shuffle / parallelism ---
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # --- adaptive execution: runtime coalescing + skew handling ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- broadcast dims aggressively (region/nation/supplier/part) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for every pandas-UDF / toPandas exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- timestamps: UTC everywhere (reference normalizes to UTC) ---
        .config("spark.sql.session.timeZone", "UTC")
        # Read un-adjusted parquet timestamps as TIMESTAMP_LTZ, not NTZ:
        # the session TZ is pinned to UTC so the instant is identical, and
        # LTZ supports the epoch arithmetic (cast to double / unix_micros)
        # the windowing + validation operators rely on.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- parquet: pushdown on (default, stated for clarity) ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- DAG build: no per-Column-op call-site capture (see above) ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- Python workers: one pool for RDD and SQL paths (see above) ---
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        # --- Python workers fork with the Arrow stack imported (see above) ---
        .config("spark.python.daemon.module", "portofolio_maximizer_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
