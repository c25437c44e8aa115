"""SparkSession construction tuned for the engine.

Local testing runs ``local[N]`` single-JVM; the configs below are the
ones that matter identically on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion) — the 100 TB safety net.
- Arrow on — every pandas UDF crosses Python↔JVM in columnar batches.
- ``spark.sql.shuffle.partitions`` a fixed DEFAULT_SHUFFLE_PARTITIONS
  (32) unless the caller passes ``shuffle_partitions``; it is a
  starting point that AQE coalesces per-stage, locally and on a
  cluster alike.
- Session timezone pinned to UTC so event-time semantics (and the
  DuckDB oracle comparisons) are wall-clock independent.
- The driver JVM's C2 (tier-4) compile thresholds raised to 5x the
  JDK 17 defaults (``DRIVER_JIT_POLICY``). A session runs hundreds of
  small plans, so thousands of framework methods each cross the default
  thresholds once and C2 compiles them for a few more calls; that
  compile CPU outweighed the task threads (PERF.md, "JVM compilation
  policy"). C1 is unchanged and truly hot loops still reach C2. It is
  set through ``spark.driver.defaultJavaOptions``, which the launcher
  prepends to ``extraJavaOptions``, so a caller's own options still
  apply. Executors keep the JVM defaults: on a cluster they are
  long-lived and run the hot loops (in ``local[N]`` the driver JVM runs
  the tasks too).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# JDK 17 defaults: 5000 / 600 / 15000 / 40000
DRIVER_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def get_spark(
    app_name: str = "iceberg-twist-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_POLICY)
        # big-twin sweeps (sf3: full-scan queries return 18M rows ≈
        # 1.5 GB of Arrow batches) exceed the 1g default; the driver
        # heap above is sized to hold this
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def pin_session_defaults(spark: SparkSession) -> None:
    """Pin runtime-settable confs that query determinism relies on.

    Called by the catalog loader so queries behave identically under
    the driver's own SparkSession (whose build-time config we don't
    control). Only runtime-mutable SQL confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # The events fixture stores ns-precision timestamps, which the
    # Spark 4 parquet reader rejects outright; read them as raw int64
    # nanos (the catalog loader converts to µs TimestampType).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_package_shipped(spark)


_SHIPPED: dict[str, bool] = {}


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Module-level UDFs (pandas_udf / applyInPandasWithState functions)
    are cloudpickled BY REFERENCE — the worker re-imports
    ``iceberg_twist_spark``, which only works if the package is on the
    worker's import path. Locally that held accidentally via the
    driver cwd; on a real cluster (or a driver running from another
    directory) it does not. Same mechanism as ``spark-submit
    --py-files``: zip the package once per process and register it
    with the SparkContext.
    """
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = sc.applicationId
    if _SHIPPED.get(key):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"itws_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED[key] = True
