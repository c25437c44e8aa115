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

Two functions concern the engine's code on the Python workers:
``ensure_package_shipped`` puts the package on their import path, and
``skip_unchanged_zip_rereads`` (installed when a worker first imports
the package) stops each task from re-parsing every zip archive on that
path when the archives have not changed.
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
_PKG_ZIP: str | None = None


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Module-level UDFs (pandas_udf / applyInPandasWithState functions)
    are cloudpickled BY REFERENCE — the worker re-imports
    ``iceberg_twist_spark``, which only works if the package is on the
    worker's import path. Locally that held accidentally via the
    driver cwd; on a real cluster (or a driver running from another
    directory) it does not. Same mechanism as ``spark-submit
    --py-files``: zip the package once per process, under a name no
    other process holds, and register it with the SparkContext.
    ``addPyFile`` copies the zip into the context's files directory,
    so it is removed when the interpreter exits.
    """
    import atexit
    import pathlib
    import tempfile
    import zipfile

    global _PKG_ZIP
    sc = spark.sparkContext
    key = sc.applicationId
    if _SHIPPED.get(key):
        return
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, path = tempfile.mkstemp(prefix="itws_pkg_", suffix=".zip")
        with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        atexit.register(pathlib.Path(path).unlink, missing_ok=True)
        _PKG_ZIP = path
    sc.addPyFile(_PKG_ZIP)
    _SHIPPED[key] = True


_ZIP_REREAD = None  # zipimporter.invalidate_caches as the stdlib has it


def skip_unchanged_zip_rereads() -> None:
    """In a Python worker, re-read a zip archive's directory on
    ``importlib.invalidate_caches()`` only when the archive changed.

    PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    at the start of every task. Up to CPython 3.12 that makes every
    ``zipimporter`` on ``sys.path`` parse its archive's whole directory
    again (``pyspark.zip`` through a dozen importers, the spark-core
    jar, py4j, this package's zip): about 0.2 CPU-s per task (PERF.md,
    "Per-task Python cost"). Here each importer keeps the
    ``(st_mtime_ns, st_size, st_ino)`` of its archive and calls the
    stdlib method only when that changed or cannot be read, the
    freshness rule ``FileFinder`` applies to directories. The
    importers already cached are stamped as they are: the task's
    ``setup_spark_files`` re-read them moments ago.

    Inert in the driver and wherever ``zipimporter`` already re-reads
    lazily (CPython 3.13 has ``_get_files``).
    """
    import sys
    import zipimport

    from pyspark import TaskContext

    global _ZIP_REREAD
    importer = zipimport.zipimporter
    if (
        _ZIP_REREAD is not None
        or TaskContext.get() is None
        or hasattr(importer, "_get_files")
    ):
        return
    _ZIP_REREAD = reread = importer.invalidate_caches

    def stamp(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self) -> None:
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_itws_stamp", None):
            reread(self)
            self._itws_stamp = now

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, importer):
            finder._itws_stamp = stamp(finder.archive)
    importer.invalidate_caches = invalidate_caches
