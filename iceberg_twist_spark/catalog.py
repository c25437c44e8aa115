"""Testdata catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier
part orders lineitem events documents embeddings — one parquet file
each under a scale-factor directory.

At 100 TB these would be partitioned Iceberg tables; the loader stays
a thin seam so the same query builders run against
``spark.read.parquet`` locally and ``spark.table('db.t')`` on a
cluster.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from iceberg_twist_spark.session import pin_session_defaults

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer `div` — a double division would lose precision on
        # 1.7e18-scale nanosecond values (53-bit mantissa)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


class _LazyTables(Mapping):
    """Read-only ``name -> DataFrame`` view over TABLES that reads each
    table on first access and keeps it for the life of the mapping."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        if name not in self._dfs:
            self._dfs[name] = _read_table(self._spark, self._sf_dir, name)
        return self._dfs[name]

    def __contains__(self, name: object) -> bool:
        return name in TABLES

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Every testdata table as a read-only mapping keyed by table name.

    Each table is read (``spark.read.parquet``, one schema-inference
    job) on first access and kept for this mapping, so a builder that
    uses one table pays for one read, not ten. Iteration yields all of
    TABLES in order.

    ``events.ts`` arrives as int64 nanoseconds (see
    session.pin_session_defaults) and is floor-truncated to a µs
    TimestampType on read — the same truncation DuckDB applies when
    casting TIMESTAMP_NS to TIMESTAMP, so oracles agree.
    """
    pin_session_defaults(spark)
    return _LazyTables(spark, sf_dir)


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> Mapping[str, DataFrame]:
    """Load tables and register each of ``names`` (default: all of
    TABLES) as a temp view for spark.sql. Each registered view costs
    one read, so a builder names only the tables its SQL queries."""
    dfs = load_tables(spark, sf_dir)
    for name in names:
        dfs[name].createOrReplaceTempView(name)
    return dfs
