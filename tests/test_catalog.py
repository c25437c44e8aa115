"""The lazy testdata catalog: a builder pays only for the tables it
reads, while iteration and the Engine still see all of TABLES."""

from __future__ import annotations

import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from iceberg_twist_spark.catalog import TABLES, load_tables, register_views


def _jobs_launched(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or ())
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None) or ()) - before)


def test_one_table_costs_at_most_one_job(spark, sf_dir):
    df, n_jobs = _jobs_launched(spark, lambda: load_tables(spark, sf_dir)["documents"])
    assert "doc_id" in df.columns
    assert n_jobs <= 1, f"reading one table launched {n_jobs} jobs"


def test_tables_are_read_once_per_mapping(spark, sf_dir):
    tables = load_tables(spark, sf_dir)
    assert tables["orders"] is tables["orders"]
    _, n_jobs = _jobs_launched(spark, lambda: tables["orders"])
    assert n_jobs == 0


def test_mapping_surface(spark, sf_dir):
    tables = load_tables(spark, sf_dir)
    assert list(tables) == list(TABLES)
    assert len(tables) == len(TABLES)
    assert "lineitem" in tables and "nope" not in tables
    with pytest.raises(KeyError):
        tables["nope"]
    with pytest.raises(TypeError):
        tables["orders"] = tables["orders"]


def test_events_ts_is_timestamp(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = load_tables(spark, sf_dir)["events"].schema["ts"].dataType
    assert isinstance(ts, (TimestampType, TimestampNTZType))
    # nanosecond timestamps arrive as int64 and are floor-truncated to µs
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    events = load_tables(spark, str(tmp_path))["events"]
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    assert events.selectExpr("unix_micros(ts)").first()[0] == ns // 1000


def test_engine_registers_every_view(spark, sf_dir):
    from iceberg_twist_spark.api import Engine

    for t in TABLES:
        spark.catalog.dropTempView(t)
    Engine(spark, sf_dir)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert set(TABLES) <= views


def test_register_views_registers_only_the_named_tables(spark, sf_dir):
    for t in TABLES:
        spark.catalog.dropTempView(t)
    _, n_jobs = _jobs_launched(spark, lambda: register_views(spark, sf_dir, ("part", "nation")))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(TABLES) == {"part", "nation"}
    assert n_jobs <= 2


def test_subquery_builder_reads_only_its_tables(spark, sf_dir):
    """q_subq_scalar queries ``part`` alone: one table read, where
    registering every view cost ten."""
    from iceberg_twist_spark.registry import REGISTRY, _load_all_modules

    _load_all_modules()
    df, n_jobs = _jobs_launched(spark, lambda: REGISTRY["q_subq_scalar"].builder(spark, sf_dir))
    assert df.columns == ["p_partkey", "p_retailprice"]
    assert n_jobs <= 1
