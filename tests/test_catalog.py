"""Catalog and session-factory contracts."""

from __future__ import annotations

import os

import pytest

from pipeline_query_engine_demo_spark.sources.catalog import TABLES, load_table, register_views


def test_unknown_table_rejected(spark, sf_dir):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, sf_dir, "nope")


def test_events_ts_is_microsecond_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    row = df.selectExpr("max(ts) AS m").collect()[0]
    assert row.m.year >= 2024


def test_register_views_covers_all_tables(spark, sf_dir):
    tables = register_views(spark, sf_dir)
    assert set(tables) == set(TABLES)
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0].n > 0


def test_events_loader_handles_both_timestamp_generations(spark, tmp_path):
    """The fixture has shipped with two ts physical types (ns, then µs
    NTZ). The loader must normalize BOTH to a session-zoned timestamp:
    the ns generation by BIGINT read + integer truncation (exactly
    DuckDB's ns→µs narrowing), the µs generation by an NTZ cast. The
    current testdata only exercises one branch, so this test synthesizes
    the other generation and pins its semantics against regression."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import pyspark.sql.functions as F

    ns_dir = tmp_path / "gen_ns"
    ns_dir.mkdir()
    # 1.5 µs past the second: truncation (not rounding) must keep .000001
    ts_ns = pa.array([1704067200_000_001_500], pa.timestamp("ns"))
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_ns,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(table, str(ns_dir / "events.parquet"))

    df = load_table(spark, str(ns_dir), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")).collect()[0].s
    assert got == "2024-01-01 00:00:00.000001"


def test_shuffle_partitions_follow_session_cores(spark):
    """One shuffle (and streaming state) partition per core, not a fixed
    count: the factory's default is the session's defaultParallelism."""
    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)


def test_shuffle_partitions_override_wins(spark):
    from pipeline_query_engine_demo_spark.session import get_spark, held_confs

    key = "spark.sql.shuffle.partitions"
    with held_confs(spark, {key: spark.conf.get(key)}):  # restores after the override
        assert get_spark("pytest", **{key: "7"}).conf.get(key) == "7"


def _mem_mib(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_driver_memory_fits_physical_memory():
    from pipeline_query_engine_demo_spark.session import _default_driver_memory

    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap = _mem_mib(_default_driver_memory())
    assert 0 < heap <= total_kib // 1024
    assert heap <= 16 * 1024


def test_default_driver_memory_falls_back_without_meminfo(tmp_path):
    from pipeline_query_engine_demo_spark.session import _default_driver_memory

    assert _mem_mib(_default_driver_memory(str(tmp_path / "absent"))) == 16 * 1024


def test_python_datasource_reads_outside_repo_root(tmp_path):
    """Python workers import the package from any working directory: a
    vanilla session started with cwd outside the repo (and no PYTHONPATH
    naming it) reads the demo data source on its workers."""
    import subprocess
    import sys
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from pipeline_query_engine_demo_spark.sources.pydatasource import (
            SequenceFeedSource, register_source,
        )
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir={tmp_path}")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        register_source(spark, SequenceFeedSource)
        df = spark.read.format("sequence_feed").option("n_rows", 50).load()
        print("ROWS", df.count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 50" in out.stdout, out.stderr[-3000:]
