"""Fixture-table catalog.

The reference's only source is an in-memory row vector scanned in
1024-row morsels (``src/releation/mod.rs:11-26``,
``src/executor/mod.rs:250-276``). Here the source layer is
``spark.read.parquet`` — Spark's vectorized Parquet reader gives the
columnar morsels, partition splitting, predicate/projection pushdown, and
(on a cluster) data-local scheduling for free.

Scale notes (100 TB):
- Scans are defined lazily per table so Catalyst prunes columns and pushes
  filters into the Parquet footer — callers must NOT ``.cache()`` whole
  tables.
- ``load_tables`` never materializes anything; registering temp views
  keeps the SQL and DataFrame entry points over the same lazy scans.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: Every fixture table the driver generates (TESTDATA.md). Order matters
#: only for humans: dimensions first, facts, then the LLM-pipeline corpora.
TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Per-path parquet schema cache (r12 optimization, guide §1/§7.3): without
#: an explicit schema every ``spark.read.parquet`` call runs a driver-side
#: schema-inference job (footer read) at BUILD time — one job + ~30-50 ms of
#: scheduling per table per query build, paid again on every bench rep. The
#: schema is file metadata, not data: caching it per path changes no result
#: and no executed plan below the scan. (This is metadata caching, not
#: result caching — each run still computes everything from the parquet.)
_SCHEMA_CACHE: dict[tuple, "object"] = {}

#: Per-path splittable-unit count (parquet row groups), read driver-side via
#: pyarrow (no Spark job). A parquet file splits at ROW-GROUP granularity:
#: byte-range splits beyond the row-group count come back empty, so a
#: single-row-group file pins its whole scan — and everything Spark
#: pipelines into the scan stage (explodes, md5/minhash expression work,
#: partial aggregation) — onto ONE task regardless of cluster size.
_SCAN_UNITS: dict[tuple, int] = {}

_PYARROW_MISSING_LOGGED = False


def _cache_key(path: str) -> tuple:
    """Cache key for per-path metadata: (path, mtime_ns, size) — a fixture
    parquet regenerated in a long-lived process (tests, notebooks) then
    misses the cache instead of silently serving stale metadata (r12
    ADVICE). An unstattable path keys on the path alone; the downstream
    reader raises its own, clearer error."""
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path,)


def _scan_units(path: str) -> int:
    """Splittable units of one parquet path; 'effectively infinite' when
    the layout cannot be inspected (directory tables, object stores) so
    the fan-out below never fires on real multi-file layouts."""
    key = _cache_key(path)
    n = _SCAN_UNITS.get(key)
    if n is None:
        # Narrow failure handling (r12 ADVICE): a MISSING pyarrow would
        # otherwise silently disable every fan-out with no signal — log
        # it once; file/format errors (directory tables, non-parquet,
        # object stores) stay the quiet "assume splittable" path.
        try:
            import pyarrow.parquet as pq
        except ImportError:
            global _PYARROW_MISSING_LOGGED
            if not _PYARROW_MISSING_LOGGED:
                _PYARROW_MISSING_LOGGED = True
                import logging

                logging.getLogger(__name__).warning(
                    "pyarrow unavailable: parquet layouts cannot be "
                    "inspected, so unsplittable-scan fan-out is disabled "
                    "(layouts are assumed splittable)"
                )
            pq = None
        if pq is None:
            n = 1 << 30
        else:
            from pyarrow.lib import ArrowException

            try:
                n = max(1, pq.ParquetFile(path).metadata.num_row_groups)
            except (OSError, ValueError, KeyError, ArrowException):
                # Not a single readable parquet file (directory table,
                # remote layout, a footer Arrow cannot decode): assume
                # splittable — never fan out.
                n = 1 << 30
        _SCAN_UNITS[key] = n
    return n


def fanout_width(spark: SparkSession, sf_dir: str, *names: str) -> int | None:
    """Post-scan fan-out width for CPU-heavy map work, or None.

    Guide §2.5 (input skew): "one huge unsplittable file … repartition
    immediately after the read". The fixture tables are single-file,
    single-row-group parquet — unsplittable, so a scan stage (and every
    expression pipelined into it) runs as ONE task while the other
    ``defaultParallelism - 1`` cores idle. Callers whose per-row map work
    is expensive (shingle explode + k×md5, per-position CDC hashing, d²
    outer-product explode, HOF vector folds) insert
    ``df.repartition(fanout_width(...))`` right after the scan: the
    exchange carries the narrow scan output once, and the heavy work
    spreads over the cluster.

    SCALE-ADAPTIVE by construction, not tuned for local[32]: the width is
    the cluster's ``defaultParallelism`` and the fan-out fires only when
    the inspected layout has fewer splittable units than HALF the cluster
    parallelism — a 100 TB table (thousands of files/row groups) never
    takes the extra exchange, and an uninspectable layout is assumed
    splittable. Returns None when the layout already feeds the cluster.
    """
    width = spark.sparkContext.defaultParallelism
    units = sum(_scan_units(os.path.join(sf_dir, f"{n}.parquet")) for n in names)
    return width if units * 2 <= width else None


def parquet_schema(spark: SparkSession, path: str):
    """Schema of the Parquet file or directory ``path``, one inference
    job per ``_cache_key`` per process (``_SCHEMA_CACHE``). Callers
    reading ``events`` set ``nanosAsLong`` first: ``ts``'s type hangs on it."""
    key = _cache_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Lazy Parquet scan for one fixture table.

    ``events.ts`` has shipped in two fixture generations: nanosecond
    Parquet (SURVEY.md §7 risk 5), which Spark 4 refuses to read as a
    timestamp — we read it as a nanos BIGINT (legacy flag, set at
    runtime so it works on any caller's session) and truncate to
    microseconds with integer division (truncation, not rounding,
    because that is exactly what DuckDB does when it narrows ns → µs) —
    and, in the current generation, plain µs timestamps with
    ``isAdjustedToUTC=false``, which Spark's NTZ inference surfaces as
    TIMESTAMP_NTZ. Every timestamp column (events.ts, o_orderdate,
    l_shipdate) is normalized to the session-zoned TIMESTAMP type the
    engine was built against: with the session in UTC the NTZ→LTZ cast
    is wall-clock-identical, and several APIs (streaming watermarks on
    schema-declared sources, mixed NTZ/LTZ comparisons) only accept the
    zoned type. The cast is a zero-cost projection — pushdown and
    pruning on the remaining columns are unaffected.

    The streaming twin of the ts rules (ns-div-1000 + NTZ→LTZ for the
    declared-schema stream readers) is
    ``streaming.windows._normalize_ts`` — change the two together.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if name == "events" and dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in dtypes.items():
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if fan_out:
        # Opt-in for builders whose per-row map work dominates the scan
        # (see fanout_width): no-op on splittable layouts.
        w = fanout_width(spark, sf_dir, name)
        if w:
            df = df.repartition(w)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables as lazy DataFrames keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for ``spark.sql`` queries) and
    return the DataFrames as well."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
