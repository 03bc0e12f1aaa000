"""Spark 4 Python Data Source API coverage: a custom partitioned batch
source (`spark.dataSource.register` + `spark.read.format(...)`).

The reference's only source is an in-memory chunk generator
(``src/executor/mod.rs:250-276``); this is the Spark-native way to wrap
such a generator as a first-class source: the engine asks the Python
class for partitions, then calls ``read`` once per partition IN
PARALLEL on the executors — so a custom feed (an internal service, a
bespoke file format, a synthetic generator) scales out like any
built-in source instead of funneling through the driver.

The demo source emits a deterministic integer sequence with derived
columns, sliced into N_PARTITIONS independent ranges — each partition
computes its own slice from (start, end) alone, the property that makes
the source embarrassingly parallel at any size.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

#: Rows and parallelism of the demo feed. Small because every row flows
#: through Python; the API contract (partition-parallel reads) is what
#: is under test, not throughput.
N_ROWS = 1000
N_PARTITIONS = 8


def register_source(spark, source_cls: type) -> None:
    """Register a Python DataSource, tolerating ONLY the
    already-registered case — any other registration failure (bad
    class, serialization error, API mismatch) propagates instead of
    deferring to a confusing format-not-found error at read time.

    The registration captures the worker environment, so the package
    root goes on the workers' PYTHONPATH first: they import
    ``source_cls`` by module path from any working directory."""
    from pipeline_query_engine_demo_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    try:
        spark.dataSource.register(source_cls)
    except Exception as exc:  # noqa: BLE001 — filtered below
        # Primary match: the structured PySpark error condition (stable
        # API, survives message rewording across Spark versions).
        for attr in ("getCondition", "getErrorClass"):
            getter = getattr(exc, attr, None)
            if getter is not None:
                try:
                    cond = getter()
                except Exception:
                    cond = None
                if cond and "ALREADY_EXISTS" in str(cond).upper():
                    return
        # Fallback: message text, for exception types that don't carry
        # an error condition (e.g. plain Py4J wrapping).
        msg = str(exc).lower()
        if "already" in msg and ("register" in msg or "exist" in msg):
            return
        raise


class _SliceParts(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SequenceFeedReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("n_rows", N_ROWS))

    def partitions(self) -> list[InputPartition]:
        step = -(-self.n_rows // N_PARTITIONS)
        return [
            _SliceParts(i, min(i + step, self.n_rows))
            for i in range(0, self.n_rows, step)
        ]

    def read(self, partition: _SliceParts):
        for n in range(partition.start, partition.end):
            yield (n, n * n, "even" if n % 2 == 0 else "odd")


class SequenceFeedSource(DataSource):
    """``format("sequence_feed")``: deterministic demo feed."""

    @classmethod
    def name(cls) -> str:
        return "sequence_feed"

    def schema(self) -> str:
        return "n BIGINT, n_squared BIGINT, parity STRING"

    def reader(self, schema) -> SequenceFeedReader:  # noqa: ANN001
        return SequenceFeedReader(self.options)


#: Streaming half of the API: a resumable offset-based feed. Offsets are
#: a plain dict checkpointed by Spark; `read` prefetches the next slice
#: and advances the offset, `readBetweenOffsets` replays a committed
#: range deterministically on recovery — the exactly-once contract.
STREAM_TOTAL = 100
STREAM_BATCH = 40


class CounterStreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = start["pos"]
        end = min(pos + STREAM_BATCH, STREAM_TOTAL)
        return iter([(i, i % 5) for i in range(pos, end)]), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([(i, i % 5) for i in range(start["pos"], end["pos"])])


class CounterStreamSource(DataSource):
    """``readStream.format("counter_feed")``: bounded demo stream."""

    @classmethod
    def name(cls) -> str:
        return "counter_feed"

    def schema(self) -> str:
        return "n BIGINT, grp BIGINT"

    def simpleStreamReader(self, schema) -> CounterStreamReader:  # noqa: ANN001
        return CounterStreamReader()


#: PARTITION-PARALLEL streaming half (``DataSourceStreamReader`` with
#: ``partitions()``) — the 100 TB shape the SimpleDataSourceStreamReader
#: docstrings name: the driver only plans offset ranges; ``read`` runs
#: once per InputPartition ON THE EXECUTORS, so ingest bandwidth scales
#: with the cluster instead of funneling through the driver. The demo
#: feed's offset is a row position; ``partitions`` splits the planned
#: [start, end) range into fixed 10-row shards, each of which computes
#: its slice from its own (lo, hi, shard) alone — deterministic replay
#: on recovery is the slice arithmetic itself (the offset-log range is
#: re-split into the identical shards and re-read).
PAR_TOTAL = 120
PAR_SHARD_ROWS = 10


class _ShardSlice(InputPartition):
    def __init__(self, lo: int, hi: int, shard: int) -> None:
        self.lo = lo
        self.hi = hi
        self.shard = shard


class ShardStreamReader(DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        # Availability is CONTENT-determined (all PAR_TOTAL rows exist
        # from t0), never consumption-determined — on checkpoint
        # recovery the reported end must be >= the committed offset, a
        # property a call-counting "growth" hack would violate. A real
        # source returns the broker/file-listing end offset here.
        return {"pos": PAR_TOTAL}

    def partitions(self, start: dict, end: dict) -> list[_ShardSlice]:
        lo, hi = start["pos"], end["pos"]
        return [
            _ShardSlice(o, min(o + PAR_SHARD_ROWS, hi), o // PAR_SHARD_ROWS)
            for o in range(lo, hi, PAR_SHARD_ROWS)
        ]

    def read(self, partition: _ShardSlice):
        # Executor-side: each shard emits exactly its slice, tagged with
        # its shard id — the tag lands in the oracle-hashed output, so a
        # shard reading the wrong slice (or the driver reading
        # everything) fails the gate.
        for i in range(partition.lo, partition.hi):
            yield (i, partition.shard, i % 5)

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up for the synthetic feed


class ShardStreamSource(DataSource):
    """``readStream.format("shard_feed")``: partition-parallel stream."""

    @classmethod
    def name(cls) -> str:
        return "shard_feed"

    def schema(self) -> str:
        return "n BIGINT, shard BIGINT, grp BIGINT"

    def streamReader(self, schema) -> ShardStreamReader:  # noqa: ANN001
        return ShardStreamReader()
