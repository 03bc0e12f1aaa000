"""Streaming building blocks over the events table.

Scale notes (the cluster story):
- The file source is the dev stand-in for Kafka — swapping
  ``readStream.parquet`` for ``readStream.format("kafka")`` changes no
  downstream code.
- Watermarks bound state: without one, a windowed aggregation's state
  grows with the number of open windows forever. ``1 hour`` here means
  late events more than an hour behind the max seen timestamp are
  dropped and their windows finalized. Caveat: eviction applies in
  append/update output modes (the production deployment and the
  foreachBatch queries here); the COMPLETE-mode memory-sink drains some
  oracle harnesses use keep all windows resident by definition — those
  docstrings own it.
- ``applyInPandasWithState`` state lives in the state store (RocksDB on
  a real cluster); per-key state must stay O(1) — counters here, never
  buffered rows.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pipeline_query_engine_demo_spark.session import (
    ensure_protobuf_on_workers,
    held_confs,
    scratch_path,
)
from pipeline_query_engine_demo_spark.sources.catalog import parquet_schema

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def _stream_source_dir(sf_dir: str, table_file: str = "events.parquet") -> str:
    """The file stream source requires a directory; the fixture is a
    single file. Build (idempotently) a scratch dir holding a symlink to
    the fixture Parquet — no data is copied, and each (fixture dir,
    table) pair gets its own ``session.scratch_path``. Shared by the
    events stream here and the embeddings ingest stream (plans.streams)
    so the lexists/absolute-target/race invariants live in ONE place."""
    tag = hashlib.md5(f"{sf_dir}|{table_file}".encode()).hexdigest()[:12]
    d = scratch_path(f"stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, table_file)
    # lexists (not exists): a dangling link must not trigger re-creation;
    # the except guards the create-create race between concurrent builds.
    if not os.path.lexists(link):
        try:
            # absolute target: a relative sf_dir would otherwise resolve
            # relative to the scratch dir and dangle forever
            os.symlink(os.path.abspath(os.path.join(sf_dir, table_file)), link)
        except FileExistsError:
            pass
    return d


def _events_schema_and_ts_type(spark: SparkSession, sf_dir: str):
    """Batch footer read of the events fixture (metadata only, cached by
    ``catalog.parquet_schema``) — streams cannot infer schemas, and the
    fixture has shipped with two ``ts`` physical types, so the declared
    schema must track the actual generation instead of hard-coding one."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = {f.name: f.dataType.simpleString() for f in raw_schema}["ts"]
    return raw_schema, ts_type


def _normalize_ts(df: DataFrame, ts_type: str) -> DataFrame:
    """Normalize the fixture's ``ts`` physical type to a session-zoned
    microsecond timestamp. The single copy for the STREAMING paths (the
    shared stream source and the staged-source harness both route
    through here); the batch twin lives in ``sources.catalog.load_table``,
    which applies the same ns-div-1000 + NTZ→LTZ rules generically to
    every timestamp column of every table — change the two together
    (each cites the other)."""
    if ts_type == "bigint":  # nanos generation: truncate ns → µs like DuckDB
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":  # µs generation: NTZ → LTZ (UTC session)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events Parquet, ts normalized to a
    session-zoned microsecond timestamp exactly like the batch reader.

    The declared schema comes from a one-time batch footer read of the
    fixture file (metadata only — no data scan), so the stream tracks
    whichever ``ts`` physical type this fixture generation uses instead
    of hard-coding one and silently mis-scaling the other."""
    raw_schema, ts_type = _events_schema_and_ts_type(spark, sf_dir)
    stream = spark.readStream.schema(raw_schema).parquet(_stream_source_dir(sf_dir))
    return _normalize_ts(stream, ts_type)


def staged_events_source(spark: SparkSession, sf_dir: str, tag: str):
    """PRIVATE staged events stream for queries that append flush rows.

    The watermark-advancing flush mechanism (see the stream-stream
    outer joins) appends dummy far-future rows to its source dir; that
    must never pollute the shared ``read_events_stream`` directory, so
    each caller gets its own ``session.scratch_path`` keyed by
    (sf_dir, tag), recreated fresh per run.

    Returns ``(events, append_flush_rows, root)``:

    - ``events`` — the ts-normalized streaming DataFrame;
    - ``append_flush_rows(rows)`` — writes dummy events (in whatever
      physical ts type this generation uses) into the staged source;
      ``rows`` is a list of ``(event_id, ts_str, user_id, event_type)``;
    - ``root`` — scratch directory for the caller's checkpoint/sink.
    """
    import shutil

    h = hashlib.md5(f"{sf_dir}|{tag}".encode()).hexdigest()[:12]
    root = scratch_path(f"{tag}_{h}")
    shutil.rmtree(root, ignore_errors=True)
    srcdir = os.path.join(root, "src")
    os.makedirs(srcdir)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(srcdir, "events.parquet"),
    )
    raw_schema, ts_type = _events_schema_and_ts_type(spark, sf_dir)
    events = _normalize_ts(
        spark.readStream.schema(raw_schema).parquet(srcdir), ts_type
    )

    def append_flush_rows(rows) -> None:
        dummy = spark.createDataFrame(
            [(eid, ts_s, uid, et, 0.0, "{}") for eid, ts_s, uid, et in rows],
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        if ts_type == "bigint":
            dummy = dummy.withColumn("ts", F.unix_micros("ts") * 1000)
        elif ts_type == "timestamp_ntz":
            dummy = dummy.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        dummy.select([f.name for f in raw_schema]).write.mode("append").parquet(srcdir)

    return events, append_flush_rows, root


def drain_with_flush(joined: DataFrame, root: str, flush=None) -> DataFrame:
    """Run an availableNow drain into a parquet foreachBatch sink; if
    ``flush`` is given, invoke it and drain AGAIN over the same
    checkpoint.

    Outer-join null emission requires a batch that runs after the
    watermark passes a row's expiry, and a single drain's final data
    batch leaves its own rows' state unflushed; an availableNow restart
    with no new data runs no batch at all. The second drain therefore
    needs ``flush`` to append watermark-advancing rows first — exactly
    what the next trigger of a continuously-running production job
    does. Memory sinks cannot resume a checkpoint, so the sink is
    foreachBatch → parquet (the proven pattern from
    tests/test_checkpoint_recovery).

    The sink is IDEMPOTENT per batch: foreachBatch is at-least-once, so
    a retried micro-batch must overwrite its own output, not append a
    second copy — each batch owns a ``batch_<id>`` subdirectory
    (mirroring plans.streams.streaming_foreach_batch_sink), and the
    read-back walks the tree with recursiveFileLookup."""
    ckpt, dest = os.path.join(root, "ckpt"), os.path.join(root, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(dest, f"batch_{batch_id}")
        )

    def drain() -> None:
        q = (
            joined.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    if flush is not None:
        flush()
        drain()
    return (
        joined.sparkSession.read.option("recursiveFileLookup", "true").parquet(dest)
    )


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    max_data_batches: int | None = None,
    min_data_batches: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow trigger)
    into a memory sink and return the materialized result. This is what
    makes streaming queries oracle-checkable: the stream drains, the
    memory table holds the final answer as a plain DataFrame.

    Pass a stable ``name`` when the query re-runs within one session —
    the sink table is replaced instead of a fresh uuid-named table
    accumulating its full result in driver memory per invocation.

    ``max_data_batches``: when an oracle's expectations depend on HOW
    the drain split the input (e.g. a closed-by label that flips if
    data arrives across micro-batches), pass the batch count the oracle
    assumes and the run FAILS LOUDLY if the source delivered data in
    more batches — a fixture-layout or maxFilesPerTrigger change then
    surfaces as this assertion, not a baffling hash mismatch.

    ``min_data_batches`` is the inverse guard (r11 verdict item 3): the
    multi-batch streaming queries exist to put INCREMENTAL state
    evolution under the oracle gate, which is only real if the drain
    actually crossed micro-batches — if a source-layout change ever
    collapses the chunked dir back to one file, the single-batch
    shortcut fails here instead of silently passing as batch-equivalent
    output."""
    name = name or f"stream_result_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if max_data_batches is not None or min_data_batches is not None:
        assert_data_batches(
            q,
            stream_df.sparkSession,
            name,
            min_data_batches=min_data_batches,
            max_data_batches=max_data_batches,
        )
    return stream_df.sparkSession.table(name)


def assert_data_batches(
    q,
    spark,
    name: str,
    min_data_batches: int | None = None,
    max_data_batches: int | None = None,
) -> None:
    """The batch-count guard behind run_to_memory's min/max_data_batches
    (r11 verdict item 3), shared with drains that use other sinks
    (foreachBatch index builds): counts micro-batches that actually
    ingested rows and fails the QUERY — not just a test — if the drain
    shape drifted from what the oracle assumes."""
    progress = q.recentProgress
    # recentProgress is a ring buffer capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100); a
    # drain that overflows it would UNDERCOUNT data batches and let
    # the guard pass falsely — so a full buffer is itself a failure.
    cap = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )
    assert len(progress) < cap, (
        f"stream '{name}' produced {len(progress)} progress updates, "
        f"saturating the recentProgress buffer (cap {cap}); the "
        "batch-count guard would undercount — raise the cap or "
        "shrink the drain"
    )
    data_batches = sum(1 for p in progress if p["numInputRows"] > 0)
    if max_data_batches is not None:
        assert data_batches <= max_data_batches, (
            f"stream '{name}' ingested data across {data_batches} "
            f"micro-batches; the oracle assumes <= {max_data_batches} "
            "(source layout changed?)"
        )
    if min_data_batches is not None:
        assert data_batches >= min_data_batches, (
            f"stream '{name}' ingested all data in {data_batches} "
            f"micro-batch(es); this query exists to exercise "
            f">= {min_data_batches}-batch incremental state "
            "(source layout changed?)"
        )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-hour window aggregation — the canonical
    streaming aggregate. Identical F.window call to the batch twin
    (plans.windows.tumbling_window_counts), which is the parity check."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def stream_static_join_segments(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch hash-joins against the
    static dimension (broadcast — the dim never shuffles per batch),
    then aggregates. The streaming form of the star-schema lookup."""
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def stream_stream_click_purchases(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases within 30 minutes after a
    click by the same user. Both sides are watermarked so the join state
    is bounded — the time-range condition tells Spark exactly how long
    to keep each side buffered (clicks: 30 min past the purchase
    watermark; purchases: until the click watermark passes). Matches
    emit as found (inner join), so an availableNow drain produces the
    full batch-equivalent answer."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return clicks.join(purchases, cond, "inner").select("click_id", "purchase_id")


#: The transformWithStateInPandas state server needs multiple column
#: families per store, which only RocksDB provides (HDFSBacked raises
#: STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


@contextmanager
def tws_state_store(spark: SparkSession) -> Iterator[None]:
    """Context for a transformWithStateInPandas drain: puts the vendored
    protobuf runtime on the state-server workers' path and holds
    :data:`ROCKSDB_STATE_STORE` for the block only, so every other
    streaming query keeps the HDFSBacked default."""
    ensure_protobuf_on_workers(spark)
    with held_confs(spark, ROCKSDB_STATE_STORE):
        yield


def tws_user_value_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the NEW arbitrary-state API
    (``transformWithStateInPandas``, Spark 4): per-user running
    (count, decimal-exact value total) in a typed ValueState. The
    successor to applyInPandasWithState — explicit state variables,
    composable timers, RocksDB-backed on a cluster. Emits one updated
    row per key per batch; totals are exact-integer cents
    (floor(x·100 + 0.5), the repo-wide recipe) so output is
    accumulation-order independent and oracle-matchable.

    DEPENDENCIES: the transformWithState Python worker speaks protobuf
    to a JVM state server that requires multiple column families, i.e.
    RocksDBStateStoreProvider (HDFSBacked raises
    STATE_STORE_MULTIPLE_COLUMN_FAMILIES). The protobuf runtime is the
    vendored pure-python tree wired in session._ensure_protobuf; run
    the drain under :func:`tws_state_store`, which holds the RocksDB
    provider for it."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n LONG, cents LONG")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            import numpy as np
            import pandas as pd

            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                v = pdf["value"].to_numpy(dtype=np.float64)
                cents += int(np.floor(v * 100.0 + 0.5).astype(np.int64).sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        Totals(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )


def tws_user_recent_values(rows: DataFrame, keep: int = 3) -> DataFrame:
    """Second ``transformWithStateInPandas`` operator: per-user LIST
    state — the ``keep`` most recent events by (ts, event_id), merged
    and re-trimmed every batch (bounded at ``keep`` tuples per key for
    any stream length; re-delivered rows merge idempotently because
    the trim order is a total order). Exercises ListState beside the
    ValueState of tws_user_value_totals — the two state primitives the
    arbitrary-state API adds over applyInPandasWithState's single
    struct.

    ``rows``: streaming (user_id, ts_us, event_id, cents) with ts
    pre-converted to BIGINT micros Spark-side. Emits one row per kept
    event with its recency rank (1 = newest) plus ``n_seen`` — the
    strictly-increasing count of rows ever seen for the key (a second
    state variable, ValueState beside the ListState), which lets the
    update-mode sink table be collapsed to the FINAL per-key emission
    when a drain takes more than one micro-batch
    (plans.streams._final_emission)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Recent(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getListState(
                "recent", "ts_us LONG, event_id LONG, cents LONG"
            )
            self._seen = handle.getValueState("n_seen", "n LONG")

        def handleInputRows(self, key, batches, timerValues):  # noqa: ANN001
            import pandas as pd

            n_seen = self._seen.get()[0] if self._seen.exists() else 0
            items = [tuple(r) for r in self._state.get()]
            for pdf in batches:
                n_seen += len(pdf)
                items.extend(
                    zip(
                        pdf["ts_us"].astype("int64"),
                        pdf["event_id"].astype("int64"),
                        pdf["cents"].astype("int64"),
                    )
                )
            items = sorted(set(items), key=lambda t: (-t[0], -t[1]))[:keep]
            self._state.put([tuple(int(x) for x in t) for t in items])
            self._seen.update((n_seen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "rnk": list(range(1, len(items) + 1)),
                    "event_id": [t[1] for t in items],
                    "cents": [t[2] for t in items],
                    "n_seen": [n_seen] * len(items),
                }
            )

        def close(self) -> None:
            pass

    return rows.groupBy("user_id").transformWithStateInPandas(
        Recent(),
        outputStructType=(
            "user_id long, rnk long, event_id long, cents long, n_seen long"
        ),
        outputMode="Update",
        timeMode="None",
    )


#: Session gap for the event-time-timer operator below: 30 minutes in
#: the millisecond lattice timers use.
SESSION_GAP_MS = 30 * 60 * 1000


def tws_session_timer(rows: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """EVENT-TIME TIMERS on the arbitrary-state API — the third leg of
    ``transformWithStateInPandas`` after ValueState
    (tws_user_value_totals) and ListState (tws_user_recent_values):
    session-gap detection where closed sessions are emitted by DATA
    (a newer event more than ``gap_ms`` after the session's last) and
    the final open session per key is emitted by the TIMER that fires
    once the watermark passes ``last + gap_ms`` — the
    eviction/emit-on-expiry pattern every production session pipeline
    needs (``timeMode="EventTime"``; the registered query stamps each
    row with how it closed, so the oracle hash FAILS if timers do not
    fire).

    Timer semantics (pinned by tests/test_streaming.py): timers
    registered during a batch fire once the eviction watermark reaches
    the expiry — inclusively (expiry == watermark fires), and an
    availableNow drain runs one final no-data batch whose advanced
    watermark fires them. Sessions whose expiry is beyond the final
    watermark stay open (un-emitted) — exactly the answer a
    continuously-running job would have produced at that watermark.

    ``rows``: streaming (user_id, ts_ms, cents) where ts_ms =
    unix_millis of the WATERMARKED event-time column (the ms lattice
    is what registerTimer speaks). Within a batch rows are sorted by
    ts_ms; cross-batch order is arrival order (time-split sources —
    same contract as stateful_cusum). Emits
    (user_id, start_ms, end_ms, n_events, cents, closed_by)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self._open = handle.getValueState(
                "open", "start_ms LONG, last_ms LONG, n LONG, cents LONG"
            )

        def handleInputRows(self, key, batches, timerValues):  # noqa: ANN001
            import pandas as pd

            evs: list[tuple[int, int]] = []
            for pdf in batches:
                # row-loop-ok: input to the inherently sequential per-key
                # session state machine, over the KEY's micro-batch slice
                # only (already grouped — bounded per key).
                evs.extend(
                    zip(pdf["ts_ms"].astype("int64"), pdf["cents"].astype("int64"))
                )
            evs.sort()
            if self._open.exists():
                start, last, n, cents = self._open.get()
            else:
                start = last = None
                n = cents = 0
            out = []
            for t, c in evs:
                if start is None:
                    start, last, n, cents = t, t, 1, int(c)
                elif t - last <= gap_ms:
                    last, n, cents = t, n + 1, cents + int(c)
                else:
                    out.append((key[0], start, last, n, cents, "data"))
                    start, last, n, cents = t, t, 1, int(c)
            # one live timer per key: re-arm at the open session's expiry
            for ts in self.handle.listTimers():
                self.handle.deleteTimer(ts)
            self._open.update((int(start), int(last), int(n), int(cents)))
            self.handle.registerTimer(int(last) + gap_ms)
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "start_ms": [r[1] for r in out],
                    "end_ms": [r[2] for r in out],
                    "n_events": [r[3] for r in out],
                    "cents": [r[4] for r in out],
                    "closed_by": [r[5] for r in out],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: ANN001
            import pandas as pd

            if self._open.exists():
                start, last, n, cents = self._open.get()
                self._open.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "start_ms": [start],
                        "end_ms": [last],
                        "n_events": [n],
                        "cents": [cents],
                        "closed_by": ["timer"],
                    }
                )

        def close(self) -> None:
            pass

    return rows.groupBy("user_id").transformWithStateInPandas(
        Sessions(),
        outputStructType=(
            "user_id long, start_ms long, end_ms long, n_events long,"
            " cents long, closed_by string"
        ),
        outputMode="Append",
        timeMode="EventTime",
    )


def tws_bootstrap_totals(rows: DataFrame, initial: "GroupedData") -> DataFrame:  # noqa: F821
    """INITIAL STATE on the arbitrary-state API (``initialState=`` +
    ``handleInitialState``): per-user (count, exact-cent total) totals
    whose state is BOOTSTRAPPED from a batch aggregate before the first
    micro-batch — the warm-start migration every production pipeline
    does when cutting over to streaming (seed state from the 100 TB
    backfill; never replay history through the stream). Keys absent
    from the stream emit nothing (emission is data-driven); keys absent
    from the bootstrap start from zero — both directions are covered by
    the registered query's oracle.

    ``rows``: streaming (user_id, cents); ``initial``: a GroupedData of
    (user_id, n_events, total_cents) grouped by user_id. Emits
    (user_id, n_events, total_cents) per batch in update mode —
    n_events strictly increases, so _final_emission applies."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Boot(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n LONG, cents LONG")

        def handleInitialState(self, key, initialState, timerValues):  # noqa: ANN001
            self._state.update(
                (
                    int(initialState["n_events"].iloc[0]),
                    int(initialState["total_cents"].iloc[0]),
                )
            )

        def handleInputRows(self, key, rows_iter, timerValues):  # noqa: ANN001
            import pandas as pd

            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows_iter:
                n += len(pdf)
                cents += int(pdf["cents"].astype("int64").sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return rows.groupBy("user_id").transformWithStateInPandas(
        Boot(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
        initialState=initial,
    )


def tws_map_counts(rows: DataFrame) -> DataFrame:
    """MAP STATE on the arbitrary-state API — the last state primitive
    (``getMapState``) after ValueState/ListState/timers: a per-user map
    of event_type → count, updated via containsKey/getValue/updateValue
    and emitted in full (iterator()) per batch. Map state is the shape
    for per-key-per-category accumulators where the category set is
    unknown upfront — per-key columns can't be declared, and a single
    struct ValueState would rewrite the whole blob per row at RocksDB.

    Emits (user_id, event_type, n, n_seen); ``n_seen`` — total rows
    ever seen for the key — strictly increases per emission, so
    plans.streams._final_emission recovers the final snapshot from an
    update-mode sink even on a multi-batch drain."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MapCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("counts", "event_type STRING", "n LONG")
            self._seen = handle.getValueState("n_seen", "n LONG")

        def handleInputRows(self, key, batches, timerValues):  # noqa: ANN001
            import pandas as pd

            n_seen = self._seen.get()[0] if self._seen.exists() else 0
            for pdf in batches:
                n_seen += len(pdf)
                # row-loop-ok: iterates the DISTINCT event types of the
                # key's slice (a bounded category set — the map state's
                # key domain), not rows; the per-row counting is the
                # vectorized value_counts above it.
                for et, cnt in pdf["event_type"].value_counts().items():
                    k = (str(et),)
                    cur = (
                        self._counts.getValue(k)[0]
                        if self._counts.containsKey(k)
                        else 0
                    )
                    self._counts.updateValue(k, (cur + int(cnt),))
            self._seen.update((n_seen,))
            entries = [(k[0], v[0]) for k, v in self._counts.iterator()]
            entries.sort()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(entries),
                    "event_type": [e[0] for e in entries],
                    "n": [e[1] for e in entries],
                    "n_seen": [n_seen] * len(entries),
                }
            )

        def close(self) -> None:
            pass

    return rows.groupBy("user_id").transformWithStateInPandas(
        MapCounts(),
        outputStructType="user_id long, event_type string, n long, n_seen long",
        outputMode="Update",
        timeMode="None",
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count held in the state store. State is a single
    counter per key — O(1) per user, RocksDB-backed on a cluster."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cusum(events: DataFrame, k: int, h: int) -> DataFrame:
    """Streaming one-sided CUSUM via ``applyInPandasWithState``: the
    per-user state is the 4-tuple (s, max_s, alarms, n) of the batch
    detector (plans.analytics.cusum_change_detection), updated by the
    identical integer-cent recurrence max(0, s + x - k) — O(1) state
    per key, RocksDB-backed on a cluster. Rows are sorted by
    (ts, event_id) WITHIN each micro-batch; cross-batch order is the
    stream's arrival order, correct when the source delivers
    time-split files (the tested harness shape — see
    tests/test_streaming multi-batch state evolution)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def scan(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        import numpy as np

        s, mx, alarms, n = state.get if state.exists else (0, 0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        v = batch["value"].to_numpy(dtype=np.float64)
        v = v[np.isfinite(v)]  # mirror the batch detector: skip non-finite
        if len(v):
            # Vectorized Lindley recursion seeded with the carried state
            # s0 (same identity as the batch window rewrite): with
            # y = x - k and S = cumsum(y),
            #   s_t = S_t - min(-s0, running_min(S)_t)
            # — exact int64 throughout, one pass, no Python row loop.
            y = np.floor(v * 100.0 + 0.5).astype(np.int64) - k
            ps = np.cumsum(y)
            w = ps - np.minimum(np.int64(-s), np.minimum.accumulate(ps))
            n += len(v)
            mx = max(mx, int(w.max()))
            alarms += int((w >= h).sum())
            s = int(w[-1])
        state.update((s, mx, alarms, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "final_cusum": [s],
                "max_cusum": [mx],
                "n_alarms": [alarms],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        scan,
        outputStructType=(
            "user_id long, n_events long, final_cusum long, "
            "max_cusum long, n_alarms long"
        ),
        stateStructType="s long, mx long, alarms long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_ewma(events: DataFrame) -> DataFrame:
    """Streaming 8-tap dyadic EWMA (alpha = 1/2) via
    ``applyInPandasWithState``: the per-user state is exactly the
    bounded window the batch query (plans.windows.ewma_smoothed_values)
    reads — the last 8 values in integer micro-units plus the event
    count — so the drained state table is bit-identical to the batch
    result and the batch oracle applies verbatim. O(1) state per key
    (8 longs + a counter); same time-ordered-batch contract as
    stateful_cusum."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    weights = [128, 64, 32, 16, 8, 4, 2, 1]

    def scan(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            st = list(state.get)
            taps = [t for t in st[:8] if t is not None]
            n = st[8]
        else:
            taps = []  # most-recent first
            n = 0
        import numpy as np

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        v = batch["value"].to_numpy(dtype=np.float64)
        v = v[np.isfinite(v)]
        if len(v):
            n += len(v)
            # taps = most-recent-first last-8: the new batch's tail 8
            # (reversed) prepended to the carried taps — no row loop.
            micro = np.floor(v * 1000000.0 + 0.5).astype(np.int64)
            taps = [int(t) for t in micro[-8:][::-1]] + taps
            del taps[8:]
        padded = taps + [None] * (8 - len(taps))
        state.update(tuple(padded) + (n,))
        if taps:
            num = float(sum(w * t for w, t in zip(weights, taps)))
            den = float(sum(w for w, _ in zip(weights, taps)))
            raw = num / den / 1000000.0
            ewma = math.floor(raw * 1000000.0 + 0.5) / 1000000.0
            last = taps[0] / 1000000.0
        else:
            ewma = None
            last = None
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_value": [last],
                "ewma_value": [ewma],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        scan,
        outputStructType=(
            "user_id long, n_events long, last_value double, ewma_value double"
        ),
        stateStructType=(
            "t0 long, t1 long, t2 long, t3 long, t4 long, t5 long, "
            "t6 long, t7 long, n long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_kmv(rows: DataFrame, k: int, universe: int, est_num: float) -> DataFrame:
    """Streaming KMV sketch via ``applyInPandasWithState``: per-key
    state is the bottom-k hash values seen so far — BOUNDED at k longs
    per key no matter how much stream passes through, and
    duplicate-insensitive by construction (a re-delivered row merges
    into the same set), which is exactly why KMV suits streams where
    exact distinct counting needs unbounded state. Each update emits
    the key and the current (k-1)/θ estimate with the repo's
    floor-half-up rounding, matching plans/sketches' batch estimator
    bit-for-bit (same integer θ, same IEEE division).

    ``rows``: streaming (source, hv) pairs; ``universe``/``est_num``:
    plans.sketches.U and _KMV_NUM (passed in, not imported — streaming
    must not depend on the query layer)."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def merge(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        prev = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.array([], dtype=np.int64)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        hvs = np.unique(
            np.concatenate([prev, batch["hv"].to_numpy(dtype=np.int64)])
        )[:k]
        state.update((hvs.tolist(),))
        n = len(hvs)
        theta = int(hvs[-1]) if n == k else universe
        est = float(n) if n < k else est_num / float(theta)
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "kmv_estimate": [math.floor(est * 1e6 + 0.5) / 1e6],
            }
        )

    return rows.groupBy("source").applyInPandasWithState(
        merge,
        outputStructType="source string, kmv_estimate double",
        stateStructType="hvs array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_hll(
    rows: DataFrame, m: int, rho_cap: int, alpha_num: float
) -> DataFrame:
    """Streaming HyperLogLog via ``applyInPandasWithState``: per-key
    state is the m max-rank registers — FIXED at m longs per key (even
    tighter than KMV's k), merged by element-wise max, so re-delivered
    rows and arbitrarily long streams cost nothing. Emits the key, the
    hit-register count and the raw-HLL estimate with the repo's
    floor-half-up rounding, matching plans/sketches' batch HLL
    bit-for-bit: the same integer registers (rho from an exact shift
    loop, no float log), the same exact-BIGINT harmonic denominator
    (python ints), the same one IEEE division by the pre-folded
    alpha*m^2*2^rho_cap numerator.

    ``rows``: streaming (source, hv) pairs, hv in [0, 2^60);
    ``m``/``rho_cap``/``alpha_num``: plans.sketches._HLL_M /
    _HLL_RHO_CAP / _HLL_ALPHA_NUM (passed in, not imported — streaming
    must not depend on the query layer)."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def merge(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        regs = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(m, dtype=np.int64)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        hv = batch["hv"].to_numpy(dtype=np.int64)
        j = hv % m
        rest = hv // m
        # exact integer bit-length via repeated shifts (<= rho_cap
        # passes) — float log2/frexp could mis-rank values that round
        # up across a power of two
        bl = np.zeros(len(rest), dtype=np.int64)
        tmp = rest.copy()
        while (tmp > 0).any():
            bl[tmp > 0] += 1
            tmp >>= 1
        rho = np.where(rest == 0, rho_cap, rho_cap - bl)
        np.maximum.at(regs, j, rho)
        state.update((regs.tolist(),))
        denom = sum(1 << (rho_cap - int(r)) for r in regs)
        est = alpha_num / float(denom)
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "registers_hit": [int((regs > 0).sum())],
                "hll_estimate": [math.floor(est * 1e6 + 0.5) / 1e6],
            }
        )

    return rows.groupBy("source").applyInPandasWithState(
        merge,
        outputStructType="source string, registers_hit bigint, hll_estimate double",
        stateStructType="regs array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_bloom(rows: DataFrame, n_words: int, bits_per_word: int) -> DataFrame:
    """Streaming Bloom filter via ``applyInPandasWithState``: per-key
    state is the n_words×bits_per_word bit array as n_words longs —
    FIXED size for any stream length, merged by bitwise OR, so
    re-delivered rows are free (set-membership is the natural
    idempotent sketch). Each update emits the FULL word table
    (key, word_idx, word) so the drained state equals the batch
    ``bit_or`` aggregate bit-for-bit — the membership structure itself
    is the checkable output, not a derived estimate.

    ``rows``: streaming (event_type, pos) with pos already hashed into
    [0, n_words·bits_per_word) Spark-side (k hash functions → k rows
    per element); bits_per_word ≤ 32 keeps every word positive in
    int64/BIGINT on every engine."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def merge(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        words = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(n_words, dtype=np.int64)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        pos = batch["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(
            words, pos // bits_per_word, np.int64(1) << (pos % bits_per_word)
        )
        state.update((words.tolist(),))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * n_words,
                "word_idx": list(range(n_words)),
                "word": [int(w) for w in words],
            }
        )

    return rows.groupBy("event_type").applyInPandasWithState(
        merge,
        outputStructType="event_type string, word_idx bigint, word bigint",
        stateStructType="words array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_bottomk_quantiles(
    rows: DataFrame, k: int, pcts: list[int]
) -> DataFrame:
    """Streaming bottom-k QUANTILE sketch via ``applyInPandasWithState``:
    per-key state is the k (hash, value) pairs with the smallest
    deterministic hashes seen so far — a uniform-without-replacement
    sample whose sorted values answer nearest-rank percentiles, BOUNDED
    at k (long, double) pairs per key for any stream length and
    duplicate-insensitive (a re-delivered row merges into the same
    set). The value-carrying sibling of ``stateful_kmv``: same state
    algebra (union + re-cut to bottom-k), but the sketch summarizes a
    DISTRIBUTION, not just a cardinality.

    Each update emits one row per percentile with the integer-exact
    nearest-rank estimate rank = (pct*n + 99) div 100, matching the
    batch query bit-for-bit, plus the cumulative absorbed-row count
    ``n_seen`` (strictly increasing per key, so multi-batch tests can
    select the final state without assuming monotone estimates).

    ``rows``: streaming (grp, hv, v)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def merge(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        if state.exists:
            ph, pv, pn = state.get
            prev_h = np.array(ph, dtype=np.int64)
            prev_v = np.array(pv, dtype=np.float64)
        else:
            prev_h = np.array([], dtype=np.int64)
            prev_v = np.array([], dtype=np.float64)
            pn = 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        all_h = np.concatenate([prev_h, batch["hv"].to_numpy(dtype=np.int64)])
        all_v = np.concatenate(
            [prev_v, batch["v"].to_numpy(dtype=np.float64)]
        )
        uh, idx = np.unique(all_h, return_index=True)
        hs, vs = uh[:k], all_v[idx][:k]
        n_seen = int(pn) + len(batch)
        state.update((hs.tolist(), vs.tolist(), n_seen))
        sv = np.sort(vs)
        n = len(sv)
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(pcts),
                "pct": [int(p) for p in pcts],
                "n_seen": [n_seen] * len(pcts),
                "n_retained": [n] * len(pcts),
                "est_quantile": [sv[(p * n + 99) // 100 - 1] for p in pcts],
            }
        )

    return rows.groupBy("grp").applyInPandasWithState(
        merge,
        outputStructType=(
            "grp string, pct bigint, n_seen bigint, "
            "n_retained bigint, est_quantile double"
        ),
        stateStructType="hvs array<bigint>, vals array<double>, n_seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cms(rows: DataFrame) -> DataFrame:
    """Streaming count-min sketch via ``applyInPandasWithState``: one
    state group per hash row (salt), each holding its bucket->count
    map — bounded at the bucket width no matter the stream length.
    Unlike the KMV/HLL merges (idempotent set/max semantics), CMS
    state is ADDITIVE, so it leans on the availableNow harness's
    exactly-once delivery: each micro-batch's (salt, bucket) counts
    add onto the state, and the emitted cells after the final batch
    equal the batch sketch cell-for-cell (counts only ever grow, so
    the last update per cell is the max — how the caller collapses
    update-mode sink rows).

    ``rows``: streaming (salt, bucket) pairs, one per token x hash
    row."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def merge(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        prev = (
            dict(zip(state.get[0], state.get[1])) if state.exists else {}
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        # row-loop-ok: iterates value_counts() output — DISTINCT bucket
        # ids, bounded by the CMS width (state size), never batch rows.
        for b, c in batch["bucket"].value_counts().items():
            prev[b] = prev.get(b, 0) + int(c)
        state.update((list(prev.keys()), [int(v) for v in prev.values()]))
        yield pd.DataFrame(
            {
                "salt": key[0],
                "bucket": list(prev.keys()),
                "c": [int(v) for v in prev.values()],
            }
        )

    return rows.groupBy("salt").applyInPandasWithState(
        merge,
        outputStructType="salt string, bucket string, c bigint",
        stateStructType="buckets array<string>, counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_rate_bounded(
    spark: SparkSession,
    rows_per_batch: int,
    n_rows: int,
    name: str,
    timeout_sec: float = 120.0,
) -> DataFrame:
    """Drain a bounded, DETERMINISTIC prefix of the ``rate-micro-batch``
    source — the non-file streaming source (SURVEY §2.3 'streaming
    source' row beyond the Kafka-stand-in file source). Unlike
    ``rate``, rate-micro-batch emits exactly ``rowsPerBatch`` rows per
    micro-batch with values 0,1,2,… and timestamps advancing a fixed
    ``advanceMillisPerBatch`` from ``startTimestamp`` — so the first
    ``n_rows`` rows are a pure function of the options, which is what
    makes an unbounded source oracle-checkable: append raw rows to a
    memory sink, stop once ≥ n_rows arrived, and cut at value < n_rows
    (the source has no natural end, so the cut IS the determinism).

    Returns the bounded batch DataFrame of (timestamp, value). The
    timestamp contract (value v arrives in batch v div rowsPerBatch at
    epoch startTimestamp + batch·advance) is part of the assertion
    surface downstream queries aggregate over."""
    import time as _time

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .option("numPartitions", 4)
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.monotonic() + timeout_sec
        while _time.monotonic() < deadline:
            if spark.table(name).count() >= n_rows:
                break
            _time.sleep(0.2)
        else:
            raise TimeoutError(
                f"rate-micro-batch produced <{n_rows} rows in {timeout_sec}s"
            )
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name).filter(F.col("value") < n_rows)


def stateful_page_hinkley(
    events: DataFrame, delta_dollars: float, lambda_nanos: int
) -> DataFrame:
    """Streaming per-user Page-Hinkley mean-shift detector via
    ``applyInPandasWithState``. Unlike CUSUM's fixed reference k, PH's
    reference is the RUNNING MEAN, so the per-user state carries
    (count, cent-sum, walk g, running-min of g, max PH, alarms) — six
    longs, O(1) per key. The batch identity (plans.analytics
    .page_hinkley_drift, row-level form): term_t = x_t - mean_t -
    delta, g = cumsum(9-dp-rounded terms), PH_t = g_t - min(0,
    running_min(g)). Terms are 9-dp-rounded into int64 NANO units, so
    the whole walk is exact integer arithmetic and the drained state
    table equals the batch window query value-for-value — the nano
    lattice is exactly what the oracle's DECIMAL(28,12) sums hold.
    Same time-ordered-batch contract as stateful_cusum."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def scan(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        n, p, g, gmin, maxph, alarms = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        v = batch["value"].to_numpy(dtype=np.float64)
        v = v[np.isfinite(v)]  # mirror the batch detector: skip non-finite
        if len(v):
            c = np.floor(v * 100.0 + 0.5).astype(np.int64)
            idx = n + np.arange(1, len(c) + 1, dtype=np.int64)
            pref = p + np.cumsum(c)
            # identical IEEE expression to both engines' term column
            term = (
                c / 100.0
                - pref.astype(np.float64) / (idx.astype(np.float64) * 100.0)
                - delta_dollars
            )
            tn = np.floor(term * 1e9 + 0.5).astype(np.int64)
            walk = g + np.cumsum(tn)
            gmin_run = np.minimum(
                np.int64(gmin), np.minimum.accumulate(walk)
            )
            ph = walk - gmin_run
            n += len(c)
            p = int(pref[-1])
            g = int(walk[-1])
            gmin = int(gmin_run[-1])
            maxph = max(maxph, int(ph.max()))
            alarms += int((ph > lambda_nanos).sum())
        state.update((n, p, g, gmin, maxph, alarms))
        # max_ph in dollars at 6 dp: nanos/1e9 is the same correctly-
        # rounded double both engines produce from their exact decimal,
        # then the shared floor(x*1e6+0.5)/1e6 rounding
        mp = float(np.floor((maxph / 1e9) * 1e6 + 0.5) / 1e6)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_ph": [mp],
                "n_alarms": [alarms],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        scan,
        outputStructType=(
            "user_id long, n_events long, max_ph double, n_alarms long"
        ),
        stateStructType=(
            "n long, p long, g long, gmin long, maxph long, alarms long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_sprt(
    events: DataFrame,
    c1_nanos: int,
    c0_nanos: int,
    a_nanos: int,
    b_nanos: int,
) -> DataFrame:
    """Streaming Wald SPRT via ``applyInPandasWithState``: per-variant
    state is five longs — (n, successes k, decided {0=continue,
    1=h1, -1=h0}, n_at_decision, llr_at_decision_nanos). The evidence
    walk llr = k*c1 + (n-k)*c0 is exact int64 NANO arithmetic (the
    batch query plans.analytics.sprt_ab_conversion's lattice), so the
    drained state equals the batch walk value-for-value and the batch
    oracle applies verbatim. A decision latches on the FIRST boundary
    crossing across batches and never un-latches — the online
    early-stopping semantics the batch form can only reconstruct.
    Same time-ordered-batch contract as stateful_cusum."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def scan(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        n, k, decided, n_at, l_at = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        y = (batch["event_type"] == "purchase").to_numpy(dtype=np.int64)
        if len(y):
            kc = k + np.cumsum(y)
            rn = n + np.arange(1, len(y) + 1, dtype=np.int64)
            ln9 = kc * c1_nanos + (rn - kc) * c0_nanos
            if decided == 0:
                hit = (ln9 >= a_nanos) | (ln9 <= b_nanos)
                if hit.any():
                    i = int(np.argmax(hit))
                    decided = 1 if ln9[i] >= a_nanos else -1
                    n_at = int(rn[i])
                    l_at = int(ln9[i])
            n = int(rn[-1])
            k = int(kc[-1])
        state.update((n, k, decided, n_at, l_at))
        lfin = k * c1_nanos + (n - k) * c0_nanos
        dec = {0: "continue", 1: "accept_h1", -1: "accept_h0"}[decided]
        import numpy as np  # noqa: F811

        yield pd.DataFrame(
            {
                "variant": [key[0]],
                "n_total": [n],
                "n_conv": [k],
                "llr_final": [
                    float(np.floor((lfin / 1e9) * 1e6 + 0.5) / 1e6)
                ],
                "decision": [dec],
                "n_at_decision": [n_at if decided != 0 else None],
                "llr_at_decision": [
                    float(np.floor((l_at / 1e9) * 1e6 + 0.5) / 1e6)
                    if decided != 0
                    else None
                ],
            }
        )

    return events.withColumn(
        "variant", F.col("user_id") % 2
    ).groupBy("variant").applyInPandasWithState(
        scan,
        outputStructType=(
            "variant long, n_total long, n_conv long, llr_final double,"
            " decision string, n_at_decision long, llr_at_decision double"
        ),
        stateStructType=(
            "n long, k long, decided long, n_at long, l_at long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
