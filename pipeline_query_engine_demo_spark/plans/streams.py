"""Streaming query corpus: each entry runs a Structured Streaming query
to completion (availableNow → memory sink, see streaming.windows.
run_to_memory) and returns the materialized result, so the driver can
oracle-check stream-batch parity against plain SQL.

The fixture is a single Parquet file, so availableNow processes exactly
one micro-batch — which makes even the update-mode stateful query emit
one final row per key, i.e. batch-equivalent output. Multi-batch
incremental behavior is ALSO under the oracle gate since round 12: the
``streaming_multibatch_*`` queries at the bottom of this module drain a
re-chunked 4-file source one file per micro-batch and assert
``min_data_batches >= 2`` inside the builder, so the single-batch
shortcut cannot silently return. tests/test_streaming.py keeps the
finer-grained state-evolution assertions (per-batch emission history).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pipeline_query_engine_demo_spark import streaming
from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import replica_path, scratch_path
from pipeline_query_engine_demo_spark.sources.catalog import load_table, parquet_schema


def _final_emission(df: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    """Collapse an update-mode memory-sink table to the LAST emission per
    key. Update mode appends one emission per key per micro-batch, so
    the raw sink table equals the final state only when the availableNow
    drain ingests everything in ONE batch — a multi-file source dir or
    admission limits would leave earlier per-batch emissions behind and
    fail the oracle hash (r8 advisor finding). ``seq_col`` must be
    STRICTLY increasing across a key's emissions (an event counter — a
    key only emits on new input rows), so the max-over-key rows are the
    final snapshot regardless of how many batches the drain took. The
    window is partitioned by the key — no global shuffle funnel."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_mx", F.max(seq_col).over(w))
        .filter(F.col(seq_col) == F.col("_mx"))
        .drop("_mx")
    )


@query(
    "streaming_tumbling_window_counts",
    category="streaming",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
)
def streaming_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream —
    the streaming twin of plans.windows.tumbling_window_counts, sharing
    its oracle (stream-batch parity IS the correctness statement)."""
    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(streaming.tumbling_counts(events), "complete", name="t_tumbling")
    return result.orderBy("window_start", "event_type")


@query(
    "streaming_static_join_segments",
    category="streaming",
    oracle="""
        SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY segment ORDER BY segment
    """,
)
def streaming_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join + aggregation: the streaming form of
    the star-schema dimension lookup."""
    events = streaming.read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    result = streaming.run_to_memory(
        streaming.stream_static_join_segments(events, customer), "complete", name="t_static"
    )
    return result.orderBy("segment")


@query(
    "streaming_stream_stream_join",
    category="streaming",
    oracle="""
        SELECT a.event_id AS click_id, b.event_id AS purchase_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        ORDER BY click_id, purchase_id
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks x purchases within
    30 min, same user): both join states bounded by watermark + time
    range. Inner matches emit as found, so the availableNow drain equals
    the batch join (the oracle)."""
    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stream_stream_click_purchases(events), "append", name="t_ssjoin"
    )
    return result.orderBy("click_id", "purchase_id")


@query(
    "streaming_dedup_on_arrival",
    category="streaming",
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS n
        FROM (SELECT DISTINCT event_id, user_id, event_type FROM events)
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """,
)
def streaming_dedup_on_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (``dropDuplicatesWithinWatermark``): the
    dedup-on-arrival pattern of an ingest pipeline, with the guarantee
    every bounded-state dedup actually offers: each event id is admitted
    once WITHIN the watermark horizon — seen-id state is evicted as the
    watermark advances, so a duplicate arriving more than the delay
    after the original would be re-admitted. That bounded horizon is
    the price of bounded state (plain ``dropDuplicates`` on a subset
    excluding the event-time column dedups forever but its state grows
    forever). Fixture ids are unique, so the oracle is the batch
    DISTINCT (the state machinery is what's under test)."""
    events = streaming.read_events_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    counts = deduped.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    result = streaming.run_to_memory(counts, "complete", name="t_dedup")
    return result.orderBy("user_id", "event_type")


@query(
    "streaming_foreach_batch_sink",
    category="streaming",
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` file sink: each micro-batch lands as Parquet via
    arbitrary batch logic — the escape hatch for sinks Structured
    Streaming lacks natively (JDBC upserts, multi-table writes).
    foreachBatch is at-least-once, so the write must be idempotent:
    each batch OVERWRITES its own batch-id directory — a retried batch
    replaces its files instead of appending duplicates. The oracle
    checks the written files round-trip to the batch answer.

    Its ``session.scratch_path`` dirs, one per fixture dir, are wiped at
    the start of each run, so repeated runs reuse them."""
    import hashlib
    import shutil

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = scratch_path(f"febs_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "_ckpt", ignore_errors=True)
    events = streaming.read_events_stream(spark, sf_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    q = (
        events.select("event_id", "event_type")
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", out + "_ckpt")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "streaming_tws_user_value_totals",
    category="streaming",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_tws_user_value_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator on Spark 4's arbitrary-state
    API (``transformWithStateInPandas``): per-user (count, exact-cent
    total) in a typed ValueState. AvailableNow drain → the final row per
    user equals the batch GROUP BY (the oracle); the per-row cent
    lattice floor(x·100+0.5) makes the total order-independent so the
    streaming accumulation and DuckDB's SUM agree exactly.

    The API's state server requires multi-column-family stores, so the
    drain runs under ``streaming.tws_state_store``: the RocksDB provider
    is held for the drain only (the HDFSBacked default stays for every
    other streaming query) and the workers get the vendored protobuf
    runtime (session._ensure_protobuf). Multi-batch state evolution is
    tested in tests/test_streaming.py."""
    with streaming.tws_state_store(spark):
        events = streaming.read_events_stream(spark, sf_dir)
        result = streaming.run_to_memory(
            streaming.tws_user_value_totals(events), "update", name="t_tws_totals"
        )
    # n_events strictly increases per emission, so the collapse keeps
    # exactly the final per-user snapshot even on a multi-batch drain.
    return _final_emission(result, ["user_id"], "n_events").orderBy("user_id")


@query(
    "streaming_stateful_user_counts",
    category="streaming",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user counters in the state store. Single-batch availableNow run
    → one final row per user, equal to the batch GROUP BY (the oracle).
    Incremental multi-batch state evolution is tested in
    tests/test_streaming.py."""
    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(streaming.stateful_user_counts(events), "update", name="t_stateful")
    return _final_emission(result, ["user_id"], "n_events").orderBy("user_id")


@query(
    "streaming_sliding_window_counts",
    category="streaming",
    oracle="""
        WITH offsets AS (SELECT unnest([0, 30]) AS off_min),
             slid AS (
                SELECT time_bucket(INTERVAL '1 hour', e.ts - to_minutes(o.off_min))
                       + to_minutes(o.off_min) AS window_start
                FROM events e CROSS JOIN offsets o
             )
        SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n
        FROM slid
        GROUP BY window_start
        ORDER BY window_start
    """,
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window streaming aggregation (1 hour every
    30 min — each event feeds 2 overlapping windows): the streaming twin
    of plans.windows.sliding_window_counts, sharing its oracle.

    Output-mode honesty: this harness drains in COMPLETE mode (the
    memory sink returns the full final table for the oracle hash), and
    in complete mode Spark documents that watermarks do NOT evict
    aggregation state — every window stays resident. The production
    deployment of this exact aggregation uses append/update mode, where
    the declared 1-hour watermark finalizes and evicts windows older
    than (max event time − 1 h); append-mode eviction is exercised by
    the foreachBatch sink queries and tests/test_streaming."""
    events = streaming.read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    result = streaming.run_to_memory(agg, "complete", name="t_sliding")
    return result.orderBy("window_start")


@query(
    "streaming_session_window_values",
    category="streaming",
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ),
        m AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev IS NULL OR ts - prev > INTERVAL 5 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM o
        ),
        g AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 5 MINUTE AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
)
def streaming_session_window_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (5-minute inactivity gap) — merging
    variable-length windows is the hardest streaming-window case (state
    merge on every late-arriving event inside the gap). Same
    F.session_window call and gaps-and-islands oracle as the batch twin
    (plans.windows.session_window_counts); complete output mode (update is
    unsupported for session-window streaming aggregations). One
    availableNow batch emits each session's final row, so stream
    output equals batch."""
    events = streaming.read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    result = streaming.run_to_memory(agg, "complete", name="t_session")
    return result.orderBy("user_id", "session_start")


def _embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings Parquet (the vector-ingest
    path: new embedding shards land in a directory and stream through
    scoring). Schema from one batch footer read, like read_events_stream;
    the scratch-dir/symlink mechanics are the shared
    ``streaming.windows._stream_source_dir`` (one copy of the
    lexists/absolute-target/race invariants)."""
    from pipeline_query_engine_demo_spark.streaming.windows import _stream_source_dir

    d = _stream_source_dir(sf_dir, "embeddings.parquet")
    schema = parquet_schema(spark, os.path.join(sf_dir, "embeddings.parquet"))
    return spark.readStream.schema(schema).parquet(d)


_RHU_COS = sql_round_half_up(
    "list_dot_product(e.embedding::DOUBLE[], q.qv)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv, q.qv)))",
    6,
)


@query(
    "streaming_cosine_scores",
    category="streaming",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 2
        ),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   {_RHU_COS} AS cosine_sim
            FROM embeddings e CROSS JOIN q
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, vec_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cosine_sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def streaming_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector scoring — the vector-ingest shape: embedding
    shards stream through a STATELESS map-side cosine against the
    broadcast query set (append mode, no watermark needed), land in the
    sink, and ranking happens downstream on the scored table. This is
    how production keeps a vector index fresh: scoring rides ingest;
    global top-k is a batch query over the scored sink, because a
    global sort is not a streaming-computable operator (only complete-
    mode aggregations are — the documented split).

    Oracle: stream-batch parity against the brute-force cosine SQL.
    Scale: per-batch work is the broadcast-join scoring only; state is
    zero; the sink table is what any downstream consumer ranks."""
    from pipeline_query_engine_demo_spark.functions.vectors import cosine

    emb_stream = _embeddings_stream(spark, sf_dir)
    q = F.broadcast(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    )
    scored = emb_stream.join(q).select(
        "query_id",
        "vec_id",
        round_half_up(cosine(F.col("embedding"), F.col("_qv")), 6).alias("cosine_sim"),
    )
    sunk = streaming.run_to_memory(scored, "append", name="t_vecscore")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "vec_id")
    return (
        sunk.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


#: Left-outer stream-stream cutoff: clicks are restricted to those
#: whose 30-minute join window provably expires before the final
#: watermark (max ts ~23:26+ on Jan 30 at every SF, minus the 10-min
#: delay), so every unmatched click's null row is guaranteed emitted
#: before the availableNow drain terminates. Without the cutoff the
#: youngest clicks' outer results stay buffered in state — correct
#: streaming semantics, but not batch-equivalent output.
_SS_LEFT_CUTOFF = "2024-01-30 12:00:00"

#: Far-future timestamp for the watermark-advancing flush rows the
#: outer stream-stream joins append between drains.
_SS_FLUSH_TS = "2024-02-15 00:00:00"


@query(
    "streaming_stream_stream_left_join",
    category="streaming",
    oracle=f"""
        WITH clicks AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events
            WHERE event_type = 'click' AND ts < TIMESTAMP '{_SS_LEFT_CUTOFF}'
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT c.click_id, p.purchase_id
        FROM clicks c LEFT JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        ORDER BY click_id, purchase_id
    """,
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the hard half of
    stream joins: matched rows emit as found, but an UNMATCHED click's
    null row can only emit once the watermark proves no future purchase
    can still match (click_ts + 30 min < watermark), i.e. outer results
    are inherently delayed by the join window + watermark delay, and
    rows still inside that horizon at shutdown stay buffered in state.
    The query restricts clicks to a cutoff whose windows all expire
    before the drain finishes, which is exactly the contract a
    production job relies on (continuous watermark progress); the
    boundary behavior is documented rather than hidden.

    Scale: both join states bounded by watermark + time range, same as
    the inner form; the outer emission adds no state beyond it."""
    # Private staged source (NOT the shared stream dir): the flush
    # mechanism appends dummy rows, which must never pollute the other
    # streaming queries' shared input.
    events, append_flush_rows, root = streaming.staged_events_source(
        spark, sf_dir, "ssleft"
    )
    # The user_id == -1 escape admits the far-future flush row (below)
    # through the cutoff: the GLOBAL watermark is the MIN over both
    # input watermarks, so flushing buffered clicks requires advancing
    # the CLICK side's own watermark, not just the purchase side's.
    clicks = (
        events.filter(
            (F.col("event_type") == "click")
            & (
                (F.col("ts") < F.lit(_SS_LEFT_CUTOFF).cast("timestamp"))
                | (F.col("user_id") == -1)
            )
        )
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = clicks.join(purchases, cond, "left_outer").select(
        "click_id", "purchase_id"
    )
    # Two availableNow drains over one checkpoint, with dummy
    # far-future flush rows between them advancing BOTH sides'
    # watermarks (global watermark = min over inputs) — mechanics in
    # streaming.drain_with_flush. The flush purchase row cannot
    # produce left-outer output; the flush click row is filtered below.
    result = streaming.drain_with_flush(
        joined,
        root,
        flush=lambda: append_flush_rows(
            [
                (-1, _SS_FLUSH_TS, -1, "click"),
                (-2, _SS_FLUSH_TS, -1, "purchase"),
            ]
        ),
    )
    return result.filter(F.col("click_id") >= 0).orderBy("click_id", "purchase_id")


@query(
    "streaming_stream_stream_full_join",
    category="streaming",
    oracle=f"""
        WITH clicks AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events
            WHERE event_type = 'click' AND ts < TIMESTAMP '{_SS_LEFT_CUTOFF}'
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events
            WHERE event_type = 'purchase' AND ts < TIMESTAMP '{_SS_LEFT_CUTOFF}'
        )
        SELECT c.click_id, p.purchase_id
        FROM clicks c FULL OUTER JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        ORDER BY click_id, purchase_id
    """,
)
def streaming_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — completing the
    stream-join semantics triple (inner / left / full): BOTH sides'
    unmatched rows must survive to null-emission, so both sides carry
    the expiry cutoff and the watermark-advancing flush applies to each
    (see streaming_stream_stream_left_join for the mechanics: global
    watermark = min of the inputs; two drains over one checkpoint; the
    excluded flush rows advance both sides).

    Scale: state on both sides bounded by watermark + the join's time
    range, exactly as in the inner form — full outer adds emission
    logic, not state."""
    events, append_flush_rows, root = streaming.staged_events_source(
        spark, sf_dir, "ssfull"
    )
    cutoff = F.lit(_SS_LEFT_CUTOFF).cast("timestamp")
    clicks = (
        events.filter(
            (F.col("event_type") == "click")
            & ((F.col("ts") < cutoff) | (F.col("user_id") == -1))
        )
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        events.filter(
            (F.col("event_type") == "purchase")
            & ((F.col("ts") < cutoff) | (F.col("user_id") == -1))
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = clicks.join(purchases, cond, "full_outer").select(
        "click_id", "purchase_id", "click_user", "purchase_user"
    )
    result = streaming.drain_with_flush(
        joined,
        root,
        flush=lambda: append_flush_rows(
            [
                (-1, _SS_FLUSH_TS, -1, "click"),
                (-2, _SS_FLUSH_TS, -1, "purchase"),
            ]
        ),
    )
    # Exclude the flush rows from BOTH sides (either side may be null
    # on an outer row, so test the user columns, not the ids).
    return (
        result.filter(
            (F.col("click_user").isNull() | (F.col("click_user") != -1))
            & (F.col("purchase_user").isNull() | (F.col("purchase_user") != -1))
        )
        .select("click_id", "purchase_id")
        .orderBy("click_id", "purchase_id")
    )


@query(
    "streaming_scd2_enrichment",
    category="streaming",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type AS state, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_state
            FROM events
        ),
        changes AS (
            SELECT user_id, state, ts AS valid_from, event_id
            FROM ordered
            WHERE prev_state IS NULL OR prev_state <> state
        ),
        dim AS (
            SELECT user_id,
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY valid_from, event_id) AS BIGINT)
                       AS version,
                   state, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from, event_id) AS valid_to
            FROM changes
        )
        SELECT p.event_id AS purchase_id, p.user_id, d.version,
               d.state AS state_at_purchase
        FROM events p JOIN dim d
          ON p.user_id = d.user_id
         AND p.ts >= d.valid_from
         AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        WHERE p.event_type = 'purchase'
        ORDER BY purchase_id
    """,
)
def streaming_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment against an SCD2 dimension —
    the CDC-warehouse serving shape: each streamed purchase joins the
    user-state HISTORY (scd2_user_state_history's versioned intervals,
    computed batch-side as the static relation) on user + interval
    containment, picking the exact dimension version valid AT the
    event's timestamp — never today's version for yesterday's event.
    The intervals tile, so each purchase matches exactly one version
    and the availableNow drain equals the batch range join.

    Scale: stream-static joins re-join each micro-batch against the
    static relation; the dimension is change-row-sized (collapsed
    no-ops), and the interval predicate makes the per-batch join a
    range join on the user key — the same plan family as
    range_join_followups, with state-free streaming semantics (no
    watermark needed: the static side is not a stream)."""
    from pipeline_query_engine_demo_spark.plans.windows import scd2_user_state_history

    dim = (
        scd2_user_state_history(spark, sf_dir)
        .select("user_id", "version", "state", "valid_from", "valid_to")
        .withColumnRenamed("user_id", "dim_user_id")
    )
    events = streaming.read_events_stream(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("dim_user_id"))
        & (F.col("purchase_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("purchase_ts") < F.col("valid_to")))
    )
    joined = purchases.join(dim, cond, "inner").select(
        "purchase_id",
        "user_id",
        "version",
        F.col("state").alias("state_at_purchase"),
    )
    result = streaming.run_to_memory(joined, "append", name="t_scd2enrich")
    return result.orderBy("purchase_id")


from pipeline_query_engine_demo_spark.plans.registry import REGISTRY as _REGISTRY  # noqa: E402


@query(
    "streaming_cusum_alarms",
    category="streaming",
    oracle=_REGISTRY["cusum_change_detection"].oracle,
)
def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cusum_change_detection: the same integer-cent
    CUSUM recurrence held in applyInPandasWithState per-user state
    (streaming/windows.stateful_cusum), drained via the availableNow
    single-batch harness so the final state table equals the batch
    detector — the oracle is REUSED VERBATIM from the batch query, so
    stream-batch parity is checked by the same hash. Incremental
    multi-batch state evolution (time-split batches) is exercised in
    tests/test_streaming."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        _CUSUM_H,
        _CUSUM_K,
    )

    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stateful_cusum(events, _CUSUM_K, _CUSUM_H),
        "update",
        name="t_cusum",
    )
    return result.orderBy("user_id")


@query(
    "streaming_ewma_values",
    category="streaming",
    oracle=_REGISTRY["ewma_smoothed_values"].oracle,
)
def streaming_ewma_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ewma_smoothed_values: the 8-tap integer-unit
    EWMA state held per user in applyInPandasWithState
    (streaming/windows.stateful_ewma) and drained via the availableNow
    harness; the batch oracle applies VERBATIM because the state IS
    the batch query's bounded window. Incremental multi-batch state
    evolution is exercised in tests/test_streaming."""
    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stateful_ewma(events), "update", name="t_ewma"
    )
    return result.orderBy("user_id")


@query(
    "streaming_rate_source_rollup",
    category="streaming",
    oracle="""
        WITH v AS (SELECT unnest(range(5000)) AS v)
        SELECT CAST(v % 10 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(v) AS BIGINT) AS sum_value,
               CAST(SUM(v // 1000) AS BIGINT) AS sum_epoch_sec
        FROM v GROUP BY bucket ORDER BY bucket
    """,
)
def streaming_rate_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-file streaming source: Spark's ``rate-micro-batch``
    generator (the deterministic cousin of ``rate`` — exactly
    rowsPerBatch rows per micro-batch, values 0,1,2,…, timestamps
    advancing 1 s per batch from epoch 0). The stream appends raw rows
    to a memory sink until ≥5000 arrived, is stopped, and the
    deterministic prefix value<5000 is rolled up by value mod 10. The
    oracle regenerates the identical prefix from range(5000): n and
    Σvalue check the VALUE contract, Σepoch_sec checks the TIMESTAMP
    contract (value v lands in batch v div 1000 at epoch second
    v div 1000 — integer µs→s division, no rounding). sf_dir is
    unused: the source is the generator itself.

    Scale: rate-* sources exist for throughput/latency harnesses; the
    production swap is readStream.format("kafka") with this exact
    downstream shape. numPartitions=4 exercises the multi-partition
    generator path; the rollup is one combinable aggregate."""
    rows = streaming.run_rate_bounded(
        spark, rows_per_batch=1000, n_rows=5000, name="t_rate_rollup"
    )
    return (
        rows.groupBy((F.col("value") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.sum(
                (F.unix_micros(F.col("timestamp")) / F.lit(1000000)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("sum_epoch_sec"),
        )
        .orderBy("bucket")
    )


from pipeline_query_engine_demo_spark.plans import sketches as _sketches  # noqa: E402


@query(
    "streaming_kmv_distinct_by_source",
    category="streaming",
    oracle=f"""
        WITH {_sketches._SKETCH_CTES.strip()}
        SELECT source,
               {sql_round_half_up(
                   f"CASE WHEN n_ret < {_sketches.K} THEN CAST(n_ret AS DOUBLE) "
                   f"ELSE {_sketches._KMV_NUM!r} / CAST(theta AS DOUBLE) END", 6)}
                   AS kmv_estimate
        FROM mt ORDER BY source
    """,
)
def streaming_kmv_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of kmv_distinct_shingles_by_source's estimator
    column: documents stream in, per-source bottom-k hash state merges
    incrementally (streaming.stateful_kmv — k longs per key, BOUNDED
    regardless of stream length, duplicate-insensitive so re-delivered
    rows are harmless), drained via the availableNow harness. The
    final state table's estimate equals the batch sketch's — same
    integer θ, same IEEE division — so the batch CTE chain serves as
    the oracle. The stream side deliberately feeds RAW (source, hv)
    rows (no stream-side distinct): dedup happens in the bounded state
    merge, where it's free, instead of an unbounded dropDuplicates
    state upstream. Multi-batch state evolution is exercised in
    tests/test_streaming."""
    import pyspark.sql.functions as _F

    from pipeline_query_engine_demo_spark.operators import dedup as _dedup
    from pipeline_query_engine_demo_spark.streaming.windows import (
        _stream_source_dir,
    )

    d = _stream_source_dir(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    docs = spark.readStream.schema(schema).parquet(d)
    rows = docs.select(
        "source",
        _F.explode(
            _dedup._units(_F.col("text"), _dedup.DEFAULT_SHINGLE_N)
        ).alias("tok"),
    ).select(
        "source",
        _F.conv(_F.substring(_F.md5("tok"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    result = streaming.run_to_memory(
        streaming.stateful_kmv(
            rows, _sketches.K, _sketches.U, _sketches._KMV_NUM
        ),
        "update",
        name="t_kmv",
    )
    return result.orderBy("source")


@query(
    "streaming_hll_distinct_by_source",
    category="streaming",
    oracle=f"""
        WITH {_sketches._HLL_CTES.strip()}
        SELECT source,
               CAST(hit AS BIGINT) AS registers_hit,
               {sql_round_half_up(
                   f"{_sketches._HLL_ALPHA_NUM!r} / CAST(denom AS DOUBLE)", 6)}
                   AS hll_estimate
        FROM den ORDER BY source
    """,
)
def streaming_hll_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of hll_distinct_shingles_by_source: documents
    stream in as raw (source, hv) shingle hashes, per-source register
    state merges by element-wise max (streaming.stateful_hll — m=64
    longs per key, FIXED regardless of stream length or duplicate
    re-delivery), drained via the availableNow harness. Register max
    is associative + commutative + idempotent, so any batch split of
    the stream converges to the batch sketch bit-for-bit and the batch
    CTE chain is the oracle verbatim. Like the KMV twin, no
    stream-side distinct: dedup is free inside the bounded register
    merge, not an unbounded dropDuplicates state upstream. Multi-batch
    state evolution (median doc_id split) is exercised in
    tests/test_streaming."""
    import pyspark.sql.functions as _F

    from pipeline_query_engine_demo_spark.operators import dedup as _dedup
    from pipeline_query_engine_demo_spark.streaming.windows import (
        _stream_source_dir,
    )

    d = _stream_source_dir(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    docs = spark.readStream.schema(schema).parquet(d)
    rows = docs.select(
        "source",
        _F.explode(
            _dedup._units(_F.col("text"), _dedup.DEFAULT_SHINGLE_N)
        ).alias("tok"),
    ).select(
        "source",
        _F.conv(_F.substring(_F.md5("tok"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    result = streaming.run_to_memory(
        streaming.stateful_hll(
            rows,
            _sketches._HLL_M,
            _sketches._HLL_RHO_CAP,
            _sketches._HLL_ALPHA_NUM,
        ),
        "update",
        name="t_hll",
    )
    return result.orderBy("source")


from pipeline_query_engine_demo_spark.plans import analytics as _analytics  # noqa: E402


@query(
    "streaming_cms_token_counts",
    category="streaming",
    oracle=f"""
        WITH toks AS (
            SELECT t.tok AS token
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''
        ),
        exact AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM toks GROUP BY token
        ),
        top AS (
            SELECT * FROM exact ORDER BY exact_cnt DESC, token LIMIT 20
        ),
        salts AS (
            SELECT 'cms' || CAST(s.j AS VARCHAR) AS salt
            FROM unnest(generate_series(0, {_analytics._CMS_D - 1})) AS s(j)
        ),
        cells AS (
            SELECT salt,
                   substr(md5(salt || '|' || token), 1,
                          {_analytics._CMS_W_HEX}) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM toks CROSS JOIN salts
            GROUP BY salt, bucket
        )
        SELECT top.token, top.exact_cnt, CAST(MIN(cells.c) AS BIGINT) AS cms_est
        FROM top
        CROSS JOIN salts
        JOIN cells
          ON cells.salt = salts.salt
         AND cells.bucket = substr(md5(salts.salt || '|' || top.token), 1,
                                   {_analytics._CMS_W_HEX})
        GROUP BY top.token, top.exact_cnt
        ORDER BY exact_cnt DESC, token
    """,
)
def streaming_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cms_token_counts: tokens stream in as (salt,
    bucket) pairs, per-salt CMS rows accumulate ADDITIVELY in state
    (streaming.stateful_cms — the duplicate-SENSITIVE member of the
    streaming-sketch family next to the idempotent KMV/HLL merges,
    leaning on availableNow's exactly-once batch delivery), drained to
    a memory sink. Cell counts only grow, so the final sketch is the
    per-cell MAX over update-mode emissions; the probe side then runs
    in the batch domain against exact top-20 counts, making the batch
    CMS SQL the oracle verbatim. Multi-batch additive state is
    exercised in tests/test_streaming."""
    import pyspark.sql.functions as _F

    from pipeline_query_engine_demo_spark.streaming.windows import (
        _stream_source_dir,
    )

    d = _stream_source_dir(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    docs = spark.readStream.schema(schema).parquet(d)
    salts = [f"cms{j}" for j in range(_analytics._CMS_D)]
    toks = docs.select(
        _F.explode(_F.split(_F.col("text"), " ")).alias("token")
    ).filter(_F.col("token") != "")
    rows = toks.select(
        _F.explode(
            _F.array(
                *[
                    _F.struct(
                        _F.lit(s).alias("salt"),
                        _F.substring(
                            _F.md5(
                                _F.concat(_F.lit(s), _F.lit("|"), _F.col("token"))
                            ),
                            1,
                            _analytics._CMS_W_HEX,
                        ).alias("bucket"),
                    )
                    for s in salts
                ]
            )
        ).alias("sb")
    ).select(_F.col("sb.salt").alias("salt"), _F.col("sb.bucket").alias("bucket"))
    sink = streaming.run_to_memory(
        streaming.stateful_cms(rows), "update", name="t_cms"
    )
    cells = sink.groupBy("salt", "bucket").agg(_F.max("c").alias("c"))

    batch_docs = load_table(spark, sf_dir, "documents")
    btoks = batch_docs.select(
        _F.explode(_F.split(_F.col("text"), " ")).alias("token")
    ).filter(_F.col("token") != "")
    top = (
        btoks.groupBy("token")
        .agg(_F.count(_F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(_F.desc("exact_cnt"), "token")
        .limit(20)
    )
    probes = top.select(
        "token",
        "exact_cnt",
        _F.explode(_F.array(*[_F.lit(s) for s in salts])).alias("salt"),
    ).withColumn(
        "bucket",
        _F.substring(
            _F.md5(_F.concat(_F.col("salt"), _F.lit("|"), _F.col("token"))),
            1,
            _analytics._CMS_W_HEX,
        ),
    )
    return (
        probes.join(_F.broadcast(cells), ["salt", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(_F.min("c").cast("bigint").alias("cms_est"))
        .orderBy(_F.desc("exact_cnt"), "token")
    )


@query(
    "streaming_quantile_sketch_by_status",
    category="streaming",
    oracle=f"""
        WITH h AS (
            SELECT o_orderstatus,
                   CAST('0x' || substring(md5(
                       CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15)
                       AS BIGINT) AS hv,
                   o_totalprice AS v
            FROM orders),
        tot AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_seen
                FROM h GROUP BY 1),
        r AS (SELECT o_orderstatus, hv, v,
                     row_number() OVER (PARTITION BY o_orderstatus
                                        ORDER BY hv) AS rn
              FROM h),
        sk AS (SELECT o_orderstatus, v FROM r
               WHERE rn <= {_sketches._QSK_K}),
        n AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
              FROM sk GROUP BY 1),
        rv AS (SELECT o_orderstatus, v,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY v) AS vr
               FROM sk),
        p AS (SELECT unnest([{", ".join(str(p) for p in _sketches._QSK_PCTS)}])
                     AS pct)
        SELECT n.o_orderstatus AS grp,
               CAST(p.pct AS BIGINT) AS pct,
               t.n_seen,
               n.n AS n_retained,
               rv.v AS est_quantile
        FROM p CROSS JOIN n
        JOIN tot t ON t.o_orderstatus = n.o_orderstatus
        JOIN rv ON rv.o_orderstatus = n.o_orderstatus
               AND rv.vr = (CAST(p.pct AS BIGINT) * n.n + 99) // 100
        ORDER BY grp, pct
    """,
)
def streaming_quantile_sketch_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of ``quantile_sketch_totalprice``, keyed by
    ``o_orderstatus``: orders stream in as raw (status, hash, price)
    rows, per-status bottom-k (hash, value) state merges incrementally
    (streaming.stateful_bottomk_quantiles — k (long, double) pairs per
    key, BOUNDED for any stream length, duplicate-insensitive), and
    every update emits the current nearest-rank percentile estimates.
    Bottom-k union is associative/commutative/idempotent, so any batch
    split converges to the batch sketch bit-for-bit and the per-status
    batch SQL is the oracle verbatim (same integer rank arithmetic,
    same untouched parquet doubles — no float recomputation anywhere).
    Multi-batch state evolution (orderkey median split, every status
    in both batches) is exercised in tests/test_streaming."""
    import pyspark.sql.functions as _F

    from pipeline_query_engine_demo_spark.streaming.windows import (
        _stream_source_dir,
    )

    d = _stream_source_dir(sf_dir, "orders.parquet")
    schema = parquet_schema(spark, os.path.join(sf_dir, "orders.parquet"))
    orders = spark.readStream.schema(schema).parquet(d)
    rows = orders.select(
        _F.col("o_orderstatus").alias("grp"),
        _F.conv(
            _F.substring(
                _F.md5(_F.col("o_orderkey").cast("bigint").cast("string")),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("hv"),
        _F.col("o_totalprice").alias("v"),
    )
    result = streaming.run_to_memory(
        streaming.stateful_bottomk_quantiles(
            rows, _sketches._QSK_K, _sketches._QSK_PCTS
        ),
        "update",
        name="t_qsk",
    )
    return result.orderBy("grp", "pct")


@query(
    "streaming_page_hinkley_alarms",
    category="streaming",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
            FROM events WHERE isfinite(value)),
        seq AS (
            SELECT user_id, ts, event_id, c,
                   CAST(row_number() OVER w AS BIGINT) AS i,
                   CAST(SUM(c) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS p
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        term AS (
            SELECT user_id, ts, event_id,
                   CAST({sql_round_half_up(
                       "CAST(c AS DOUBLE) / 100.0"
                       " - CAST(p AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0)"
                       " - 5.0", 9)} AS DECIMAL(28,12)) AS tm
            FROM seq),
        walk AS (
            SELECT user_id, ts, event_id,
                   SUM(tm) OVER w AS g
            FROM term
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        ph AS (
            SELECT user_id,
                   g - LEAST(CAST(0 AS DECIMAL(38,12)),
                             MIN(g) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)) AS ph_t
            FROM walk)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_round_half_up("CAST(MAX(ph_t) AS DOUBLE)", 6)}
                   AS max_ph,
               CAST(SUM(CASE WHEN ph_t > CAST(400 AS DECIMAL(28,12))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
        FROM ph GROUP BY 1 ORDER BY 1
    """,
)
def streaming_page_hinkley_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user Page-Hinkley detector (running-mean change
    monitor, delta=5 dollars, lambda=400): six-long O(1) state per user
    in applyInPandasWithState (streaming/windows.stateful_page_hinkley)
    updated by the exact int64-nano walk, drained via the availableNow
    harness. The oracle is the batch window identity (row-level twin of
    page_hinkley_drift's daily form): terms 9-dp-rounded into
    DECIMAL(28,12), g = cumulative sum, PH = g - min(0, running min g)
    — the nano-lattice state equals the decimal sums value-for-value.
    Incremental multi-batch state evolution is exercised in
    tests/test_streaming."""
    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stateful_page_hinkley(events, 5.0, 400 * 10**9),
        "update",
        name="t_pagehinkley",
    )
    return result.orderBy("user_id")


@query(
    "streaming_sprt_decision",
    category="streaming",
    oracle=_REGISTRY["sprt_ab_conversion"].oracle,
)
def streaming_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sprt_ab_conversion: the Wald evidence walk
    held as five longs of per-variant state (streaming/windows
    .stateful_sprt), latching the decision at the FIRST boundary
    crossing — the form in which an SPRT actually runs in production
    (the batch query reconstructs the crossing; the stream LIVES at
    it). The exact int64-nano lattice makes the drained state equal
    the batch walk value-for-value, so the batch oracle is REUSED
    VERBATIM. Incremental multi-batch decision-latching is exercised
    in tests/test_streaming."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        _SPRT_A_N,
        _SPRT_B_N,
        _SPRT_C0_N,
        _SPRT_C1_N,
    )

    events = streaming.read_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stateful_sprt(
            events, _SPRT_C1_N, _SPRT_C0_N, _SPRT_A_N, _SPRT_B_N
        ),
        "update",
        name="t_sprt",
    )
    return result.orderBy("variant")


@query(
    "streaming_bloom_membership",
    category="streaming",
    oracle="""
        WITH pos AS (
            SELECT event_type,
                   CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)
                       || '#' || j.j), 1, 15) AS BIGINT) % 1024 AS BIGINT)
                       AS pos
            FROM events, (SELECT unnest(['0', '1', '2']) AS j) j),
        hit AS (
            SELECT event_type, pos // 32 AS word_idx,
                   CAST(bit_or(CAST(1 AS BIGINT)
                       << CAST(pos % 32 AS INTEGER)) AS BIGINT) AS word
            FROM pos GROUP BY 1, 2),
        grid AS (
            SELECT et.event_type, w.word_idx
            FROM (SELECT DISTINCT event_type FROM events) et,
                 (SELECT CAST(unnest(range(32)) AS BIGINT) AS word_idx) w)
        SELECT g.event_type, g.word_idx,
               COALESCE(h.word, 0) AS word,
               CAST(bit_count(COALESCE(h.word, 0)) AS BIGINT) AS bits_set
        FROM grid g LEFT JOIN hit h
          ON h.event_type = g.event_type AND h.word_idx = g.word_idx
        ORDER BY g.event_type, g.word_idx
    """,
)
def streaming_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom filter per event type — the set-MEMBERSHIP
    member of the streaming sketch family (KMV/HLL estimate
    cardinality; the Bloom answers "has user u done X?" with no false
    negatives): k=3 deterministic md5 hash positions per user computed
    SPARK-SIDE, a 1024-bit array held as 32 longs of per-key state
    merged by bitwise OR (streaming.stateful_bloom), drained via the
    availableNow harness. 32-bit words keep every long positive on
    both engines; the oracle rebuilds the identical filter with a
    batch bit_or and zero-fills unhit words. The whole STATE is the
    output, so equality is exact, not estimate-close.

    Scale: state is 256 bytes per key regardless of stream length;
    production sizes m/k to the target false-positive rate and keys by
    (entity, day) for TTL eviction."""
    events = streaming.read_events_stream(spark, sf_dir)
    hashes = events.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("user_id").cast("string"),
                                        F.lit(f"#{j}"),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("bigint"),
                        F.lit(1024),
                    )
                    for j in range(3)
                ]
            )
        ).alias("pos"),
    )
    state = streaming.run_to_memory(
        streaming.stateful_bloom(hashes, 32, 32), "update", name="t_bloom"
    )
    # Multi-batch-drain safety: each emission carries the key's full
    # word grid, and a word only ever gains bits (bitwise OR), so its
    # numeric value is nondecreasing across emissions — max(word) per
    # (key, word_idx) IS the final filter state.
    final = state.groupBy("event_type", "word_idx").agg(
        F.max("word").alias("word")
    )
    return final.select(
        "event_type",
        "word_idx",
        "word",
        F.bit_count("word").cast("bigint").alias("bits_set"),
    ).orderBy("event_type", "word_idx")


@query(
    "streaming_tws_recent_values",
    category="streaming",
    oracle="""
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS rnk,
               event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        QUALIFY rnk <= 3
        ORDER BY user_id, rnk
    """,
)
def streaming_tws_recent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with LIST state: the 3 most recent
    events per user (by event time, id tie-broken), held as a bounded
    ListState merged and re-trimmed per batch — the companion row to
    the ValueState totals query, covering the second state primitive
    of Spark 4's arbitrary-state API. AvailableNow drain → the final
    per-user list equals the batch top-3-recency window (the oracle's
    QUALIFY form). The drain runs under ``streaming.tws_state_store``
    as the API requires; multi-batch trim-carry is tested in
    tests/test_streaming.py."""
    with streaming.tws_state_store(spark):
        events = streaming.read_events_stream(spark, sf_dir)
        rows = events.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        result = streaming.run_to_memory(
            streaming.tws_user_recent_values(rows), "update", name="t_tws_recent"
        )
    # n_seen strictly increases per emission — keep the final per-user
    # snapshot (multi-batch-drain safety), then drop the bookkeeping.
    return (
        _final_emission(result, ["user_id"], "n_seen")
        .select("user_id", F.col("rnk"), "event_id", "cents")
        .orderBy("user_id", "rnk")
    )


@query(
    "streaming_tws_session_timer",
    category="streaming",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_ms(ts) AS ms,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        mx AS (SELECT MAX(ms) AS max_ms FROM e),
        b AS (
            SELECT user_id, ms, cents,
                   CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                             > 1800000
                        THEN 1 ELSE 0 END AS brk
            FROM e
        ),
        s AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM b
        ),
        g AS (
            SELECT user_id, sid,
                   MIN(ms) AS start_ms, MAX(ms) AS end_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(cents) AS BIGINT) AS cents
            FROM s GROUP BY user_id, sid
        ),
        l AS (SELECT user_id, MAX(sid) AS last_sid FROM g GROUP BY user_id)
        SELECT g.user_id, g.start_ms, g.end_ms, g.n_events, g.cents,
               CASE WHEN g.sid < l.last_sid THEN 'data' ELSE 'timer' END
                   AS closed_by
        FROM g JOIN l ON g.user_id = l.user_id CROSS JOIN mx
        WHERE g.sid < l.last_sid OR g.end_ms + 1800000 <= mx.max_ms
        ORDER BY g.user_id, g.start_ms
    """,
)
def streaming_tws_session_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME TIMERS on ``transformWithStateInPandas``
    (streaming.tws_session_timer): 30-minute session-gap detection
    where mid-stream sessions close on DATA (a newer event beyond the
    gap) and each user's final session closes on the TIMER that fires
    once the event-time watermark (delay 0) passes ``last + gap`` —
    the availableNow drain's no-data batch advances the watermark to
    the stream's max event time and fires exactly the timers at or
    below it (inclusive comparison, pinned by
    tests/test_streaming.py). The ``closed_by`` column is hashed, so
    the gate fails if timers do not fire or fire for the wrong keys.

    The oracle replays it in SQL: gaps-and-islands sessionization on
    the shared millisecond lattice (epoch_ms both engines), with a
    user's LAST session kept only when ``end + gap <= max_ms`` — the
    watermark rule. Sessions still open at the final watermark are
    (correctly) absent from both sides.

    Scale: state per key is one 4-field struct + one timer regardless
    of stream length; timers are the eviction mechanism that bounds
    it. The oracle's window chain is per-user partitioned."""
    with streaming.tws_state_store(spark):
        events = streaming.read_events_stream(spark, sf_dir)
        rows = (
            events.withWatermark("ts", "0 seconds")
            .select(
                "user_id",
                F.unix_millis(F.col("ts")).alias("ts_ms"),
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
            )
        )
        result = streaming.run_to_memory(
            streaming.tws_session_timer(rows),
            "append",
            name="t_tws_sessions",
            # The oracle labels every non-final session 'data', which is
            # only guaranteed when the whole fixture arrives in ONE data
            # micro-batch — enforce that instead of assuming it.
            max_data_batches=1,
        )
    return result.orderBy("user_id", "start_ms")


@query(
    "streaming_tws_map_counts",
    category="streaming",
    oracle="""
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """,
)
def streaming_tws_map_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP STATE on ``transformWithStateInPandas``
    (streaming.tws_map_counts): a per-user ``event_type → count`` map
    updated via containsKey/getValue/updateValue and emitted in full
    per batch — the per-key-per-category accumulator shape where the
    category set is unknown upfront. Completes the arbitrary-state API
    family: ValueState (totals), ListState (recent), timers
    (session_timer), MapState (here). AvailableNow drain → the final
    per-user snapshot equals the batch GROUP BY; the update-mode sink
    is collapsed to the last emission per key via the strictly
    increasing ``n_seen`` counter (multi-batch-drain safety)."""
    with streaming.tws_state_store(spark):
        events = streaming.read_events_stream(spark, sf_dir)
        rows = events.select("user_id", "event_type")
        result = streaming.run_to_memory(
            streaming.tws_map_counts(rows), "update", name="t_tws_map"
        )
    return (
        _final_emission(result, ["user_id"], "n_seen")
        .select("user_id", "event_type", "n")
        .orderBy("user_id", "event_type")
    )


#: Batch-to-streaming cutover instant for the bootstrap query: history
#: before it is seeded as initial state, events at/after it stream.
_BOOTSTRAP_CUTOFF = "2024-01-16"


@query(
    "streaming_tws_bootstrap_totals",
    category="streaming",
    oracle=f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events
        WHERE user_id IN (
            SELECT DISTINCT user_id FROM events
            WHERE ts >= TIMESTAMP '{_BOOTSTRAP_CUTOFF}'
        )
        GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_tws_bootstrap_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INITIAL STATE on ``transformWithStateInPandas``
    (streaming.tws_bootstrap_totals): the batch→streaming CUTOVER —
    history before the cutover is aggregated ONCE in batch and seeded into
    the operator as initial state (``handleInitialState``); only
    events at/after the cutover flow through the stream; the final
    per-user totals must equal the full-corpus GROUP BY for every user
    the stream touched (the oracle's IN filter — emission is
    data-driven, so bootstrap-only users correctly stay silent). This
    is how a 100 TB pipeline goes live: seed state from the backfill
    aggregate, never replay history through the stream. Completes the
    arbitrary-state API family: ValueState, ListState, MapState,
    event-time timers, and now initial state.

    The exact-cent lattice makes batch seed + streaming accumulation
    order-independent, so the hash gate is exact."""
    import shutil

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_BOOTSTRAP_CUTOFF).cast("timestamp")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    hist = (
        ev.filter(F.col("ts") < cutoff)
        .select("user_id", cents)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )
    live_batch = ev.filter(F.col("ts") >= cutoff).select("user_id", cents)
    root = scratch_path("tws_boot")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    live_batch.coalesce(1).write.mode("overwrite").parquet(src)
    with streaming.tws_state_store(spark):
        stream = spark.readStream.schema("user_id long, cents long").parquet(src)
        result = streaming.run_to_memory(
            streaming.tws_bootstrap_totals(stream, hist.groupBy("user_id")),
            "update",
            name="t_tws_boot",
        )
    return _final_emission(result, ["user_id"], "n_events").orderBy("user_id")


@query(
    "statestore_offline_read",
    category="ops",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def statestore_offline_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Data Source READER (``spark.read.format("statestore")``):
    drain a streaming per-user aggregate with a checkpoint, then read
    the operator's state store OFFLINE as a plain batch DataFrame — the
    Spark 4 observability surface for debugging stateful pipelines at
    100 TB (inspect what a 1000-executor job has accumulated without
    touching the running query; the same reader drives state repair and
    checkpoint migration jobs). The state's aggregation buffers
    (``value.count`` / ``value.sum``) must equal the batch GROUP BY —
    cents stay on the exact integer lattice so the hash gate is exact.

    Scale: the reader maps one task per state-store partition (the
    ``partition_id`` column), so reading a 32-partition checkpoint is a
    32-task parallel scan, not a driver walk."""
    import shutil

    root = scratch_path("ss_read")
    shutil.rmtree(root, ignore_errors=True)
    ckpt = os.path.join(root, "ckpt")
    agg = (
        streaming.read_events_stream(spark, sf_dir)
        .select(
            "user_id",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ss_offline_drain")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The sink result is discarded on purpose: the asserted artifact is
    # the CHECKPOINT's state, read back offline through the reader.
    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").cast("long").alias("n_events"),
            F.col("value.sum").cast("long").alias("total_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "statestore_change_feed",
    category="ops",
    oracle=f"""
        WITH b0 AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE ts < TIMESTAMP '{_BOOTSTRAP_CUTOFF}'
            GROUP BY user_id),
        tot AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id)
        SELECT CAST(0 AS BIGINT) AS batch_id, 'update' AS change_type,
               user_id, n AS n_events
        FROM b0
        UNION ALL
        SELECT CAST(1 AS BIGINT) AS batch_id, 'update' AS change_type,
               t.user_id, t.n AS n_events
        FROM tot t LEFT JOIN b0 ON b0.user_id = t.user_id
        WHERE b0.user_id IS NULL OR t.n > b0.n
        ORDER BY batch_id, user_id
    """,
)
def statestore_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State store CHANGE FEED (``readChangeFeed`` on the statestore
    source): replay every state mutation a streaming aggregate made,
    batch by batch, as a plain DataFrame — the audit-log view of
    stateful execution (statestore_offline_read is the snapshot view;
    together they are the Spark 4 state-debugging surface). The events
    table is split at the shared bootstrap cutoff into two mtime-ordered
    files (maxFilesPerTrigger=1 → two micro-batches), so the feed must
    show batch 0 writing the pre-cutoff per-user counts and batch 1
    re-writing EXACTLY the users the second batch touched with their
    cumulative totals — users untouched by a batch must NOT appear in
    that batch's feed (RocksDB-style changelog, not a snapshot diff).
    The oracle derives both batches' expected mutations relationally
    (batch 1 rows = users whose total exceeds their pre-cutoff count).

    Scale: like the snapshot reader, the feed maps one task per state
    partition per batch — replaying a 1000-partition checkpoint's
    history is a parallel scan, not a driver walk."""
    import shutil

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_BOOTSTRAP_CUTOFF).cast("timestamp")
    root = scratch_path("ss_cf")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    # FileStreamSource orders candidate files by modification time, so
    # the two chunks' mtimes are set EXPLICITLY (chunk i → epoch + i s)
    # after each write — a coarse-granularity filesystem or clock skew
    # can no longer tie them and merge both chunks into batch 0.
    def _list_data_files() -> set[str]:
        return {
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith("_")
        }

    seen: set[str] = set()
    base_mtime = 1_700_000_000  # any fixed past instant; only ORDER matters
    for i, chunk in enumerate(
        (
            ev.filter(F.col("ts") < cutoff),
            ev.filter(F.col("ts") >= cutoff),
        )
    ):
        chunk.select("user_id").coalesce(1).write.mode("append").parquet(src)
        new_files = _list_data_files() - seen
        for path in new_files:
            os.utime(path, (base_mtime + i, base_mtime + i))
        seen |= new_files
    mtimes = sorted({int(os.stat(p).st_mtime) for p in seen})
    assert len(mtimes) == 2, f"chunk mtimes must differ, got {mtimes}"
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        agg.writeStream.format("memory")
        .queryName("ss_cf_drain")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    return feed.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("change_type").cast("string").alias("change_type"),
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n_events"),
    ).orderBy("batch_id", "user_id")


# ---------------------------------------------------------------------------
# Multi-batch incremental drains under the driver gate (r11 verdict item 3).
# The single-file fixture drains in one availableNow micro-batch (module
# docstring); these queries re-chunk the source so the SAME stateful
# machinery provably crosses micro-batches — and run_to_memory's
# min_data_batches guard fails the query (not just a test) if a layout
# change ever collapses the drain back to one batch.
# ---------------------------------------------------------------------------

def _chunked_events_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """File-source events stream that admits ONE file per micro-batch
    over an ``n_chunks``-file re-chunked copy of the fixture (a
    ``session.replica_path`` replica, written once per process+SF). ts is
    normalized BEFORE the write, so the stream schema is read from the
    chunked files' own footer — no physical-type guessing."""
    out, ready = replica_path(sf_dir, f"events_{n_chunks}")
    if not ready:
        load_table(spark, sf_dir, "events").repartition(n_chunks).write.mode(
            "overwrite"
        ).parquet(out)
    schema = parquet_schema(spark, out)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )


@query(
    "streaming_multibatch_window_counts",
    category="streaming",
    oracle=_REGISTRY["streaming_tumbling_window_counts"].oracle,
)
def streaming_multibatch_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation draining a 4-file source
    one file per micro-batch (asserted >= 2 data batches via
    run_to_memory's min_data_batches): windows accumulate partial counts
    across batches in the state store, and the complete-mode final table
    must STILL equal the batch GROUP BY — incremental-merge correctness,
    not just single-batch parity. Shares the single-batch twin's oracle
    verbatim."""
    events = _chunked_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.tumbling_counts(events),
        "complete",
        name="t_mb_tumbling",
        min_data_batches=2,
    )
    return result.orderBy("window_start", "event_type")


@query(
    "streaming_multibatch_stateful_user_totals",
    category="streaming",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_multibatch_stateful_user_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState per-user
    counters) across a PROVEN multi-batch drain: every user appearing in
    several chunks gets its counter re-read from the state store and
    re-emitted per batch, so the update-mode sink holds a per-batch
    emission HISTORY; _final_emission collapses to the last snapshot per
    key (n_events strictly increases), which must equal the batch GROUP
    BY. This is the incremental path of streaming_stateful_user_counts
    under the oracle gate instead of only in tests/test_streaming.py."""
    events = _chunked_events_stream(spark, sf_dir)
    result = streaming.run_to_memory(
        streaming.stateful_user_counts(events),
        "update",
        name="t_mb_stateful",
        min_data_batches=2,
    )
    return _final_emission(result, ["user_id"], "n_events").orderBy("user_id")


@query(
    "streaming_multibatch_dedup_distinct_users",
    category="streaming",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_multibatch_dedup_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-on-arrival whose duplicates ARRIVE IN DIFFERENT
    micro-batches: ``dropDuplicates(user_id, event_type)`` keeps
    first-arrival state across the 4-batch drain (a single-batch run
    would dedup within one batch and prove nothing), then a
    complete-mode count per event_type must equal the batch
    COUNT(DISTINCT user_id). State is one entry per live (user, type)
    pair — the at-scale form bounds it with
    ``dropDuplicatesWithinWatermark`` (see streaming_dedup_on_arrival's
    docstring)."""
    events = _chunked_events_stream(spark, sf_dir)
    deduped = events.dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    result = streaming.run_to_memory(
        agg, "complete", name="t_mb_dedup", min_data_batches=2
    )
    return result.orderBy("event_type")


@query(
    "streaming_ivf_index_append",
    category="streaming",
    oracle="""
        WITH s AS (SELECT vec_id,
                          embedding[1]::DOUBLE AS s0, embedding[2]::DOUBLE AS s1,
                          embedding[3]::DOUBLE AS s2, embedding[4]::DOUBLE AS s3
                   FROM embeddings)
        SELECT vec_id,
               CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
                    WHEN s1 >= s2 AND s1 >= s3 THEN 1
                    WHEN s2 >= s3 THEN 2
                    ELSE 3 END AS cell
        FROM s ORDER BY vec_id
    """,
)
def streaming_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance: embeddings arrive as a 4-file
    stream (one file per micro-batch, >= 2 data batches asserted), and
    each foreachBatch assigns the batch to its coarse cells with the
    SAME shared expressions the probes use (operators.similarity.
    ivf_index_frame) and appends ``partitionBy(_cell)`` into the
    persisted index layout that ivf_index_dpp_topk probes through
    dynamic partition pruning. This is how a 100 TB vector index stays
    fresh without rebuilds: cell assignment is map-side per batch,
    appends touch only the arriving rows' cell directories, and the
    probe path needs no knowledge of HOW the index was built. The
    readback's full content must equal the batch coarse assignment
    (the ivf_assign_embeddings oracle, verbatim) — proving
    batch-built and stream-built indexes are interchangeable."""
    import uuid as _uuid

    from pipeline_query_engine_demo_spark.operators import similarity
    from pipeline_query_engine_demo_spark.plans.llm import IVF_CENTROIDS

    chunks, ready = replica_path(sf_dir, "embeddings_4")
    if not ready:
        load_table(spark, sf_dir, "embeddings").repartition(4).write.mode(
            "overwrite"
        ).parquet(chunks)
    schema = parquet_schema(spark, chunks)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    # Fresh index dir per invocation: foreachBatch APPENDS, so reusing
    # a dir across runs in one process would double the index.
    index_dir = scratch_path(f"ivf_index_{_uuid.uuid4().hex[:12]}")

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        similarity.ivf_index_frame(batch_df, "embedding", IVF_CENTROIDS).select(
            "vec_id", "_cell"
        ).write.mode("append").partitionBy("_cell").parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming.assert_data_batches(
        q, spark, "streaming_ivf_index_append", min_data_batches=2
    )
    idx = spark.read.parquet(index_dir)
    return idx.select(
        "vec_id", F.col("_cell").cast("int").alias("cell")
    ).orderBy("vec_id")


@query(
    "streaming_restart_resume_user_totals",
    category="streaming",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_restart_resume_user_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PLANNED STOP + RESTART from the same checkpoint — the streaming
    operational path every other gated query skips: a 100 TB pipeline
    is deployed, stopped, upgraded, and resumed daily, and correctness
    across that boundary (exactly-once source accounting + state-store
    recovery) is a different property from single-run incremental merge.

    Two QUERY LIFETIMES share one checkpoint: run 1 drains the first two
    quarters of events (one file per micro-batch) and terminates; two
    MORE files then land in the source directory and a brand-new query
    resumes from the checkpoint. The builder asserts the resume is real
    — run 2's first batchId strictly follows run 1's last (offsets came
    from the checkpoint log, not a fresh start) and both runs cross >= 2
    data batches — and the oracle pins BOTH failure modes at once: if
    run 2 re-ingested run-1 files the recovered state would double-count
    those users; if the state store failed to recover, run-1-only users
    would vanish from the complete-mode table. Either way the final
    table could not equal the batch GROUP BY over all events."""
    import shutil
    import uuid as _uuid

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    scratch = scratch_path(f"restart_{_uuid.uuid4().hex[:12]}")
    src = os.path.join(scratch, "src")
    ckpt = os.path.join(scratch, "ckpt")
    name = "t_restart_resume"

    def ship(quarter: int) -> None:
        ev.filter(F.col("event_id") % 4 == quarter).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_lifetime():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streaming.assert_data_batches(q, spark, name, min_data_batches=2)
        return [int(p["batchId"]) for p in q.recentProgress if p["numInputRows"] > 0]

    try:
        ship(0)
        ship(1)
        batches1 = run_lifetime()  # lifetime 1: drains quarters 0-1, stops
        ship(2)
        ship(3)
        batches2 = run_lifetime()  # lifetime 2: NEW query, same checkpoint
        assert min(batches2) > max(batches1), (
            f"restart did not resume from the checkpoint: run-2 batch ids "
            f"{batches2} do not continue run-1 ids {batches1}"
        )
        return spark.table(name).orderBy("user_id")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
