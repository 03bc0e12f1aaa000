"""Structured Streaming operators (SURVEY.md §2.3 'Streaming', M3).

The reference is batch-only — its "streaming" comment
(``src/main.rs:34``) refers to pipelined chunk-at-a-time execution, not
event streams. Here the streaming surface is real Structured Streaming:
file-source streams, watermarks, tumbling-window aggregation,
stream-static and stream-stream joins, and custom stateful processing
via ``applyInPandasWithState``.

Test/oracle strategy: every streaming query is run to completion with
``trigger(availableNow=True)`` into a memory sink, which makes the
result a plain DataFrame the driver can oracle-check against the
equivalent batch SQL (stream-batch parity — DuckDB cannot run streams).
"""

from pipeline_query_engine_demo_spark.streaming.windows import (
    ROCKSDB_STATE_STORE,
    drain_with_flush,
    read_events_stream,
    staged_events_source,
    run_rate_bounded,
    run_to_memory,
    assert_data_batches,
    stateful_bottomk_quantiles,
    stateful_cms,
    stateful_cusum,
    stateful_ewma,
    stateful_page_hinkley,
    stateful_sprt,
    stateful_bloom,
    tws_user_recent_values,
    stateful_hll,
    stateful_kmv,
    stateful_user_counts,
    stream_static_join_segments,
    stream_stream_click_purchases,
    tumbling_counts,
    tws_bootstrap_totals,
    tws_map_counts,
    tws_session_timer,
    tws_state_store,
    tws_user_value_totals,
)

__all__ = [
    "ROCKSDB_STATE_STORE",
    "drain_with_flush",
    "read_events_stream",
    "staged_events_source",
    "run_rate_bounded",
    "run_to_memory",
    "assert_data_batches",
    "stateful_bottomk_quantiles",
    "stateful_cms",
    "stateful_cusum",
    "stateful_ewma",
    "stateful_page_hinkley",
    "stateful_sprt",
    "stateful_bloom",
    "tws_user_recent_values",
    "stateful_hll",
    "stateful_kmv",
    "stateful_user_counts",
    "stream_static_join_segments",
    "stream_stream_click_purchases",
    "tumbling_counts",
    "tws_bootstrap_totals",
    "tws_map_counts",
    "tws_session_timer",
    "tws_state_store",
    "tws_user_value_totals",
]
