"""Structured Streaming layer: the reference's event-time / state /
exactly-once semantics (SURVEY.md §2.B/C) on Spark's micro-batch engine."""

from gearpump_spark.streaming.core import (
    FLUSH_EPOCH_SEC,
    FLUSH_TS,
    assign_windows,
    before_flush,
    replay_parquet_stream,
    run_to_completion,
    stateful_running_count,
    stream_dedup,
    stream_scd2_enrich,
    stream_stream_interval_join,
    hll_monoid,
    kmv_monoid,
    monoid_windowed_state,
    replace_and_restart,
)

__all__ = [
    "replace_and_restart",
    "FLUSH_EPOCH_SEC",
    "FLUSH_TS",
    "assign_windows",
    "before_flush",
    "replay_parquet_stream",
    "run_to_completion",
    "stateful_running_count",
    "stream_dedup",
    "stream_scd2_enrich",
    "stream_stream_interval_join",
    "hll_monoid",
    "kmv_monoid",
    "monoid_windowed_state",
]
