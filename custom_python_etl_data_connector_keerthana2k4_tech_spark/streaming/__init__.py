"""Structured Streaming surface (SURVEY §7 M5)."""

from custom_python_etl_data_connector_keerthana2k4_tech_spark.streaming.ops import (
    enrich_scd2,
    run_pulse_stream,
    run_pulse_stream_rest,
    session_counts,
    stateful_running_totals,
    stream_dedup,
    stream_stream_join,
    streaming_cusum,
    streaming_ewma,
    sessionize_with_timeout,
    streaming_heavy_hitters,
    windowed_counts,
)

__all__ = [
    "enrich_scd2",
    "run_pulse_stream",
    "run_pulse_stream_rest",
    "session_counts",
    "stateful_running_totals",
    "stream_dedup",
    "stream_stream_join",
    "streaming_cusum",
    "streaming_ewma",
    "sessionize_with_timeout",
    "streaming_heavy_hitters",
    "windowed_counts",
]
