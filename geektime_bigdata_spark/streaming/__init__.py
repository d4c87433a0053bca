"""Structured Streaming operators (extension scope — SURVEY.md §2.7: the
reference has zero streaming code; the `events` table is stream-shaped)."""

from geektime_bigdata_spark.streaming.windows import (
    inspect_streaming_state,
    run_streaming_attribution,
    run_streaming_attribution_full_outer,
    run_streaming_attribution_outer,
    run_streaming_dedup,
    run_streaming_enriched_rollup,
    run_streaming_hourly_rollup,
    run_streaming_session_windows,
    run_streaming_sessionization,
    run_streaming_sliding_counts,
    run_streaming_upsert_sink,
    run_streaming_user_totals_tws,
)

__all__ = [
    "inspect_streaming_state",
    "run_streaming_attribution",
    "run_streaming_attribution_full_outer",
    "run_streaming_attribution_outer",
    "run_streaming_dedup",
    "run_streaming_enriched_rollup",
    "run_streaming_hourly_rollup",
    "run_streaming_session_windows",
    "run_streaming_sessionization",
    "run_streaming_sliding_counts",
    "run_streaming_upsert_sink",
    "run_streaming_user_totals_tws",
]
