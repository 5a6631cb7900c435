"""Structured Streaming twins of the batch event operators."""

from googlecloudstorage_blueprints_spark.streaming import stateful as _stateful
from googlecloudstorage_blueprints_spark.streaming.events_stream import (
    read_events_stream,
    run_stream_to_memory,
    run_stream_to_partitioned_parquet,
    streaming_anomaly,
    streaming_contamination,
    streaming_enriched,
    streaming_quality_filter,
    streaming_session_window,
    streaming_ship_latency_join,
    streaming_ship_latency_windows,
    streaming_sliding_agg,
    streaming_tumbling_agg,
)
from googlecloudstorage_blueprints_spark.streaming.stateful import (
    merge_digest_rows,
    streaming_dedup,
)

# every keyed-state twin, by its row name in the spec table
globals().update(
    (name, getattr(_stateful, name)) for name in _stateful.STATEFUL_TWINS
)

__all__ = [
    "read_events_stream",
    "streaming_tumbling_agg",
    "streaming_session_window",
    *_stateful.STATEFUL_TWINS,
    "streaming_dedup",
    "merge_digest_rows",
    "run_stream_to_memory",
    "streaming_anomaly",
    "streaming_contamination",
    "streaming_enriched",
    "streaming_quality_filter",
    "streaming_ship_latency_join",
    "streaming_ship_latency_windows",
    "streaming_sliding_agg",
    "run_stream_to_partitioned_parquet",
]
