"""Structured Streaming surface (SURVEY.md §2.8 — absent from the
reference, provided Spark-natively): watermarked event-time windows,
event dedup, stream-stream joins and exactly-once sinks over the
events table. The SDFITS reduction is file-to-file and has no
streaming form here; SDFITS files stream whole through
`sources.fits.read_sdfits_stream`."""

from radio_data_pipeline_spark.streaming.events import (
    EVENTS_RAW_SCHEMA,
    dedup_events,
    read_events_stream,
    run_available_now,
    session_event_counts,
    sliding_user_activity,
    stream_to_training_shards,
    stream_with_constraint_gate,
    tumbling_event_counts,
    view_purchase_pairs,
)

__all__ = [
    "EVENTS_RAW_SCHEMA",
    "dedup_events",
    "read_events_stream",
    "run_available_now",
    "session_event_counts",
    "sliding_user_activity",
    "stream_to_training_shards",
    "stream_with_constraint_gate",
    "tumbling_event_counts",
    "view_purchase_pairs",
]
