"""Structured Streaming layer: the events and documents tables as streams.

The reference has no streaming constructs at all (SURVEY.md §2.3) —
this is new Layer-B capability: file-source streams, watermarked
tumbling/session windows, streaming exact dedup, a stream-stream and a
stream-static join, and a two-batch late-data replay, all composable
with the batch operators since Structured Streaming shares the
DataFrame API and Catalyst. Every operator here backs a registered
query in ``engine.operators.streaming_queries``.
"""

from engine.streaming.events import (
    read_event_stream,
    streaming_dedup,
    streaming_session_windows,
    streaming_tumbling_counts,
    streaming_view_purchase_join,
    run_available_now,
)

__all__ = [
    "read_event_stream",
    "streaming_dedup",
    "streaming_session_windows",
    "streaming_tumbling_counts",
    "streaming_view_purchase_join",
    "run_available_now",
]
