"""Structured Streaming suite (SURVEY §2.9 T1-T9).

The reference's streaming layer is PyFlink Table API jobs
(M4F/src/job/start_job.py, aggregation_job.py); here the same
capabilities are Spark Structured Streaming: readStream sources,
event-time + watermark, tumbling/session window aggregations,
stateless enrichment, and foreachBatch / file / kafka sinks.
"""

from .pipelines import (
    avg_events_per_session,
    dedup_stream,
    enrich_events,
    sessionize_stream,
    tumbling_counts,
    with_event_time,
)
from .sinks import drain
from .stateful import sessionize_stateful
from .sources import json_file_stream, kafka_json_stream, rate_events_stream

__all__ = [
    "avg_events_per_session",
    "dedup_stream",
    "with_event_time",
    "enrich_events",
    "tumbling_counts",
    "sessionize_stream",
    "sessionize_stateful",
    "json_file_stream",
    "kafka_json_stream",
    "rate_events_stream",
    "drain",
]
