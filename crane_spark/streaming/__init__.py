"""Structured Streaming surface (SURVEY.md §2.2 'Streaming-only')."""

from crane_spark.streaming.pipelines import (
    run_available_now,
    stream_dedup_with_watermark,
    stream_static_enrich,
    stream_to_parquet,
    stream_wordcount,
    windowed_event_stats,
)

__all__ = [
    "stream_wordcount",
    "windowed_event_stats",
    "stream_dedup_with_watermark",
    "stream_static_enrich",
    "stream_to_parquet",
    "run_available_now",
]
