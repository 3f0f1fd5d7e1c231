"""Source/sink surface (SURVEY.md §2.2 'Sources / sinks')."""

from crane_spark.sources.files import (
    PAGERANK_RAW_SCHEMA,
    TWITTER_SCHEMA,
    pagerank_edges_from_tsv,
    read_csv,
    read_orc,
    read_text_lines,
    twitter_rows_from_csv,
)

__all__ = [
    "read_text_lines",
    "read_csv",
    "read_orc",
    "twitter_rows_from_csv",
    "pagerank_edges_from_tsv",
    "TWITTER_SCHEMA",
    "PAGERANK_RAW_SCHEMA",
]
