"""crane_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference stream processor (shingjan/Crane,
/root/reference — a Storm-like micro-batch topology runner, see
SURVEY.md), built Spark-first: DataFrame/SQL logical plans compiled by
Catalyst, Structured Streaming for the streaming surface, and
vectorized built-ins (never per-row Python) on the hot path.

Layout:
    session     SparkSession factory (UTC, AQE, Arrow, broadcast tuning)
    tables      loaders for the /root/testdata parquet star schema
    functions/  column-expression helpers (exact decimal aggs, text,
                hashing, vector math)
    operators/  reference-parity topologies + relational surface
    llm/        dedup / similarity / text-analysis / multimodal ops
    streaming/  Structured Streaming pipelines (watermarks, windows,
                exactly-once sinks)
    queries/    the declared query registry: every entry carries both a
                DataFrame builder and a DuckDB oracle SQL string
"""

import crane_spark._zipimport  # noqa: F401  (gates zipimporter.invalidate_caches)
from crane_spark.session import get_spark
from crane_spark.tables import TABLE_NAMES, table

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "table",
    "TABLE_NAMES",
    "__version__",
]
