"""File sources: text lines, typed CSV, JSON — batch and streaming
from the same call (the reference's only source is a text file drained
line-by-line through the spout, /root/reference/util.py:13-25; its CSV
'formats' are comma- and tab-split bolts, see below).

Every reader takes ``streaming=True`` to return the readStream twin of
the batch frame — same schema, same downstream plan (SURVEY.md §1.4:
spout -> readStream on a directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# TwitterUserFilter input: `name,val` rows, no header
# (ref app/twitter_user_filter_topology.py:13 splits on ',';
# app/twitter_1k.csv shape: "aaa,0").
TWITTER_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("val", T.IntegerType()),
    ]
)

# PageRank input: tab-separated ragged adjacency rows — src + 0..k
# outlinks (ref app/page_rank_topology.py:13 splits on '\t'; rows with
# no outlinks contribute nothing, :14-17). Read as one raw line and
# split in the engine: CSV readers dislike ragged rows.
PAGERANK_RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def read_text_lines(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """One row per text line, column ``value`` (the spout, op A)."""
    if streaming:
        return spark.readStream.schema(PAGERANK_RAW_SCHEMA).text(path)
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
    streaming: bool = False,
) -> DataFrame:
    """Typed CSV in PERMISSIVE mode: malformed numeric fields become
    null instead of crashing the job — a deliberate divergence from the
    reference, whose FilterBolt dies on a bad int and replays the batch
    forever (twitter_user_filter_topology.py:14; SURVEY.md §2.1)."""
    reader = spark.readStream if streaming else spark.read
    return reader.csv(
        path, schema=schema, sep=sep, header=False, mode="PERMISSIVE"
    )


def read_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    streaming: bool = False,
) -> DataFrame:
    """Columnar ORC twin of the parquet path (JVM-native reader:
    predicate pushdown and column pruning apply exactly as for
    parquet). Batch infers the schema from file footers; streaming
    needs it up front like every file stream."""
    if streaming:
        if schema is None:
            raise ValueError("streaming ORC requires an explicit schema")
        return spark.readStream.schema(schema).orc(path)
    return spark.read.orc(path) if schema is None else spark.read.schema(schema).orc(path)


def twitter_rows_from_csv(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    return read_csv(spark, path, TWITTER_SCHEMA, sep=",", streaming=streaming)


def pagerank_edges_from_tsv(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Ragged TSV adjacency -> normalized (src, dst) edge list.

    Mirrors ParseNeighborsBolt: split on tab, first field is the
    source, the rest are outlinks; rows with no outlinks vanish (the
    explode of an empty slice emits nothing, exactly like the
    reference's loop over an empty url list)."""
    lines = read_text_lines(spark, path, streaming=streaming)
    fields = F.split(F.col("value"), "\t")
    return (
        lines.select(
            F.element_at(fields, 1).alias("src"),
            F.explode(F.slice(fields, 2, F.greatest(F.size(fields) - 1, F.lit(0)))).alias(
                "dst"
            ),
        )
        .filter(F.col("dst") != "")
    )
