"""Column-expression helpers shared by operators and the query registry."""

from crane_spark.functions.aggregates import dsum, sql_dsum
from crane_spark.functions.text import (
    STOPWORDS,
    shingles,
    stopword_ratio,
    token_fingerprint,
    tokens,
)
from crane_spark.functions.vectors import dot, to_double_vec, vec_norm

__all__ = [
    "dsum",
    "sql_dsum",
    "tokens",
    "shingles",
    "token_fingerprint",
    "stopword_ratio",
    "STOPWORDS",
    "to_double_vec",
    "dot",
    "vec_norm",
]
