"""Text analysis column expressions.

Everything here is built from JVM-side array/string built-ins (split,
transform, filter, aggregate) — no Python UDFs — so the whole text
pipeline stays inside WholeStageCodegen and scales linearly with
executors. Tokenization-on-space matches the reference's SplitBolt
(/root/reference/app/word_count_topology.py:13).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list used by the language-ID heuristic and the
# quality scorer. Keep in sync with SQL_STOPWORDS below.
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in", "to", "is")

SQL_STOPWORDS = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of a text column (single-space separator)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (space-joined).

    Array-lambda construction: no explode, no shuffle — each row
    produces its shingle set inside codegen.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    built = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    # Guard: size < n would make the sequence run 0..negative and
    # element_at hit index 0 (an ANSI error). Such docs have no shingles.
    return F.when(F.size(toks) >= n, built).otherwise(
        F.array().cast("array<string>")
    )


def gram_key(col: Column | str) -> Column:
    """96-bit INTERNAL identity key for a gram/span string:
    struct(xxhash64, hash). For grouping/join keys that never reach
    query output — 12 bytes through the shuffle instead of a 32-char
    md5 hex, no hex round-trip, and 96 independent bits keep the
    expected number of colliding key pairs ~6e-4 even for a
    10^13-gram (100 TB-class) stream (r10, guide §2.2). NOT for
    hashes that appear in output or that an oracle replays (those
    stay md5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(F.xxhash64(c).alias("x"), F.hash(c).alias("y"))


def token_fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct token set. Two docs with the same vocabulary collide —
    the classic 'fingerprint dedup' weaker than exact hash, stronger
    than MinHash."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are stopwords (0 for empty docs)."""
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))


def exploded_word_grams(
    df,
    n: int,
    keep: list[str],
    text_col: str = "text",
    out: str = "gram",
):
    """One row per word n-gram of ``text_col``: ``keep`` columns plus
    ``out``. Positions explode FIRST and each gram is a codegen'd
    array_join(slice(...)) — building the gram array with a transform
    lambda and exploding it evaluates the lambda interpreted, measured
    ~1.7-5x slower across the gram-based operators (see TUNING.md).
    ``keep`` must name columns already present on ``df`` (project any
    computed columns before calling). A text shorter than ``n`` tokens
    explodes a NULL position list (no rows) instead of being filtered:
    Catalyst pushes a filter on ``_toks`` below the projection and so
    would tokenize every row twice."""
    base = df.select(*keep, tokens(text_col).alias("_toks"))
    positions = F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    return base.select(
        *keep,
        F.explode(F.when(F.size("_toks") >= n, positions)).alias("_i"),
        "_toks",
    ).select(
        *keep, F.array_join(F.slice("_toks", F.col("_i"), n), " ").alias(out)
    )
