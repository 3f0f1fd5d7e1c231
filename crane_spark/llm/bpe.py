"""Distributed BPE tokenizer training (byte-pair-encoding merges).

The classic algorithm (Sennrich et al., public literature): start from
characters, repeatedly merge the most frequent adjacent symbol pair.
BPE statistics live on the WORD-FREQUENCY table, not the corpus: the
corpus collapses to a vocabulary-sized (word, freq) table in one
aggregate, and every merge round then runs over data proportional to
the vocabulary. Ties break lexicographically (count desc, pair asc),
so training is bit-reproducible on any cluster.

Training and inference share one symbol representation: a word is the
string of its symbols, each escaped and bracketed (`_sym`). Merging
the pair (a, b) is one ``replace`` of ``_sym(a) + _sym(b)`` with
``_sym(a + b)``: a left-to-right, non-overlapping pass that is exactly
classic BPE's skip-one merge, in pure JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"

# Vocabularies at or under this size train all merge rounds driver-
# side in one pass over the collected (word, freq) table — the same
# adaptive-local pattern as connected_components' union-find: the
# iteration data is vocabulary-sized by construction, and when it fits
# comfortably in one process, a cluster job per merge round is pure
# scheduling overhead (measured 6x on the 8-round training query).
# Larger vocabularies keep the distributed loop.
LOCAL_VOCAB_MAX = 200_000

# The distributed loop ranks pairs from a driver-side (pair -> count)
# table, kept current by per-round deltas, while the table's DISTINCT
# size fits under PAIR_DICT_MAX. Pair diversity is symbol-pair-bounded
# (an alphabet² in the letter phase, growing only by merge-created
# symbols), orders of magnitude under the word count that gates the
# local path. Above it, each round re-counts the pairs and fetches the
# top BATCH_CANDIDATES. MERGES_PER_ROUND caps the replace chain of one
# round.
PAIR_DICT_MAX = 2_000_000
BATCH_CANDIDATES = 512
MERGES_PER_ROUND = 256

# Symbol string form: each symbol rides as \x01esc(sym)\x02, where esc
# maps \x03 -> \x03e, then \x01 -> \x03o, then \x02 -> \x03c. Bracket
# bytes then occur only as brackets, so a replace pattern matches
# whole adjacent symbols on any corpus. esc works character by
# character, so esc(a + b) == esc(a) + esc(b): a merged symbol's form
# is its parts' forms joined. Decoding undoes \x03o and \x03c before
# \x03e (undoing \x03e first would turn an escaped \x03 followed by a
# literal 'o' into \x03o).
_OPEN, _CLOSE = "\x01", "\x02"
_ESCAPES = (("\x03", "\x03e"), ("\x01", "\x03o"), ("\x02", "\x03c"))


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the only corpus-sized pass."""
    from crane_spark.functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _replace(x: str | Column, old: str, new: str) -> str | Column:
    return x.replace(old, new) if isinstance(x, str) else F.replace(x, F.lit(old), F.lit(new))


def _escape(sym: str | Column) -> str | Column:
    """Escape a symbol (a str, or a string Column) for the string form."""
    for raw, esc in _ESCAPES:
        sym = _replace(sym, raw, esc)
    return sym


def _unescape(sym: str | Column) -> str | Column:
    """Undo `_escape` (a str, or a string Column)."""
    for raw, esc in _ESCAPES[1:] + _ESCAPES[:1]:  # \x03e last
        sym = _replace(sym, esc, raw)
    return sym


def _sym(sym: str) -> str:
    """One symbol in the string form: escaped, then bracketed."""
    return _OPEN + _escape(sym) + _CLOSE


def _encode(word: Column) -> Column:
    """A word's initial symbol string: its characters, then END."""
    chars = F.array_join(F.transform(F.split(word, ""), _escape), _CLOSE + _OPEN)
    return F.concat(F.lit(_OPEN), chars, F.lit(_CLOSE + _sym(END)))


def _escaped_symbols(s: Column) -> Column:
    """The array of escaped symbols of a symbol string. Escaping is
    one-to-one, so pairs group the same escaped or not: the loop
    counts escaped pairs and unescapes only the aggregated rows."""
    return F.split(F.btrim(s, F.lit(_OPEN + _CLOSE)), _CLOSE + _OPEN)


def _merge(s: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Apply ``merges`` to a symbol string in order, one replace each."""
    for a, b, _n in merges:
        s = F.replace(s, F.lit(_sym(a) + _sym(b)), F.lit(_sym(a + b)))
    return s


def _pair_structs(col_name: str) -> Column:
    """Adjacent-pair struct array of a symbol-array column, empty
    (typed) when the word has shrunk below 2 symbols — `sequence(1, 0)`
    DESCENDS in Spark, so the size guard is load-bearing."""
    return F.when(
        F.size(F.col(col_name)) >= 2,
        F.expr(
            f"transform(sequence(1, size({col_name}) - 1), "
            f"i -> struct({col_name}[i - 1] AS a, {col_name}[i] AS b))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<a:string,b:string>>)"))


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair counts of a (freq, s) frame."""
    return (
        seqs.select("freq", _escaped_symbols(F.col("s")).alias("syms"))
        .select("freq", F.explode(_pair_structs("syms")).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("n"))
        .select(_unescape(F.col("a")).alias("a"), _unescape(F.col("b")).alias("b"), "n")
    )


def _select_batch(
    ranked: list[tuple[str, str, int]], cap: int, complete: bool
) -> list[tuple[str, str, int]]:
    """Choose a batch of merges from one round's ranked pair counts
    that EXACTLY equals the next ``len(batch)`` picks of sequential
    classic BPE — batching without approximation.

    ``ranked`` is in classic argmax order (count desc, pair lex asc);
    ``complete`` says whether it is the entire pair table or a prefix.

    Why the prefix rule is exact (round-6 CHAIN form — tighter than
    the round-2 any-shared-symbol form, measured ~2x more merges per
    letter-phase round): an occurrence of Q = (c, d) can interact
    with an applied merge P = (a, b) only through a CHAIN overlap —
    the patterns "c=a_j-follower" (c == b: "a b d") or
    "d-precedes-a_j" (d == a: "c a b"). Pairs that merely share a
    symbol in the SAME position ((a, d): same first; (c, b): same
    second) have occurrence sets DISJOINT from P's (one position
    cannot be followed by two different symbols), so their counts are
    invariant under P. Old pair counts never increase (merging only
    destroys old-symbol adjacencies). Newly-created pairs are bounded
    by chain pairs: count(x, ab) <= count(x, a) where (x, a) has
    d == a -> banned; count(ab, y) <= count(b, y) where (b, y) has
    c == b -> banned; every banned pair ranks at or below the FIRST
    ban position, so its count <= cut.

    Therefore: accept ranked pairs while first(Q) is not a prior
    second, second(Q) is not a prior first, and Q contains no
    produced symbol; at the first ban (count = cut) stop; then drop
    accepted pairs whose count does not STRICTLY exceed the cut (a
    tie at the boundary could let a new or banned pair win the
    classic argmax via the lexicographic tie-break). Every surviving
    accepted pair's count is INVARIANT while the batch applies, it
    outranks everything else classic could see (banned <= cut,
    unscanned <= cut, new <= cut, later members rank after by the
    classic order itself), so the batch equals classic's next
    ``len(batch)`` picks in order. If truncation empties the batch,
    the top-1 pair alone is always the classic argmax.

    The round applies the batch as one chain of replaces in rank
    order — classic order literally."""
    firsts: set[str] = set()
    seconds: set[str] = set()
    prod: set[str] = set()
    accepted: list[tuple[str, str, int]] = []
    cut: int | None = None
    for a, b, n in ranked:
        if (
            len(accepted) >= cap
            or a in seconds
            or b in firsts
            or a in prod
            or b in prod
        ):
            cut = n
            break
        accepted.append((a, b, n))
        firsts.add(a)
        seconds.add(b)
        # a pair containing a+b cannot co-exist in counts with (a, b)
        # (its symbol only exists once (a, b) merged, which zeroes the
        # (a, b) count), but guard it anyway — an early cut only
        # shrinks the batch and the exactness argument is unchanged.
        prod.add(a + b)
    else:
        if not complete and ranked:
            # unfetched pairs may tie the last fetched count
            cut = ranked[-1][2]
    if cut is not None:
        accepted = [p for p in accepted if p[2] > cut]
    if not accepted and ranked:
        accepted = [ranked[0]]
    return accepted


def _update_table(table: dict[tuple[str, str], int], deltas: list) -> None:
    """Fold one round's aggregated (escaped a, escaped b, d) pair
    deltas into the driver pair table."""
    for a, b, d in deltas:
        key = (_unescape(a), _unescape(b))
        n = table.get(key, 0) + int(d)
        if n > 0:
            table[key] = n
        elif n == 0:
            table.pop(key, None)
        else:  # impossible if the table is consistent
            raise AssertionError(f"negative pair count for {key}: {n}")


def _bpe_train_distributed(
    cur: DataFrame, n_merges: int, reliable_every: int
) -> list[tuple[str, str, int]]:
    """Exact batched BPE over a (freq, s) frame of symbol strings.

    Each round ranks the pairs, takes `_select_batch`'s provably-
    classic-equal batch, rewrites every word with one replace chain
    and stages the result as a LAZY localCheckpoint, which the next
    round's single job stores while it reads it. The ranking comes
    from one of two places:

    - the driver table, while the distinct pairs fit PAIR_DICT_MAX: the
      complete ranking, kept current by one small aggregate per round
      over the rewritten words only (-freq for each old adjacency, +freq
      for each new one). Pairs are an additive function of the word
      multiset, so the table equals a fresh count every round;
    - otherwise a re-count of every pair, of which the top
      BATCH_CANDIDATES come back (an incomplete ranking, which
      `_select_batch` cuts at the tail count).

    The letter phase runs many short rounds (the provable batching
    limit when top pairs share symbols; on the bench.py corpus the
    first 300 merges take ~85 rounds), so the round constant is what
    counts: one job, a replace chain instead of an expression tree,
    and the superseded round's stored copy released as soon as its
    successor is stored.

    ``reliable_every=N``: every Nth round stages through a durable
    eager ``df.checkpoint()`` instead — one extra job that round,
    bounded replay after executor loss, bit-identical merges
    (operators/caching.py)."""
    from crane_spark.operators.caching import (
        ensure_checkpoint_dir,
        release_local_checkpoint,
    )

    pairs = _pair_counts(cur)
    table = None
    if pairs.count() <= PAIR_DICT_MAX:
        table = {(r["a"], r["b"]): int(r["n"]) for r in pairs.collect()}

    def signed(col_name: str, freq: Column) -> Column:
        return F.transform(
            _pair_structs(col_name),
            lambda p: F.struct(p["a"].alias("a"), p["b"].alias("b"), freq.alias("d")),
        )

    # The delta aggregate's columns, built once (each Column costs py4j
    # calls, and a run has ~100 rounds): -freq for each old adjacency
    # of a rewritten word, +freq for each new one.
    old_new = [
        F.col("freq"),
        _escaped_symbols(F.col("s")).alias("_oa"),
        _escaped_symbols(F.col("_new")).alias("_na"),
    ]
    deltas = F.explode(
        F.concat(signed("_oa", -F.col("freq")), signed("_na", F.col("freq")))
    ).alias("e")
    merges: list[tuple[str, str, int]] = []
    stored, staged = cur, None
    rnd = 0
    while len(merges) < n_merges:
        if table is None:
            rows = (
                _pair_counts(cur)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(BATCH_CANDIDATES + 1)
                .collect()
            )
            ranked = [(r["a"], r["b"], int(r["n"])) for r in rows]
            complete = len(ranked) <= BATCH_CANDIDATES
        else:
            if staged is not None:
                _update_table(
                    table,
                    staged.filter("s != _new")
                    .select(*old_new)
                    .select(deltas)
                    .groupBy("e.a", "e.b")
                    .agg(F.sum("e.d").alias("d"))
                    .filter("d != 0")
                    .collect(),
                )
            ranked = sorted(
                ((a, b, n) for (a, b), n in table.items()),
                key=lambda t: (-t[2], t[0], t[1]),
            )
            complete = True
        if staged is not None:
            # the collect above stored `staged`; its predecessor has
            # no consumer left, so free it now instead of stacking one
            # copy per round until a driver GC notices
            release_local_checkpoint(stored)
            stored = staged
        cap = min(n_merges - len(merges), MERGES_PER_ROUND)
        batch = _select_batch(ranked, cap=cap, complete=complete)
        if not batch:
            break
        merges.extend(batch)
        rnd += 1
        staged = cur.select("freq", "s", _merge(F.col("s"), batch).alias("_new"))
        if reliable_every > 0 and rnd % reliable_every == 0:
            ensure_checkpoint_dir(staged.sparkSession)
            staged = staged.checkpoint(eager=True)  # durable round state
        else:
            staged = staged.localCheckpoint(eager=False)
        cur = staged.select("freq", F.col("_new").alias("s"))
    return merges


def _bpe_train_local(
    rows: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Classic in-memory BPE over the word-frequency table; argmax tie
    break (count desc, pair lexicographic asc) and the left-to-right
    skip-one merge rewrite are IDENTICAL to the distributed loop —
    regime equality is pinned in tests/test_bpe.py."""
    seqs: list[tuple[list[str], int]] = [
        (list(word) + [END], freq) for word, freq in rows
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in seqs:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        ab = a + b
        nxt: list[tuple[list[str], int]] = []
        for syms, freq in seqs:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, freq))
        seqs = nxt
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    words: DataFrame | None = None,
    reliable_every: int = 0,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, freq)]
    in merge order, bit-identical to classic sequential BPE: ties on
    count break toward the lexicographically smallest pair.

    ``words`` short-circuits the corpus scan when the caller already
    aggregated (word, freq) — training and inference over the same
    corpus then share ONE corpus-sized pass.

    ``reliable_every=N`` makes every Nth merge round's lineage
    checkpoint a durable ``df.checkpoint()`` (bounded replay after
    executor loss; merge list bit-identical either way). The
    small-vocabulary local path ignores it — that path runs entirely
    on the driver."""
    if words is None:
        # lazy (r11): the count() right below is the first action and
        # materializes the aggregate inside its own job.
        words = word_freqs(docs, text_col).localCheckpoint(eager=False)
    n_words = int(words.count())
    if n_words <= LOCAL_VOCAB_MAX:
        return _bpe_train_local(
            [(r["word"], int(r["freq"])) for r in words.collect()], n_merges
        )
    # The iteration runs on vocabulary-sized data; right-size its
    # partitioning ONCE so each round's job schedules a handful of
    # tasks, not defaultParallelism empty ones (tiny-vocab corpora:
    # measured 3x on the whole loop). ~64k words per partition keeps
    # even a 10M-word vocabulary under 200 tasks.
    n_parts = max(1, min(n_words // 65536 + 1,
                         words.sparkSession.sparkContext.defaultParallelism))
    cur = (
        words.coalesce(n_parts)
        .select("freq", _encode(F.col("word")).alias("s"))
        .localCheckpoint(eager=True)
    )
    return _bpe_train_distributed(cur, n_merges, reliable_every)


def apply_merges(
    seqs_or_docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    words: DataFrame | None = None,
) -> DataFrame:
    """Tokenize with a learned merge table: replay merges in order
    (the inference side of BPE). Accepts a raw documents frame.

    Sequential replay IS classic BPE, and each merge is one replace on
    the symbol string form (module docstring) — the same rewrite the
    trainer runs. Every 100 replaces the chain is folded through a
    projection to bound expression depth for tokenizer-scale merge
    lists."""
    if words is None:
        words = word_freqs(seqs_or_docs, text_col)
    cur = words.select("word", "freq", _encode(F.col("word")).alias("s"))
    for i in range(0, len(merges), 100):
        cur = cur.select("word", "freq", _merge(F.col("s"), merges[i : i + 100]).alias("s"))
    syms = F.transform(_escaped_symbols(F.col("s")), _unescape)
    return cur.select("word", "freq", syms.alias("syms"))
