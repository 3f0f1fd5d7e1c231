"""Seeded input generators for the benchmark.

Everything the system under test reads is made here from the run's
``--seed``: the same seed gives byte-identical files
(``perfbench/tests/test_inputs.py``). The program receives only the
generated files, never the seed.

* ``ZipfText`` — text lines over a synthetic vocabulary whose word
  frequencies follow a Zipf law, so the streaming state store holds
  tens of thousands of keys with a realistic hot head and long tail
  (the 31-word fixture corpus would leave it trivially small).
* ``write_star_schema`` — the star-schema parquet tables the query
  registry reads, at a chosen fraction of sf0.1. Names, columns, types,
  value ranges and the relationships the registry's predicates depend
  on follow the repository's sf0.1 test data: every column is drawn
  independently, keys and dates uniformly (so ``l_shipdate`` is
  independent of ``o_orderdate``, and ``l_orderkey`` is uniform over
  the orders, as there), 5% of documents are another document's text plus ``" dup"``,
  and embeddings are unit vectors. perfbench/README.md lists the
  figures compared with the test data.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

VOCAB_SIZE = 100_000
ZIPF_EXPONENT = 1.1
WORDS_PER_LINE = (4, 16)  # uniform, inclusive
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


class ZipfText:
    """Deterministic text lines: words drawn by Zipf rank from a seeded
    vocabulary of lowercase words (no digits, so marker tokens such as
    ``mk000017`` can never collide with a vocabulary word)."""

    def __init__(self, seed: int, stream: int = 0):
        rng = np.random.default_rng([seed, 1])
        lengths = rng.integers(3, 11, size=VOCAB_SIZE)
        letters = _LETTERS[rng.integers(0, 26, size=int(lengths.sum()))].tobytes().decode()
        words, pos, seen = [], 0, set()
        for n in lengths:
            w = letters[pos : pos + n]
            pos += n
            if w not in seen:  # a duplicate spelling would merge two ranks
                seen.add(w)
                words.append(w)
        self.words = words
        weights = 1.0 / np.arange(1, len(words) + 1) ** ZIPF_EXPONENT
        self._cdf = np.cumsum(weights / weights.sum())
        # ``stream`` picks an independent line sequence over the same
        # vocabulary (warm-up input versus measured input).
        self._rng = np.random.default_rng([seed, 2, stream])

    def lines(self, n: int) -> list[str]:
        """The next ``n`` lines of this generator's stream."""
        lo, hi = WORDS_PER_LINE
        counts = self._rng.integers(lo, hi + 1, size=n)
        ranks = np.searchsorted(self._cdf, self._rng.random(int(counts.sum())), side="right")
        ranks = np.minimum(ranks, len(self.words) - 1)
        out, pos = [], 0
        for c in counts:
            out.append(" ".join(self.words[r] for r in ranks[pos : pos + c]))
            pos += c
        return out


def recount(lines) -> Counter:
    """Reference word count with the topology's tokenizer semantics:
    split on one space, empty tokens counted."""
    counts: Counter = Counter()
    for line in lines:
        counts.update(line.split(" "))
    return counts


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


# ---------------------------------------------------------------------------
# Star schema
# ---------------------------------------------------------------------------

# Rows per table at sf0.1; ``write_star_schema`` scales every table but
# the fixed-size region/nation by ``fraction``.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
_DAY_US = 86_400 * 1_000_000


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, size=n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _tables(seed: int, fraction: float) -> dict:
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    n = {k: max(1, round(v * fraction)) for k, v in SF01_ROWS.items()}
    t: dict = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, size=len(k)).astype(np.int32),
            "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], len(k)
            ),
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, size=len(k)).astype(np.int32),
            "s_acctbal": _money(rng, len(k), -999.99, 9999.99),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    adj = np.array(["blue", "hot", "large", "new", "red", "small"])
    noun = np.array(["anvil", "bolt", "plate", "ring", "rod"])
    t["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": np.char.add(
                np.char.add(rng.choice(adj, len(k)), " "), rng.choice(noun, len(k))
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, size=len(k)).astype(str)),
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], len(k)
            ),
            "p_size": rng.integers(1, 51, size=len(k)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
        }
    )
    k = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], size=len(k)).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(k)),
            "o_totalprice": _money(rng, len(k), 1000.0, 500000.0),
            "o_orderdate": _days(rng, len(k), "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(k)
            ),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], size=m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], size=m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], size=m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=m).astype(np.float64),
            "l_extendedprice": _money(rng, m, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, size=m) / 100.0,
            "l_tax": rng.integers(0, 9, size=m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    m = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, size=m))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, 1500, size=m).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], m),
            "value": np.round(rng.exponential(50.0, size=m), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, size=m)],
        }
    )
    m = n["documents"]
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=rng.integers(10, 100))]) for _ in range(m)]
    # 5% near-duplicates: another document's text plus " dup". Two of
    # them copying the same document are exact duplicates of each other,
    # so dedup and LSH queries have pairs to find.
    original = list(texts)
    for i in rng.choice(m, size=round(0.05 * m), replace=False):
        src = (i + rng.integers(1, m)) % m if m > 1 else i
        texts[i] = original[src] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], m, p=[0.14, 0.42, 0.15, 0.14, 0.15]),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, size=(m, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": rng.integers(0, 10, size=m).astype(np.int32),
        }
    )
    return t


def write_star_schema(out_dir: str, seed: int, fraction: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every table the query
    registry reads; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in _tables(seed, fraction).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                table.schema.get_field_index("embedding"),
                "embedding",
                pa.array(df["embedding"].tolist(), type=pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows
