"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import harness  # noqa: E402
from inputs import ZipfText, recount, write_lines, write_star_schema  # noqa: E402
from spout_drain import read_committed  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(root, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(root))
    }


def test_same_seed_gives_identical_text_bytes(tmp_path):
    for run in ("a", "b"):
        text = ZipfText(7)
        write_lines(str(tmp_path / f"{run}.txt"), text.lines(300) + text.lines(200))
    assert (tmp_path / "a.txt").read_bytes() == (tmp_path / "b.txt").read_bytes()


def test_seed_and_stream_change_the_text():
    base = ZipfText(7).lines(50)
    assert ZipfText(8).lines(50) != base
    assert ZipfText(7, stream=1).lines(50) != base


def test_zipf_text_has_a_large_skewed_vocabulary():
    counts = recount(ZipfText(3).lines(5_000))
    assert len(counts) > 5_000  # far beyond the 31-word fixture corpus
    top = counts.most_common(1)[0][1]
    assert top > 20 * sorted(counts.values())[len(counts) // 2]
    assert not any(ch.isdigit() for word in counts for ch in word)  # no marker collisions


def test_same_seed_gives_identical_star_schema_bytes(tmp_path):
    write_star_schema(str(tmp_path / "a"), 11, 0.01)
    write_star_schema(str(tmp_path / "b"), 11, 0.01)
    write_star_schema(str(tmp_path / "c"), 12, 0.01)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_recount_counts_empty_tokens():
    assert recount(["a  b", "a"]) == {"a": 2, "": 1, "b": 1}


def test_read_committed_applies_manifests_in_numeric_batch_order(tmp_path):
    # batch 10 must win over batch 2, although "_MANIFEST-10" sorts first by name
    for batch, value in ((2, 5), (10, 7)):
        (tmp_path / f"part-{batch}.txt").write_text(f"w --- {value}\n")
        (tmp_path / f"_MANIFEST-{batch}.json").write_text(
            json.dumps({"files": [f"part-{batch}.txt"], "rows": 1})
        )
    assert read_committed(str(tmp_path)) == {"w": 7}


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))
    assert harness.percentile(values, 50) == 5
    assert harness.percentile(values, 90) == 9
    assert harness.percentile([4.0], 90) == 4.0
