"""Distributed BPE tokenizer training (llm/bpe.py): known-corpus
merges, determinism, and inference replay."""

from __future__ import annotations

from crane_spark.llm.bpe import END, apply_merges, bpe_train, word_freqs


def _corpus(spark):
    # classic BPE teaching corpus: 'low'x5, 'lower'x2, 'newest'x6,
    # 'widest'x3 — first merges learn 'es', 'est', 'est</w>' ...
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    return spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")


def test_word_freqs(spark):
    got = {r["word"]: r["freq"] for r in word_freqs(_corpus(spark)).collect()}
    assert got == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_bpe_learns_canonical_merges(spark):
    merges = bpe_train(_corpus(spark), n_merges=4)
    # 'e s' occurs in newest(6)+widest(3)=9, the unique max
    assert merges[0] == ("e", "s", 9)
    # then 'es t' (9), then 'est </w>' (9); tie-breaks are lexicographic
    assert merges[1] == ("es", "t", 9)
    assert merges[2] == ("est", END, 9)
    assert len(merges) == 4 and all(n >= 2 for _, _, n in merges)


def test_bpe_training_is_reproducible(spark):
    assert bpe_train(_corpus(spark), n_merges=5) == bpe_train(
        _corpus(spark), n_merges=5
    )


def test_apply_merges_tokenizes(spark):
    merges = bpe_train(_corpus(spark), n_merges=3)
    seqs = {r["word"]: r["syms"] for r in apply_merges(_corpus(spark), merges).collect()}
    # after (e,s),(es,t),(est,</w>): 'newest' -> n e w est</w>
    assert seqs["newest"] == ["n", "e", "w", "est" + END]
    assert seqs["low"] == ["l", "o", "w", END]
    # symbols always reassemble to word + end marker
    for w, syms in seqs.items():
        assert "".join(syms) == w + END


def test_bpe_on_fixture_corpus(spark, sf_dir):
    """Merges learned from the real documents table: deterministic,
    non-empty, counts non-increasing is NOT required (BPE counts may
    rise after unlocking merges) but all counts are positive."""
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(100)
    merges = bpe_train(docs, n_merges=5)
    assert len(merges) == 5
    assert all(n > 0 for _, _, n in merges)
    assert merges == bpe_train(docs, n_merges=5)


def test_bpe_local_and_distributed_regimes_agree(spark, sf_dir, monkeypatch):
    """The driver-side local path and the distributed merge loop are
    the same algorithm in two regimes: identical merges (order, pairs,
    frequencies) on the same corpus."""
    from crane_spark.llm import bpe as B
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter("doc_id < 150")
    local = B.bpe_train(docs, n_merges=6)
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 0)
    dist = B.bpe_train(docs, n_merges=6)
    assert local == dist and len(local) == 6


def test_select_batch_exactness_rules():
    """The batch selector must mirror classic sequential BPE: cut at
    the first CHAIN conflict (second==first collision — the only
    overlap shape; round 6 relaxed the old any-shared-symbol ban),
    drop boundary ties, fall back to the argmax alone when truncation
    empties the batch."""
    from crane_spark.llm.bpe import _select_batch

    # same-FIRST pairs have disjoint occurrence sets -> invariant
    # counts -> batchable (the round-6 relaxation; the old rule cut
    # at ('a','x'))
    ranked = [("a", "b", 9), ("c", "d", 7), ("a", "x", 5), ("y", "z", 4)]
    assert _select_batch(ranked, cap=10, complete=True) == ranked
    # same-SECOND pairs likewise
    ranked = [("e", "r", 9), ("a", "r", 7)]
    assert _select_batch(ranked, cap=10, complete=True) == ranked
    # chain conflict c==prior second ("a b" then "b x": pattern
    # "a b x" overlaps): cut at 7, and ('c','d') TIES the cut -> drop
    ranked = [("a", "b", 9), ("c", "d", 7), ("b", "x", 7)]
    assert _select_batch(ranked, cap=10, complete=True) == [("a", "b", 9)]
    # chain conflict d==prior first ("c a" before "a b": "c a b")
    ranked = [("a", "b", 9), ("c", "a", 7), ("y", "z", 4)]
    assert _select_batch(ranked, cap=10, complete=True) == [("a", "b", 9)]
    # self-pair chains with everything touching its symbol
    ranked = [("a", "a", 9), ("a", "x", 7)]
    assert _select_batch(ranked, cap=10, complete=True) == [("a", "a", 9)]
    # top pair itself tied with a chain conflict: fall back to top-1
    ranked = [("t", "h", 5), ("h", "e", 5)]
    assert _select_batch(ranked, cap=10, complete=True) == [("t", "h", 5)]
    # incomplete listing: unfetched pairs may tie the tail count
    ranked = [("a", "b", 9), ("c", "d", 3)]
    assert _select_batch(ranked, cap=10, complete=False) == [("a", "b", 9)]
    assert _select_batch(ranked, cap=10, complete=True) == ranked
    # cap cut behaves like a conflict at the next candidate's count
    ranked = [("a", "b", 9), ("c", "d", 7), ("e", "f", 7)]
    assert _select_batch(ranked, cap=2, complete=True) == [("a", "b", 9)]
    # produced-symbol guard: ('es','t') cannot batch after ('e','s')
    ranked = [("e", "s", 9), ("es", "t", 8)]
    assert _select_batch(ranked, cap=10, complete=True) == [("e", "s", 9)]


def test_bpe_batched_distributed_equals_local_classic(spark, sf_dir, monkeypatch):
    """40 merges spanning several batched rounds (tiny candidate
    fetch forces multiple incomplete rounds) must equal the classic
    one-merge-at-a-time local path exactly, including tie-breaks."""
    from crane_spark.llm import bpe as B
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter("doc_id < 150")
    local = B.bpe_train(docs, n_merges=40)
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 0)
    monkeypatch.setattr(B, "PAIR_DICT_MAX", 0)  # rank by re-count
    monkeypatch.setattr(B, "BATCH_CANDIDATES", 16)  # force many rounds
    calls = {"incomplete": 0}
    orig = B._select_batch

    def counting(ranked, cap, complete):
        calls["incomplete"] += not complete
        return orig(ranked, cap, complete)

    monkeypatch.setattr(B, "_select_batch", counting)
    dist_small = B.bpe_train(docs, n_merges=40)
    monkeypatch.setattr(B, "BATCH_CANDIDATES", 512)
    dist_big = B.bpe_train(docs, n_merges=40)
    assert local == dist_small == dist_big
    assert len(local) == 40
    assert calls["incomplete"] > 0  # the BATCH_CANDIDATES cut ran


def test_apply_merges_batched_replay_matches_training(spark):
    """Inference replay must reproduce the training-side symbol
    sequences, including chained merges like (e,s)->(es,t)->(est,</w>)
    that CANNOT share one training round."""
    from crane_spark.llm.bpe import apply_merges, bpe_train

    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=8)
    seqs = {r["word"]: r["syms"] for r in apply_merges(docs, merges).collect()}
    for w, syms in seqs.items():
        assert "".join(syms) == w + "</w>"
    # est</w> requires three chained passes
    assert any("est</w>" in syms for syms in seqs.values())


def test_bpe_delta_path_equals_recount_fallback(spark, sf_dir, monkeypatch):
    """The delta-maintained exact loop (driver-mirrored pair table,
    incremental updates) and the re-counting fallback (PAIR_DICT_MAX
    forced to 0) must learn IDENTICAL merge sequences — the delta
    updates reproduce exactly what a fresh pair count would see."""
    from crane_spark.llm import bpe as B
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter("doc_id < 150")
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 0)
    delta = B.bpe_train(docs, n_merges=60)
    monkeypatch.setattr(B, "PAIR_DICT_MAX", 0)  # force full re-counts
    recount = B.bpe_train(docs, n_merges=60)
    assert delta == recount
    assert len(delta) == 60
    # and both equal the classic local path
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 200_000)
    local = B.bpe_train(docs, n_merges=60)
    assert delta == local


def test_bpe_unicode_astral_regime_equality(spark, monkeypatch):
    """Distributed symbol splitting (JVM split on '') must agree with
    the local path's Python list(word) on NON-BMP text: astral-plane
    code points (emoji) are one symbol, never a surrogate pair —
    pinned because a UTF-16 code-unit split would silently diverge on
    multilingual web corpora while passing every ASCII fixture."""
    from crane_spark.llm import bpe as B

    rows = [
        ("he\U0001F600llo he\U0001F600llo xy",),
        ("日本語 処理 日本語",),
        ("naïve café naïve",),
    ]
    docs = spark.createDataFrame(rows, "text string")
    local = B.bpe_train(docs, n_merges=12)  # local classic path
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 0)  # force distributed
    dist = B.bpe_train(docs, n_merges=12)  # delta loop (string repr)
    assert local == dist
    assert any("\U0001F600" in a + b for a, b, _ in local)


def test_bpe_bracket_bytes_train_and_apply_exactly(spark, monkeypatch):
    """Words holding the string form's bracket and escape bytes
    (\\x01, \\x02, \\x03, and \\x03o / \\x03c / \\x03e look-alikes)
    must train to the classic local merges under both rankings, and
    apply_merges must give back symbols that reassemble every word."""
    from crane_spark.llm import bpe as B

    freqs = {
        "ab\x01cd": 3, "ab\x02ef": 2, "x\x03oy": 3, "x\x03cy": 2,
        "\x03e\x03": 2, "\x01\x02\x01": 2, "o\x03\x01o": 1, "abxy": 3,
    }
    text = " ".join(w for w, n in freqs.items() for _ in range(n))
    docs = spark.createDataFrame([(text,)], "text string")
    local = B._bpe_train_local(sorted(freqs.items()), 12)
    assert any("\x03" in a + b for a, b, _ in local)
    monkeypatch.setattr(B, "LOCAL_VOCAB_MAX", 0)
    table_ranked = B.bpe_train(docs, n_merges=12)
    monkeypatch.setattr(B, "PAIR_DICT_MAX", 0)  # rank by re-count
    recounted = B.bpe_train(docs, n_merges=12)
    assert table_ranked == recounted == local
    seqs = {r["word"]: r["syms"] for r in apply_merges(docs, local).collect()}
    assert set(seqs) == set(freqs)
    for w, syms in seqs.items():
        assert "".join(syms) == w + END
    assert any(len(syms) < len(w) + 1 for w, syms in seqs.items())
