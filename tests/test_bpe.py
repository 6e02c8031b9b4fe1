"""Distributed BPE tokenizer training (operators/bpe.py).

The merge semantics are Sennrich et al. 2016's reference implementation:
get_stats counts EVERY adjacent pair occurrence (overlaps included), the
argmax pair is merged greedily left-to-right in every word, ties break
(count desc, left asc, right asc). fit_bpe's incremental driver fit, the
from-scratch reference fit below, and the DuckDB oracle's parity-run
formulation must all agree.
"""

from __future__ import annotations

import itertools
import os

import pytest

from datachain_spark.operators.bpe import bpe_encode, fit_bpe, merge_pair_py

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _fit_bpe_py(word_freqs: dict[str, int], num_merges: int) -> list[tuple]:
    """Single-threaded reference fit (the oracle-style golden twin)."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for step in range(1, num_merges + 1):
        counts: dict[tuple, int] = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, left, right, c))
        vocab = {w: merge_pair_py(s, left, right) for w, s in vocab.items()}
    return merges


def _corpus(spark, word_freqs: dict[str, int]):
    return spark.createDataFrame([((w + " ") * f,) for w, f in word_freqs.items()], "text: string")


def _table(merges) -> list[tuple]:
    return [(m["step"], m["left_sym"], m["right_sym"], m["pair_count"]) for m in merges]


# ---------- one-word corpora: greedy overlap semantics, fit to exhaustion ----

MERGE_CASES = [
    "aaaa",  # overlap run, even
    "aaa",  # overlap run, odd
    "aaab",
    "abab",
    "baba",
    "a",  # single symbol, no pairs
    "ab",  # exact whole word
    "xy",
    "aabaaba",
]


def test_fit_bpe_one_word_corpora(spark):
    for w in MERGE_CASES:
        got = _table(fit_bpe(_corpus(spark, {w: 1}), num_merges=20))
        assert got == _fit_bpe_py({w: 1}, 20), w


def _tie_vocab() -> dict[str, int]:
    """Deterministic vocabulary over a 3-letter alphabet: every word of
    length 1-6 with a run-heavy share (many 'aa'/'bb' overlaps) and
    frequencies from a short cycle, so equal pair counts are common."""
    out = {}
    for n in range(1, 7):
        for i, t in enumerate(itertools.product("abc", repeat=n)):
            if i % 3 == 0 or n <= 3:
                out["".join(t)] = 1 + (i * 7 + n) % 4
    return out


def test_fit_bpe_tie_vocab_to_exhaustion(spark):
    freqs = _tie_vocab()
    got = _table(fit_bpe(_corpus(spark, freqs), num_merges=100_000))
    expect = _fit_bpe_py(freqs, 100_000)
    assert got == expect
    assert len({m[3] for m in expect}) < len(expect)  # the fit met ties


def test_fit_bpe_job_count_is_independent_of_merges(spark):
    docs = _corpus(spark, _tie_vocab())
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(num_merges):
        group = f"bpe-jobs-{num_merges}"
        sc.setJobGroup(group, "bpe job count")
        try:
            assert len(fit_bpe(docs, num_merges)) == num_merges
        finally:
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
        return len(tracker.getJobIdsForGroup(group))

    assert jobs(2) == jobs(40)


# ---------- fit on a crafted corpus: merge sequence == reference ----------

def test_fit_bpe_hand_corpus(spark):
    # Sennrich-style toy corpus: 'low' x5, 'lowest' x2, 'newer' x6, 'wider' x3
    docs = spark.createDataFrame(
        [("low " * 5,), ("lowest " * 2,), ("newer " * 6,), ("wider " * 3,)],
        "text: string",
    )
    freqs = {"low": 5, "lowest": 2, "newer": 6, "wider": 3}
    expect = _fit_bpe_py(freqs, 6)
    got = fit_bpe(docs, num_merges=6)
    assert _table(got) == expect
    # first merge is the most frequent pair: 'e'+'r' appears in newer(x6,
    # twice? no - once) + wider(x3) = 9; 'n'+'e' in newer = 6+6=12? newer
    # has n-e and e-w and w-e and e-r: ne(6), ew(6), we(6), er(6); wider:
    # wi,id,de,er -> er total 9. low: lo(7), ow(7). The reference twin IS
    # the assertion; this comment just documents the shape.
    assert got[0]["pair_count"] == max(m[3] for m in expect)


def test_fit_bpe_overlap_counting(spark):
    # 'aaaa': (a,a) counted 3x per occurrence (overlaps included) but
    # merged to exactly ['aa','aa']
    docs = spark.createDataFrame([("aaaa",)], "text: string")
    got = fit_bpe(docs, num_merges=2)
    assert (got[0]["left_sym"], got[0]["right_sym"], got[0]["pair_count"]) == ("a", "a", 3)
    # after merge 1 the word is ['aa','aa'] -> merge 2 is ('aa','aa') x1
    assert (got[1]["left_sym"], got[1]["right_sym"], got[1]["pair_count"]) == ("aa", "aa", 1)


def test_fit_bpe_early_stop_and_validation(spark):
    docs = spark.createDataFrame([("ab",)], "text: string")
    got = fit_bpe(docs, num_merges=10)  # 1 merge exhausts the word
    assert len(got) == 1 and got[0]["left_sym"] == "a"
    with pytest.raises(ValueError):
        fit_bpe(docs, num_merges=0)


def test_fit_bpe_partition_invariance(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    a = fit_bpe(docs.repartition(1), num_merges=3)
    b = fit_bpe(docs.repartition(16), num_merges=3)
    assert a == b


# ---------- encode: applying learned merges reproduces the fit's vocab ----

def test_bpe_encode_consistent_with_fit(spark):
    docs = spark.createDataFrame(
        [("low " * 5,), ("lowest " * 2,), ("newer " * 6,), ("wider " * 3,)],
        "text: string",
    )
    merges = fit_bpe(docs, num_merges=4)
    # python twin of the final vocab state
    freqs = {"low": 5, "lowest": 2, "newer": 6, "wider": 3}
    vocab = {w: list(w) for w in freqs}
    for m in merges:
        vocab = {w: merge_pair_py(s, m["left_sym"], m["right_sym"]) for w, s in vocab.items()}
    enc = bpe_encode(spark.createDataFrame([(w,) for w in freqs], "text: string"), merges)
    got = {r["text"]: r["bpe_tokens"] for r in enc.collect()}
    for w, syms in vocab.items():
        assert got[w] == syms, (w, got[w], syms)


def test_bpe_encode_nulls_and_multiword(spark):
    merges = [{"step": 1, "left_sym": "a", "right_sym": "b", "pair_count": 1}]
    df = spark.createDataFrame([("ab ab",), (None,), ("  ",)], "text: string")
    rows = bpe_encode(df, merges).select("bpe_tokens").collect()
    assert [r["bpe_tokens"] for r in rows] == [["ab", "ab"], [], []]
