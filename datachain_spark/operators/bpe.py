"""BPE tokenizer training — byte-pair-encoding merges learned from a
corpus (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
Words with Subword Units", ACL — public algorithm; the counting recipe
follows the paper's reference `get_stats`/`merge_vocab`).

The reference has no tokenizer-training surface (its nearest is scalar
string funcs, /root/reference/src/datachain/func/string.py); training a
subword vocabulary over the corpus is a standard stage of a large-scale
training-data pipeline. The work splits by size:

- The corpus is touched ONCE, by Spark: one explode -> hash-agg shuffle
  builds the (syms, freq) vocabulary of distinct words (`word_vocab`).
  At corpus scale the distinct-word vocabulary is orders of magnitude
  smaller than the corpus.
- The vocabulary is collected once and every merge is learned on the
  driver, with an incremental pair index (pair -> count, pair -> the
  words holding it): a merge rewrites only the words that hold its pair
  and adjusts only their pairs' counts, and a lazy max-heap yields the
  next argmax. The fit runs a fixed number of Spark jobs whatever the
  merge count; a job per merge (pair-count aggregation + argmax collect)
  costs more in scheduling than the whole driver fit. Only the
  vocabulary, not the corpus, must fit in driver memory — the regime of
  single-process trainers (SentencePiece, Hugging Face tokenizers).
- Pair counting counts EVERY adjacent occurrence including overlaps
  ('aaaa' contributes 3 occurrences of (a,a)), matching the paper's
  get_stats; the merge then applies greedily left-to-right ('aaaa' ->
  ['aa','aa']). Ties break deterministically by (count desc, left asc,
  right asc) so the merge sequence is identical at any parallelism and
  re-derivable by the DuckDB oracle.
- bpe_encode applies a learned merge table to text as an Arrow-batched
  pandas UDF (the merge table is a broadcast-sized plain dict; encoding is
  inherently per-word sequential, so the vectorized-batch Python path is
  the honest one — same contract as the reference's Mapper UDFs).
"""

from __future__ import annotations

import heapq
import re
from collections import defaultdict
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datachain_spark.operators import WORDS, words

__all__ = ["fit_bpe", "bpe_encode", "merge_pair_py"]


def merge_pair_py(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right merge of adjacent (left, right) symbols into
    one `left+right` symbol (Sennrich's merge_vocab): 'aaaa' with
    ('a','a') -> ['aa','aa'], a consumed position cannot start a second
    merge."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def word_vocab(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(freq, syms) vocabulary — the single corpus-scale pass: one
    explode -> hash-agg shuffle (partial-combined), then a char split on
    the already-aggregated distinct words."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    vocab = (
        docs.select(F.explode(words(t)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return vocab.withColumn("syms", F.split(F.col("w"), "")).drop("w")


def _learn_merges(vocab: list[tuple[list[str], int]], num_merges: int) -> list[dict[str, Any]]:
    """Sequential BPE over a (syms, freq) vocabulary, kept incremental:
    `counts` holds every adjacent pair's frequency-weighted count and
    `holders` the words containing it, so a merge touches only the words
    that hold its pair. `heap` holds (-count, left, right) entries; one
    whose count no longer matches `counts` is stale and skipped."""
    words = [syms for syms, _ in vocab]
    freqs = [f for _, f in vocab]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    holders: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += freqs[i]
            holders[p].add(i)
    heap = [(-c, l, r) for (l, r), c in counts.items()]
    heapq.heapify(heap)
    merges: list[dict[str, Any]] = []
    while heap and len(merges) < num_merges:
        neg, left, right = heapq.heappop(heap)
        if counts.get((left, right)) != -neg:
            continue
        merges.append(
            {"step": len(merges) + 1, "left_sym": left, "right_sym": right, "pair_count": -neg}
        )
        touched: set[tuple[str, str]] = set()
        for i in holders.pop((left, right)):
            old, f = words[i], freqs[i]
            new = words[i] = merge_pair_py(old, left, right)
            old_pairs, new_pairs = list(zip(old, old[1:])), list(zip(new, new[1:]))
            for p in old_pairs:
                counts[p] -= f
            for p in new_pairs:
                counts[p] += f
                holders[p].add(i)
            for p in set(old_pairs) - set(new_pairs):
                holders[p].discard(i)
            touched.update(old_pairs, new_pairs)
        for p in touched:
            if counts[p]:
                heapq.heappush(heap, (-counts[p], *p))
            else:
                del counts[p]
                holders.pop(p, None)
    return merges


def fit_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    lowercase: bool = True,
) -> list[dict[str, Any]]:
    """Learn `num_merges` BPE merges from the corpus. Returns the ordered
    merge table [{step, left_sym, right_sym, pair_count}, ...] — O(K)
    driver metadata. Stops early when no adjacent pair remains. One Spark
    aggregation builds the word vocabulary, which is collected; the merges
    are learned on the driver (`_learn_merges`)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    vocab = word_vocab(docs, text_col=text_col, lowercase=lowercase).toArrow()
    return _learn_merges(
        list(zip(vocab.column("syms").to_pylist(), vocab.column("freq").to_pylist())),
        num_merges,
    )


def bpe_encode(
    df: DataFrame,
    merges: list[dict[str, Any]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize text with a learned merge table: the whitespace words
    `word_vocab` trains on (`WORDS`), then merges lowest-rank-first per
    word (the standard BPE apply). Arrow-batched pandas UDF; the rank dict
    is closure-captured (O(K), broadcast-sized)."""
    ranks = {(m["left_sym"], m["right_sym"]): i for i, m in enumerate(merges)}
    word_re = re.compile(WORDS, re.ASCII)

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        while len(syms) >= 2:
            best_rank, best_pair = None, None
            for a, b in zip(syms, syms[1:]):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (a, b)
            if best_pair is None:
                break
            syms = merge_pair_py(syms, *best_pair)
        return syms

    @F.pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        def doc(text: str | None) -> list[str]:
            if text is None:
                return []
            out: list[str] = []
            for w in word_re.findall(text.lower() if lowercase else text):
                out.extend(encode_word(w))
            return out

        return s.map(doc)

    return df.withColumn(out_col, enc(F.col(text_col)))
