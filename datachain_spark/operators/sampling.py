"""Deterministic corpus sampling and data mixing.

Training-data pipelines need to *sample* and *re-weight* corpora — keep
25% of CommonCrawl, 100% of Wikipedia, cap the mixture at a token budget
(the classic Pile / LLaMA-style mixture table). At 100 TB the only
admissible sampler is one with ZERO shuffle: a per-group window
(row_number over partitionBy(source)) would funnel an entire multi-TB
source through a single task's sort. Instead every operator here is a
deterministic hash-threshold Bernoulli filter:

    keep row  ⇔  hash60(id) mod RESOLUTION  <  threshold(group)

which is a pure map-side codegen predicate — no shuffle, no state, and
the SAME rows are selected on 1 executor or 1000, at sf0.001 or 100 TB
(the hash ignores partitioning entirely). The md5-derived 60-bit integer
is bit-identical in Spark and DuckDB, so the driver oracle verifies the
exact surviving row set, not just counts. Thresholds are INTEGERS in
[0, RESOLUTION] so no float threshold ever crosses an engine boundary.

Extends the reference's uniform `sample(n)` (reference
src/datachain/lib/dc/datachain.py sample(): ORDER BY random() LIMIT n)
with the per-group / budgeted forms a mixture pipeline needs; the
reference has no stratified or budgeted sampler.
"""

from __future__ import annotations

import math
from collections.abc import Mapping

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachain_spark.operators import hash60, sliding_ngrams
from datachain_spark.operators.text import token_count, word_tokens

#: Threshold resolution: fractions are quantized to 1/RESOLUTION steps —
#: quantization error (<1e-6) is far below sampling noise at any corpus
#: size, and an integer threshold compares exactly in every engine.
RESOLUTION = 1_000_000


def hash_bucket(id_col: Column, resolution: int = RESOLUTION) -> Column:
    """Deterministic uniform bucket in [0, resolution): `hash60` of the id
    string mod resolution. Engine-portable (md5 is identical everywhere);
    DuckDB form: ``_MD5I`` over ``CAST(id AS VARCHAR)``, ``% resolution``."""
    return F.pmod(hash60(id_col.cast("string")), F.lit(int(resolution)))


def _threshold(frac: float) -> int:
    """Integer keep-threshold for a fraction. floor() (not round) so the
    quantization is direction-stable; exact for binary-representable
    fractions like 0.25/0.5/1.0."""
    return min(RESOLUTION, max(0, math.floor(float(frac) * RESOLUTION)))


def _thresh_expr(group_col: str, thresholds: Mapping[str, int], default: int) -> Column:
    entries: list[Column] = []
    for k, v in thresholds.items():
        entries += [F.lit(k), F.lit(int(v))]
    if not entries:
        return F.lit(int(default))
    return F.coalesce(
        F.element_at(F.create_map(*entries), F.col(group_col)), F.lit(int(default))
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    fractions: Mapping[str, float] | float,
    id_col: str = "doc_id",
    default_fraction: float = 1.0,
) -> DataFrame:
    """Stratified deterministic sample: keep ~``fractions[group]`` of each
    group's rows (groups absent from the mapping keep ``default_fraction``).

    Zero shuffle: the per-group threshold rides a tiny literal map (O(G)
    driver constants, like the audited k-means-centroid pattern) and the
    keep/drop decision is a codegen predicate on a hash of the row id —
    WholeStageCodegen end to end, identical row set at any parallelism.
    """
    if isinstance(fractions, Mapping):
        thresholds = {k: _threshold(v) for k, v in fractions.items()}
    else:
        thresholds = {}
        default_fraction = float(fractions)
    thresh = _thresh_expr(group_col, thresholds, _threshold(default_fraction))
    return df.filter(hash_bucket(F.col(id_col)) < thresh)


def mixture_thresholds(
    group_tokens: Mapping[str, int],
    weights: Mapping[str, float],
    token_budget: int,
) -> dict[str, int]:
    """Integer keep-thresholds realizing a mixture: group g should
    contribute ``weights[g]/Σw`` of ``token_budget`` tokens, capped at its
    full size (can't upsample without repetition); unweighted groups get 0.
    Pure driver arithmetic over O(G) numbers. The float-op sequence
    (budget · (w/Σw) · RESOLUTION / tokens, then floor) is kept trivially
    reproducible in SQL so the oracle derives the identical integers."""
    total_w = float(sum(weights.values()))
    out: dict[str, int] = {}
    for g, toks in group_tokens.items():
        w = float(weights.get(g, 0.0))
        if w <= 0.0 or toks <= 0:
            out[g] = 0
            continue
        out[g] = min(
            RESOLUTION, int(math.floor(token_budget * (w / total_w) * RESOLUTION / toks))
        )
    return out


def mix_by_token_budget(
    df: DataFrame,
    weights: Mapping[str, float],
    token_budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Down-sample a corpus to a token budget with per-group mixture
    weights (the LLaMA/Pile mixture table as an operator).

    Two phases, both 100 TB-safe:
      1. per-group token totals — ONE partially-combined aggregation whose
         result is O(groups) rows collected as bounded metadata;
      2. the zero-shuffle hash-threshold filter of sample_per_group.

    The expected token contribution of group g is budget·w_g/Σw (capped
    at the group's full size); selection is deterministic in the row id.
    """
    toks = (
        df.groupBy(group_col)
        .agg(F.sum(token_count(F.col(text_col))).alias("_toks"))
        .collect()
    )
    group_tokens = {r[group_col]: int(r["_toks"]) for r in toks}
    thresholds = mixture_thresholds(group_tokens, weights, token_budget)
    thresh = _thresh_expr(group_col, thresholds, 0)
    return df.filter(hash_bucket(F.col(id_col)) < thresh)


# ---------------------------------------------------------------------------
# DSIR — data selection with importance resampling (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling", public
# arXiv:2302.03169). Select raw-corpus documents whose hashed-n-gram
# distribution looks like a small TARGET corpus (e.g. keep the most
# Wikipedia-like slice of CommonCrawl).
# ---------------------------------------------------------------------------


def dsir_grams(text: Column) -> Column:
    """Unigram + bigram occurrence array (the paper's hashed n-gram
    feature set), lowered word_tokens; docs with <2 tokens contribute
    unigrams only. Pure codegen."""
    toks = word_tokens(F.lower(text))
    return F.concat(toks, sliding_ngrams(toks, 2))


def dsir_bucket(gram: Column, n_buckets: int) -> Column:
    """Feature hashing: gram -> bucket in [0, n_buckets): `hash60` of the
    gram mod B (engine-portable: DuckDB form ``_MD5I`` over g, ``% B``) so
    the driver oracle reproduces the exact bucketing."""
    return F.pmod(hash60(gram), F.lit(int(n_buckets)))


def dsir_bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int
) -> tuple[dict[int, int], int]:
    """Hashed-gram bucket occurrence counts over a corpus: explode ->
    ONE hash-aggregate shuffle of at most n_buckets groups (map-side
    combine makes the shuffle O(partitions x buckets)), collected as
    O(B) driver metadata — the DSIR 'fit' step."""
    rows = (
        df.select(F.explode(dsir_grams(F.col(text_col))).alias("g"))
        .select(dsir_bucket(F.col("g"), n_buckets).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = {int(r["b"]): int(r["c"]) for r in rows}
    return counts, sum(counts.values())


def dsir_log_ratios(
    target_counts: dict[int, int],
    target_total: int,
    raw_counts: dict[int, int],
    raw_total: int,
    n_buckets: int,
    alpha: float = 1.0,
) -> list[float]:
    """Per-bucket log importance ratio λ_b = ln p̂_target(b) − ln p̂_raw(b)
    with add-α smoothing. Computed in Python (glibc log — the same libm
    DuckDB's ln uses, so the oracle's arithmetic is bit-identical)."""
    tb = float(target_total) + alpha * n_buckets
    rb = float(raw_total) + alpha * n_buckets
    return [
        math.log((target_counts.get(b, 0) + alpha) / tb)
        - math.log((raw_counts.get(b, 0) + alpha) / rb)
        for b in range(n_buckets)
    ]


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n_keep: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR selection: score every raw document by the summed log
    importance ratio of its hashed gram occurrences, keep the
    deterministic top-`n_keep` by (score desc, id asc). (The paper
    resamples with Gumbel noise; the deterministic top-n is the
    reproducible variant — seeded Gumbel keys can be added as a column by
    the caller.)

    Scale shape: two fit passes (target is small by nature; the raw fit is
    one bounded-cardinality aggregate), then scoring follows the
    decide-with-small-rows pattern: explode the gram array through codegen
    (higher-order folds are CodegenFallback — the previous F.aggregate
    scoring evaluated md5 per gram through interpreted expression trees,
    measured ~2x this plan), look each gram's λ up in the O(B) literal
    array, partial-aggregate per doc map-side (one row per doc per
    partition crosses the exchange — never the grams), TakeOrdered the
    (id, score) pairs, and broadcast the n_keep winners back onto the raw
    table so the output carries all raw columns without ever shuffling
    them. Per-doc float-sum order is IDENTICAL to the sequential fold:
    explode preserves array order and each doc's grams stay inside one
    input partition, so the map-side partial sum accumulates in array
    order and the final merge sees exactly one partial per doc. Docs with
    no grams (empty text) carry no evidence and are excluded (explode
    emits nothing for them). n_buckets is bounded to 65536 as a plan-size
    guard (λ is embedded in the plan; the paper uses 10k)."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [1, 65536]")
    t_counts, t_total = dsir_bucket_counts(target, text_col, n_buckets)
    r_counts, r_total = dsir_bucket_counts(raw, text_col, n_buckets)
    lam = dsir_log_ratios(t_counts, t_total, r_counts, r_total, n_buckets, alpha)
    lam_arr = F.lit(np.asarray(lam, np.float64))
    per_gram = raw.select(
        F.col(id_col).alias("__dsir_id"),
        F.explode(dsir_grams(F.col(text_col))).alias("__g"),
    ).select(
        "__dsir_id",
        F.element_at(
            lam_arr, (dsir_bucket(F.col("__g"), n_buckets) + 1).cast("int")
        ).alias("__lam"),
    )
    scores = per_gram.groupBy("__dsir_id").agg(
        F.round(F.sum("__lam"), 6).alias("dsir_score")
    )
    top = scores.orderBy(F.desc("dsir_score"), F.asc("__dsir_id")).limit(n_keep)
    return (
        raw.join(F.broadcast(top), F.col(id_col) == F.col("__dsir_id"))
        .drop("__dsir_id")
        .orderBy(F.desc("dsir_score"), F.asc(id_col))
    )
