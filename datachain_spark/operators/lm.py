"""CCNet-style n-gram LM scoring for pretraining-corpus curation:
fit a stupid-backoff bigram language model (Brants et al. 2007, "Large
Language Models in Machine Translation") on a reference corpus, then
score every document by its mean per-token log-probability — the filter
stage CCNet (Wenzek et al. 2020) runs with KenLM. Low-probability
documents are boilerplate/garbled/out-of-domain; high ones are fluent
in-domain prose.

The reference (tfantas/datachain) has no LM scoring surface at all — this
is a beyond-reference training-data operator in the same family as DSIR
(operators/sampling.py) and the Gopher filters (operators/gopher.py).

Scale shape (the 100 TB audit):
- FIT is two explode -> hash-agg passes (ONE shuffle each, map-side
  combined); output cardinality is the vocabulary, not the corpus.
  `min_count` prunes the bigram table (the big one — unigrams stay whole
  so backoff denominators remain exact); a pruned bigram falls back to
  the smoothed-unigram path, which is the same semantics the model
  assigns any unseen bigram.
- SCORE is explode -> three LEFT equi-joins against the LM tables
  (broadcast by default: a few-GB vocab table beats shuffling a 100 TB
  exploded corpus; set broadcast_lm=False to let AQE pick a shuffle join
  when the LM outgrows executor memory) -> ONE doc-keyed hash agg whose
  map-side combine collapses the exploded rows back to one per document
  before the exchange.
- Floats: every term is ln of a ratio of integer counts; the per-doc mean
  is rounded to 6 decimals (the dsir_select discipline), so the DuckDB
  driver oracle reproduces values exactly despite summation-order drift.

Tokenization matches the dsir oracle token class ([a-z]+|[0-9]+|punct on
lowercased text) so one SQL CTE serves both operators' oracles.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachain_spark.operators.dedup import sliding_ngrams

TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def lm_tokens(text: Column) -> Column:
    """Lowercased word/number/punct tokens (codegen regexp_extract_all)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


@dataclass
class BigramLM:
    """A fitted stupid-backoff bigram LM. `uni`/`bi` are count DataFrames
    (columns w/c and bg/c) — persist()ed by fit; call `unpersist()` when
    done, or write them to a table for reuse across jobs."""

    uni: DataFrame  # (w: string, c: long)
    bi: DataFrame  # (bg: "prev cur" string, c: long)
    total: float  # sum of unigram counts (corpus token count)
    vocab: float  # distinct unigram count

    def unpersist(self) -> None:
        self.uni.unpersist()
        self.bi.unpersist()


def fit_bigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    cache: bool = True,
) -> BigramLM:
    """Fit unigram+bigram count tables on `ref`. One explode->hash-agg
    shuffle per order; totals are a single O(1) driver aggregate (the
    same collect both scoring branches need as plan literals)."""
    toks = lm_tokens(F.col(text_col))
    t = ref.select(toks.alias("__ts"))
    uni = (
        t.select(F.explode("__ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    k = F.size("__ts") - F.lit(1)
    empty = F.array().cast("array<string>")
    bi_arr = F.when(k >= 1, sliding_ngrams(F.col("__ts"), 2)).otherwise(empty)
    bi = (
        t.select(F.explode(bi_arr).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_count > 1:
        # prune only bigrams: unigram counts stay exact so the c(prev)
        # denominator and the backoff numerator never shift under pruning
        bi = bi.filter(F.col("c") >= min_count)
    if cache:
        uni = uni.persist()
        bi = bi.persist()
    row = uni.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")).collect()[0]
    return BigramLM(
        uni=uni, bi=bi, total=float(row["t"] or 0), vocab=float(row["v"] or 0)
    )


def lm_logprob(
    docs: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    alpha: float = 0.4,
    broadcast_lm: bool = True,
    out_col: str = "lm_logprob",
) -> DataFrame:
    """Mean per-token log-probability of each document under the LM.

    Per position i the term is
      ln(c(w_{i-1} w_i) / c(w_{i-1}))            bigram seen
      ln((c(w_i)+1) / (T+V))                     first token (no context)
      ln(alpha * (c(w_i)+1) / (T+V))             backoff (bigram unseen)
    with T = corpus tokens, V = vocabulary size — add-1-smoothed unigrams
    so OOV tokens stay finite. Documents with zero tokens carry no
    evidence and are excluded (same contract as dsir_select)."""
    if lm.total <= 0:
        raise ValueError("LM fitted on an empty corpus")
    toks = lm_tokens(F.col(text_col))
    n = F.size(toks)
    empty_s = F.array().cast("array<string>")
    # Position-ordered per-token JOIN KEYS, [w0, "w0 w1", "w1 w2", ...]:
    # element 0 is the context-free first token (never contains a space —
    # lm_tokens' classes exclude \s), the rest ARE the bigram join keys,
    # extracted in ONE codegen regex pass over the space-joined tokens
    # (the lookahead trick of dedup.sliding_ngrams). This replaces the
    # arrays_zip (prev, cur) struct array + per-row concat join key —
    # measured as the dominant increment of the scoring pass (+1.33s of
    # 2.1s at the 10x replica; full scoring 2.10s -> 1.40s, score-exact
    # on all 50k docs). Array order is identical to the old pair order,
    # so the per-doc float-sum accumulates in the same sequence. A
    # zero-token doc yields an empty array and explode drops it (same
    # contract as before).
    bigrams = F.regexp_extract_all(
        F.array_join(toks, " "), F.lit(r"(?=(\S+ \S+))\S+"), 1
    )
    keys = F.when(
        n >= 1, F.concat(F.array(F.element_at(toks, 1)), bigrams)
    ).otherwise(empty_s)

    keep = [F.col(c) for c in keep_cols]
    ex = docs.select(F.col(id_col), *keep, F.explode(keys).alias("__s")).select(
        id_col,
        *keep_cols,
        "__s",
        F.substring_index(F.col("__s"), " ", -1).alias("__c"),
    )

    # Per-row work is only hash probes + a CASE: the ln() arithmetic is
    # precomputed on the vocab-sized tables (two tiny plan-time joins/
    # projections over the cached counts), not per corpus token. Same
    # double arithmetic on the same integer counts — value-identical:
    #   bi2:  bg -> ln(c(bg)/c(prev))      (bigram branch, joined on bg)
    #   uc2:  w  -> ln((c(w)+1)/(T+V)), ln(alpha*(c(w)+1)/(T+V))
    # OOV (cur not in uni) falls to the c=0 constants, constant-folded by
    # the JVM exactly as the previous per-row expression did.
    tv = F.lit(lm.total + lm.vocab)
    maybe_b = F.broadcast if broadcast_lm else (lambda df: df)
    first_w = F.split(F.col("bg"), " ", 2)[0]
    bi2 = maybe_b(
        lm.bi.select(F.col("bg"), F.col("c").alias("__cbi"), first_w.alias("__w"))
        .join(lm.uni.select(F.col("w").alias("__w"), F.col("c").alias("__cp")), "__w")
        .select(
            "bg", F.log(F.col("__cbi").cast("double") / F.col("__cp")).alias("__lpbi")
        )
    )
    uc2 = maybe_b(
        lm.uni.select(
            F.col("w").alias("__cw"),
            F.log((F.col("c") + F.lit(1.0)) / tv).alias("__lpsm"),
            F.log(F.lit(alpha) * (F.col("c") + F.lit(1.0)) / tv).alias("__lpbk"),
        )
    )
    lp_sm0 = F.log((F.lit(0) + F.lit(1.0)) / tv)
    lp_bk0 = F.log(F.lit(alpha) * (F.lit(0) + F.lit(1.0)) / tv)

    # __s IS the bigram join key for pair rows; a first-token row has no
    # space so it can never spuriously match a bg (every bg contains one)
    j = ex.join(bi2, bi2["bg"] == F.col("__s"), "left").join(
        uc2, F.col("__cw") == F.col("__c"), "left"
    )
    term = (
        F.when(F.col("__lpbi").isNotNull(), F.col("__lpbi"))
        .when(~F.col("__s").contains(" "), F.coalesce(F.col("__lpsm"), lp_sm0))
        .otherwise(F.coalesce(F.col("__lpbk"), lp_bk0))
    )
    return j.groupBy(id_col, *keep_cols).agg(
        F.round(F.sum(term) / F.count(F.lit(1)), 6).alias(out_col)
    )


def perplexity_filter(
    docs: DataFrame,
    lm: BigramLM,
    min_logprob: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Keep documents whose mean per-token log-prob clears the floor
    (CCNet keeps the low-perplexity head/middle of the distribution).
    Joins scores back on the id (scores are 1:1 with docs)."""
    scores = lm_logprob(
        docs,
        lm,
        text_col=text_col,
        id_col=id_col,
        alpha=alpha,
        broadcast_lm=broadcast_lm,
    )
    kept = scores.filter(F.col("lm_logprob") >= min_logprob)
    # corpus-sized id set: a key-partitioned LEFT SEMI, never a broadcast
    return docs.join(kept.select(id_col), on=id_col, how="left_semi")


def ccnet_buckets(
    docs: DataFrame,
    lm: BigramLM,
    head: float = 1 / 3,
    tail: float = 2 / 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    alpha: float = 0.4,
    broadcast_lm: bool = True,
    bucket_col: str = "lm_bucket",
) -> DataFrame:
    """CCNet's actual selection rule (Wenzek et al. 2020 §4.3): rank the
    corpus by LM score and split into head/middle/tail thirds — training
    recipes then keep head(+middle). `head`/`tail` are the cumulative
    fractions of the (best-first) ranking where the buckets end.

    The cut points are two exact interpolated percentiles of the round-6
    per-doc log-probs, collected as O(1) driver metadata and compared as
    plan literals: exact cuts take one scoring pass for the percentile and
    one in the returned plan, no shuffle beyond lm_logprob's. Cross-engine determinism: doc scores are round-6
    quantized, and an interpolated percentile either equals a quantized
    value exactly (equal neighbors) or falls strictly between two of
    them, so a 1-ulp interpolation difference between engines can never
    flip a >= comparison."""
    if not 0 < head <= tail <= 1:
        raise ValueError("need 0 < head <= tail <= 1")
    scored = lm_logprob(
        docs,
        lm,
        text_col=text_col,
        id_col=id_col,
        keep_cols=keep_cols,
        alpha=alpha,
        broadcast_lm=broadcast_lm,
    )
    # best-first fractions -> logprob-axis percentiles (higher lp = better)
    fr = F.array(F.lit(1.0 - head), F.lit(1.0 - tail))
    cuts = scored.agg(F.percentile("lm_logprob", fr).alias("c")).collect()[0]["c"]
    c_head, c_tail = float(cuts[0]), float(cuts[1])
    bucket = (
        F.when(F.col("lm_logprob") >= F.lit(c_head), F.lit("head"))
        .when(F.col("lm_logprob") >= F.lit(c_tail), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.withColumn(bucket_col, bucket)
