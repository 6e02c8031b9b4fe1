"""Distributed lexical retrieval: inverted index + BM25 top-k search.

The reference has no retrieval operator (its similarity surface is vector
cosine/euclidean, /root/reference/src/datachain/func/array.py:15-90); this
is training-data-pipeline surface the build brief requires — corpus-scale
keyword search complements the ANN operators in operators/similarity.py
(find documents BY TERM at curation time: audit near-dup clusters, pull
contamination candidates, build eval slices).

Shape (all JVM codegen, zero per-row Python):
- build_text_index: ONE explode + hash-aggregate shuffle with map-side
  combine -> postings (term, doc_id, tf, dl). At 100 TB this is the one
  heavy job, run once and saved (save_text_index range-partitions by term
  and sorts within partitions, so parquet min/max stats prune query-time
  scans to the query's terms).
- bm25_topk / bm25_search: query-time cost is O(postings of the query's
  terms), never O(corpus): the term filter is pushed into the scan,
  per-term document frequencies are an aggregate over those postings
  only, the O(|query|) idf table is broadcast back onto them, and the
  final per-doc sum + TakeOrderedAndProject never full-sorts.

Scoring is textbook BM25 (Robertson/Sparck Jones idf in Lucene's
non-negative ln(1 + (N-df+0.5)/(df+0.5)) form). Repeated query terms
count once (standard bag-of-distinct-terms query model). All arithmetic
is plain double ops that DuckDB reproduces bit-for-bit, so the driver
oracle verifies scores value-for-value (rounded to 6 before the top-k
tie-break on doc id, making the result set order-deterministic in both
engines).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datachain_spark.operators.text import WORD_TOKENS, word_tokens


def tokenize_query(query: str) -> list[str]:
    """Query-side tokenization, identical to the document side (lowered
    word_tokens regex; re.ASCII gives `\\s` Java's ASCII meaning),
    distinct terms in first-seen order."""
    return list(dict.fromkeys(re.findall(WORD_TOKENS, query.lower(), re.ASCII)))


def build_text_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inverted index postings: (term, doc_id, tf, dl). dl is the
    document's total token count (the BM25 length normalizer), constant
    per doc so it rides the aggregation key for free. ONE shuffle with
    map-side combine; term cardinality is vocabulary-sized, so the reduce
    side never skews on corpus size."""
    toks = word_tokens(F.lower(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .withColumn("dl", F.size("_toks"))
        .select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def save_text_index(postings: DataFrame, path: str, num_partitions: int | None = None) -> None:
    """Persist the index laid out for query-time pruning: range-partitioned
    and sorted by term, so every parquet row group's min/max term stats are
    tight and a `term IN (...)` search scan skips all but the query's row
    groups. (partitionBy(term) would mint one directory per vocabulary
    entry — millions of dirs — so range partitioning + footer stats is the
    scalable layout.)"""
    out = postings
    if num_partitions:
        out = out.repartitionByRange(num_partitions, "term")
    else:
        out = out.repartitionByRange("term")
    out.sortWithinPartitions("term").write.mode("overwrite").parquet(path)


def load_text_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def corpus_norms(df: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) — two scalars from one partially-aggregated pass
    (bounded driver metadata, like the k-means centroids)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(word_tokens(F.lower(F.col(text_col))))).alias("avgdl"),
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"])


def _bm25_terms(n_docs: int, avgdl: float, k1: float, b: float) -> tuple[Column, Column]:
    """BM25's two factors over a term's `df` and a posting's `tf` and `dl`
    columns: idf = ln(1 + (N - df + 0.5) / (df + 0.5)) and the saturated,
    length-normalized tf = tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl))."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    tfn = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    return idf, tfn


def bm25_search(
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score the query against a postings index -> top-k (doc_id, score,
    n_terms) by (score desc, doc_id asc). Touches only the query terms'
    postings: filter (pushed into the scan on a saved index) -> per-term
    df aggregate (O(|q|) rows) broadcast back -> per-doc sum ->
    TakeOrderedAndProject."""
    terms = tokenize_query(query)
    if not terms:
        raise ValueError("query has no tokens")
    hits = postings.filter(F.col("term").isin(terms))
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf, tfn = _bm25_terms(n_docs, avgdl, k1, b)
    scored = (
        hits.join(F.broadcast(dfreq.withColumn("_idf", idf).select("term", "_idf")), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("_idf") * tfn), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Convenience one-shot: norms + pruned postings + search over a
    DataFrame. For repeated queries build the index once with
    build_text_index / save_text_index and call bm25_search.

    Unlike the saved-index path this one KNOWS the query terms before the
    index exists, so it builds postings for the query's terms only: the
    token array is pruned to query terms before the explode (dl is still
    the full token count), which shrinks the explode from corpus-token to
    matching-token cardinality and the aggregate to O(matching docs).
    Per-term df comes from a window over the pruned postings — one tiny
    extra exchange instead of a second full tokenize/explode/aggregate
    subtree (bm25_search's dfreq re-aggregation re-evaluates its input
    subtree; on a saved index that is a pruned scan, but inline it would
    re-tokenize the whole corpus — measured 2x this plan at 10x sf0.1).
    Same tf/dl/df/idf integers and the same round-6 scoring arithmetic,
    so results are value-identical to bm25_search over full postings."""
    from pyspark.sql import Window

    n_docs, avgdl = corpus_norms(df, text_col)
    terms = tokenize_query(query)
    if not terms:
        raise ValueError("query has no tokens")
    toks = word_tokens(F.lower(F.col(text_col)))
    hits = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .withColumn("dl", F.size("_toks"))
        .select(
            "doc_id",
            "dl",
            F.explode(F.filter(F.col("_toks"), lambda t: t.isin(*terms))).alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf, tfn = _bm25_terms(n_docs, avgdl, k1, b)
    scored = (
        hits.withColumn("df", dfreq)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * tfn), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    k_rrf: float = 60.0,
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): fuse candidate lists
    by sum(1 / (k_rrf + rank)); absent-from-a-list contributes nothing.
    Inputs are top-N candidate lists (driver-bounded, a few hundred rows),
    so the union + hash-agg here is metadata-cheap — the corpus-scale work
    lives in the upstream searches. Deterministic output: the fused score
    rounds to 6 (plain double ops both engines reproduce) before the
    (score desc, id asc) tie-break."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))).alias(
                "__c"
            ),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(id_col).agg(
        F.round(F.sum("__c"), 6).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 100,
    k_rrf: float = 60.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 top-N and brute-force
    cosine top-N fused with RRF — the standard production recipe (e.g.
    OpenSearch/Elastic hybrid mode) for curation-time search where neither
    keywords nor embeddings alone suffice.

    Scale shape: the BM25 side touches only the query terms' postings;
    the cosine side is one scan + TakeOrderedAndProject with the O(dim)
    query vector as plan literals (swap in lsh_topk/ivf_topk from
    operators/similarity.py for sub-scan latency); fusion joins two
    driver-bounded top-N lists. BM25 ranks on the round-6 score
    (cross-engine deterministic); cosine ranks on the raw sim with id
    tie-break (the ann_cosine_topk precedent). Output keeps the component
    ranks (NULL = absent from that list) for debuggability."""
    from pyspark.sql import Window

    from datachain_spark.operators.similarity import cosine_similarity

    bm = bm25_topk(docs, query_text, k=n_candidates, text_col=text_col, id_col=id_col)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    bm_rk = bm.select(F.col(id_col), F.row_number().over(w).alias("bm25_rk"))

    qv = F.lit(np.asarray(query_vec, np.float64))
    sims = emb.select(
        F.col(vec_id_col).alias(id_col),
        cosine_similarity(F.transform(vec_col, lambda x: x.cast("double")), qv).alias(
            "sim"
        ),
    )
    if exclude_vec_id is not None:
        sims = sims.filter(F.col(id_col) != exclude_vec_id)
    cand = sims.orderBy(F.desc("sim"), F.asc(id_col)).limit(n_candidates)
    wc = Window.orderBy(F.desc("sim"), F.asc(id_col))
    cos_rk = cand.select(F.col(id_col), F.row_number().over(wc).alias("cos_rk"))

    # Two-list RRF as ONE full-outer join of the candidate lists. The
    # union+groupBy rrf_fuse form referenced each ranking twice (once in
    # the fusion, once in the rank-attach join), and Spark re-executes a
    # referenced subtree per use — the whole BM25 tokenize/aggregate and
    # the cosine scan each ran TWICE per execution (measured 2x this plan
    # at 10x sf0.1). With exactly two lists the fused score is a sum of
    # two addends, and IEEE addition of two terms is commutative, so
    # coalesce(bm,0)+coalesce(cos,0) is bit-identical to rrf_fuse's
    # union-order sum; n_lists is the non-null count. Each subtree is
    # referenced exactly once.
    contrib = lambda rk: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rk).cast("double")), F.lit(0.0)
    )
    j = bm_rk.join(cos_rk, id_col, "full")
    fused = j.select(
        F.col(id_col),
        F.round(contrib("bm25_rk") + contrib("cos_rk"), 6).alias("rrf_score"),
        (
            F.col("bm25_rk").isNotNull().cast("long")
            + F.col("cos_rk").isNotNull().cast("long")
        ).alias("n_lists"),
        "bm25_rk",
        "cos_rk",
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)
