"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — no Python in the per-row path. These extend the
reference's scalar string functions (/root/reference/src/datachain/func/
string.py) with the document-pipeline operations a 100 TB corpus needs:
token counting, quality scoring, language ID, fingerprinting.

Each operator keeps its expressions DuckDB-expressible where possible so
the driver's SQL oracle can verify it value-for-value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datachain_spark.operators import sliding_ngrams, words
from datachain_spark.operators.dedup import normalize_for_dedup

# Tiny built-in stopword lists for the n-gram/stopword language heuristic.
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"]
# a word token: a letter run, a digit run or one other non-space character.
# retrieval.tokenize_query compiles it for the query side
WORD_TOKENS = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    """Number of whitespace tokens (`operators.words`)."""
    return F.size(words(text))


def word_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: words, numbers, or single punctuation."""
    return F.regexp_extract_all(text, F.lit(WORD_TOKENS), 0)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals per document
    (the classic pre-training quality filters), all JVM-side."""
    t = F.col(text_col)
    n_tok = token_count(t)
    toks = words(F.lower(t))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return df.withColumns(
        {
            "n_chars_m": F.length(t),
            "n_tokens": n_tok,
            "avg_token_len": (F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(n_tok, F.lit(1))),
            "punct_ratio": punct / F.greatest(F.length(t), F.lit(1)),
            "distinct_stopwords": stop_hits,
        }
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language heuristic: count distinct EN vs ES stopwords
    among the document's tokens; ties/empty → 'und'."""
    toks = words(F.lower(F.col(text_col)))
    en = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    es = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ES_STOPWORDS])))
    return df.withColumn(
        out_col,
        F.when(en > es, F.lit("en")).when(es > en, F.lit("es")).otherwise(F.lit("und")),
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key. md5 (not xxhash64) so DuckDB can replicate
    it for the oracle; both are JVM builtins."""
    return df.withColumn(out_col, F.md5(normalize_for_dedup(F.col(text_col))))


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): simple character classes + \b boundaries, no backtracking
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+\d{7,15}\b", "[PHONE]"),
]


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Training-data PII scrubbing: replace emails, IPv4 addresses, and
    international phone numbers with redaction tokens — pure codegen
    regexp_replace chain, no Python. The pattern set is deliberately
    conservative (high precision); extend PII_PATTERNS for domain rules.
    The reference has no PII operator; this is training-data-pipeline
    surface the build brief requires."""
    out = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(out_col or text_col, out)


def gram_occurrences(text: Column, n: int) -> Column:
    """Word n-gram array WITH duplicates (unlike dedup.shingles, which is
    distinct) — repetition signals need occurrence counts. Documents with
    fewer than n tokens yield an empty array."""
    return sliding_ngrams(words(F.lower(text)), n)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, 'Scaling Language
    Models', appendix A1.1 — public): per document,
    - top_ngram_frac: occurrences of the MOST FREQUENT word `top_n`-gram
      divided by all `top_n`-gram occurrences (Gopher's 'top n-gram
      fraction', measured in gram occurrences rather than characters — the
      occurrence form is exactly SQL-expressible for the oracle and ranks
      documents identically for fixed n);
    - dup_ngram_frac: 1 - distinct/total `dup_n`-gram occurrences
      (Gopher's 'duplicate n-gram fraction' in the same occurrence form).
    Docs with fewer than n tokens score 0.0 (nothing repeated).

    Plan shape: ONE tagged explode (both gram sizes in a single pass) →
    groupBy(id, n, gram) count → groupBy(id, n) max/sum/count — both
    aggregations partial-combine map-side, so hot grams never skew a
    reducer with raw rows; the result is two rows per doc, pivoted to
    columns and broadcast-joined back onto the input. The reference has no
    repetition operator; this is training-data-pipeline surface."""
    t = F.col(text_col)
    tagged = df.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(F.lit(top_n).alias("n"), gram_occurrences(t, top_n).alias("gs")),
                F.struct(F.lit(dup_n).alias("n"), gram_occurrences(t, dup_n).alias("gs")),
            )
        ).alias("e"),
    ).select(id_col, F.col("e.n").alias("n"), F.explode("e.gs").alias("g"))
    per_gram = tagged.groupBy(id_col, "n", "g").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy(id_col, "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    stats = per_doc.groupBy(id_col).agg(
        F.max(F.when(F.col("n") == top_n, F.col("top_c") / F.col("total"))).alias(
            "top_ngram_frac"
        ),
        F.max(
            F.when(F.col("n") == dup_n, 1 - F.col("n_distinct") / F.col("total"))
        ).alias("dup_ngram_frac"),
    )
    out = df.join(stats, id_col, "left")
    return out.withColumns(
        {
            "top_ngram_frac": F.coalesce(F.col("top_ngram_frac"), F.lit(0.0)),
            "dup_ngram_frac": F.coalesce(F.col("dup_ngram_frac"), F.lit(0.0)),
        }
    )


# Gopher rule thresholds (Rae et al. 2021, A1.1) — word-level rules only;
# the line-level rules (bullet/ellipsis fractions) need real line structure
# and live with dedup_lines_corpus's line model instead.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality rules (word-level subset), pure whole-stage-codegen:
    word count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio ('#' or '...' occurrences per word) <= 0.1, >= 80% of words
    contain an alphabetic character, and >= 2 distinct stopwords. Emits
    each signal plus the conjunction `gopher_pass` so pipelines can both
    filter and audit which rule fired."""
    t = F.col(text_col)
    toks = words(F.lower(t))
    n_words = token_count(t)
    nw = F.greatest(n_words, F.lit(1))
    mean_wl = F.length(F.regexp_replace(t, r"\s+", "")) / nw
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipses = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = (hashes + ellipses) / nw
    alpha_frac = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / nw
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    return df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_wl,
            "symbol_word_ratio": symbol_ratio,
            "alpha_word_frac": alpha_frac,
            "stopword_hits": stop_hits,
            "gopher_pass": (
                n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
                & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
                & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
                & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
                & (stop_hits >= GOPHER_MIN_STOPWORDS)
            ),
        }
    )


def dedup_lines_corpus(
    df: DataFrame,
    lines_col: str,
    id_col: str = "doc_id",
    join_sep: str = "\n",
) -> DataFrame:
    """C4-style CORPUS-LEVEL line dedup (Raffel et al. 2020 §2.2 — public):
    every distinct line is kept exactly once across the whole corpus, at
    its first occurrence in (doc_id, position) order; later copies are
    dropped and each document's text is rebuilt from its surviving lines.
    Returns (id, text_kept, n_lines_kept, n_lines_orig).

    Plan shape: posexplode → groupBy(line-hash).agg(min(struct(id,pos)))
    — a partial-combining min-agg rather than a row_number window, so a
    viral line repeated 10^6 times collapses map-side instead of landing
    a million raw rows on one reducer — then an equi-join back on
    (hash,id,pos) and one groupBy(id) rebuild. Lines join by xxhash64
    (8-byte shuffle keys); the winner join compares id+pos too, so a hash
    collision can only drop a colliding later line, never corrupt a doc."""
    lines = df.select(
        F.col(id_col).alias("__id"), F.posexplode(F.col(lines_col)).alias("__pos", "__line")
    ).withColumn("__h", F.xxhash64("__line"))
    firsts = lines.groupBy("__h").agg(
        F.min(F.struct("__id", "__pos")).alias("__w")
    ).select("__h", F.col("__w.__id").alias("__id"), F.col("__w.__pos").alias("__pos"))
    kept = lines.join(firsts, ["__h", "__id", "__pos"])
    orig = lines.groupBy("__id").agg(F.count("*").alias("n_lines_orig"))
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            join_sep,
        ).alias("text_kept"),
        F.count("*").alias("n_lines_kept"),
    )
    # left join from orig: a doc whose EVERY line was claimed elsewhere
    # still appears, with NULL text and 0 kept lines.
    return (
        orig.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "text_kept",
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
            "n_lines_orig",
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_shared: int = 1,
    mark_only: bool = False,
) -> DataFrame:
    """Test-set decontamination: drop (or mark) corpus documents sharing
    >= `min_shared` distinct word n-gram shingles with ANY benchmark
    document — the standard 13-gram overlap rule of large-LM data
    curation. Shape: inverted-index equi-join on the shingle; the
    benchmark side (a test set — small by nature) is broadcast, so the
    corpus is never shuffled and the scan streams map-side at any corpus
    size. mark_only=True returns the corpus + (contaminated, n_shared)
    instead of filtering."""
    from datachain_spark.operators.dedup import shingles

    c = corpus.select(
        F.col(id_col).alias("__cid"), F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    b = benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("g")).distinct()
    hits = (
        c.join(F.broadcast(b), "g")
        .groupBy("__cid")
        .agg(F.count_distinct("g").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if mark_only:
        out = corpus.join(
            hits.withColumnRenamed("__cid", id_col), id_col, "left"
        )
        return out.withColumn("contaminated", F.col("n_shared").isNotNull()).withColumn(
            "n_shared", F.coalesce(F.col("n_shared"), F.lit(0))
        )
    return corpus.join(hits.withColumnRenamed("__cid", id_col), id_col, "left_anti")


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    partition_by: str | Sequence[str] | None = None,
    order_by: str | Sequence[str] = "doc_id",
) -> DataFrame:
    """Contiguous sequence packing: lay documents end-to-end in a
    deterministic order and cut fixed `budget`-token training sequences —
    the GPT-style pretraining shard layout (documents crossing a cut get
    split at tokenization time; this op computes the layout).

    Adds per-doc columns:
      seq_id  — index of the sequence the doc STARTS in
      seq_pos — token offset of the doc inside that sequence
      crosses — whether the doc spills into the next sequence

    Scale: the running sum is windowed PER partition_by GROUP (shard /
    language / source), so no global single-reducer cumsum exists; each
    group's window sorts only its own rows. Leave partition_by=None only
    for small frames."""
    parts = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*parts).orderBy(*order) if parts else Window.orderBy(*order)
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).cast("long")
    seq_id = F.floor(start / budget)
    return (
        df.withColumn("seq_id", seq_id)
        .withColumn("seq_pos", start - seq_id * budget)
        .withColumn(
            "crosses",
            F.floor((cum - 1) / budget) > seq_id,
        )
    )


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    group_by: str | Sequence[str] = "lang",
    percentiles: Sequence[float] = (0.5, 0.95),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group corpus health report — the first dashboard any
    pretraining-data run needs: document count, token mass, mean tokens,
    and token-count percentiles per group (language / source / shard).

    Scale: ONE hash-aggregate shuffle on the group key with map-side
    partial aggregation. Percentiles default to approx_percentile
    (bounded-memory quantile sketch that merges across partitions — the
    only sane choice when one group holds billions of documents);
    `exact=True` switches to Spark's exact interpolated percentile
    (buffers each group's values — validation/small-corpus mode, and the
    one DuckDB's quantile_cont can verify value-for-value)."""
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    toks = token_count(F.col(text_col))
    pcts = F.array(*[F.lit(float(p)) for p in percentiles])
    pct_agg = (
        F.percentile(toks, pcts)
        if exact
        else F.percentile_approx(toks, pcts, accuracy)
    )
    out = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.round(F.avg(toks), 6).alias("avg_tokens"),
        pct_agg.alias("_pcts"),
    )
    for i, p in enumerate(percentiles):
        name = f"p{int(round(p * 100)):02d}_tokens"
        out = out.withColumn(name, F.round(F.col("_pcts")[i], 6))
    return out.drop("_pcts")


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: token -> document-wide occurrence count, top_k
    by (count desc, token asc) — the frequency table a tokenizer/BPE
    training step starts from. Tokenization is the BPE-ish regex
    (word_tokens), exploded and hash-aggregated.

    Scale: explode -> ONE count shuffle with map-side combine (token
    cardinality ~ vocabulary size, millions not billions, so the reduce
    side is small no matter the corpus) -> TakeOrdered for the global
    top-k (never a full sort)."""
    counts = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(top_k)
