"""Curation operators over Spark DataFrames.

This module owns the two shared tokenization rules: `words` (a token is a
maximal run of non-whitespace characters) and `sliding_ngrams` (the one
lookahead n-gram extractor over such tokens). No other operator splits a
text column on whitespace or writes a lookahead n-gram pattern."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a whitespace word: never empty, never holds whitespace. Java's `\s` is
# ASCII ([ \t\n\x0B\f\r]); Python callers compile it with re.ASCII to match
WORDS = r"\S+"


def hash60(s: Column) -> Column:
    """The one hash of the sketching operators (minhash, simhash,
    winnowing, hyperplane LSH, k-means seeding, sampling buckets): the
    first 15 hex digits of md5(s) as a non-negative 60-bit long. md5 is
    identical in every engine, so the DuckDB oracles recompute it as
    ``_MD5I`` = ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`` and
    match every signature, plane and bucket value for value. Callers format
    their input (``cast("string")``, ``format_string("%d", ...)``) the way
    the oracle's SQL does."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def words(text: Column) -> Column:
    """The whitespace tokens of `text`, in order: every maximal run of
    non-whitespace characters, so empty or all-whitespace text has none and
    an edge tab or newline adds none. Callers lowercase first where case
    must not count. The DuckDB oracles' form is ``_WORDS``,
    ``regexp_extract_all(x, '\\S+')``."""
    return F.regexp_extract_all(text, F.lit(WORDS), 0)


def sliding_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, in order; n == 1 is the
    tokens themselves. ONE codegen regex pass over the space-joined token
    string: the lookahead captures each overlapping n-token window while
    consuming a single token per match, so a document of size >= n yields
    exactly its size-n+1 n-grams and a shorter one yields [] (no guard
    needed). PRECONDITION: tokens are non-empty and whitespace-free, which
    makes ``array_join(toks, ' ')`` a reversible encoding. `words` and
    `text.word_tokens` are the only token sources in this package, and
    both guarantee it by construction.

    This replaces a chain of n zip_with over shifted slices: higher-order
    functions are CodegenFallback, so the chain ran its concat lambda
    through interpreted expression trees per element and allocated n
    intermediate arrays per row. Corpus-wide exact array equality was
    verified for n in {2,3,5,13,50} before adopting; the n-gram-heavy
    queries sped up where shingling dominates (minhash 0.62s -> 0.46s at
    the 10x profile replica) and none regressed. (NEVER capture `toks`
    inside a transform lambda: an outer expression captured in a
    higher-order-function lambda is re-evaluated PER ELEMENT, measured
    6.7x slower.)"""
    if n == 1:
        return toks
    pat = r"(?=((?:\S+ ){%d}\S+))\S+" % (n - 1)
    return F.regexp_extract_all(F.array_join(toks, " "), F.lit(pat), 1)
