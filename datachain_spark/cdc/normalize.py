"""Text normalization of the CDC pipeline: whitespace collapse + strip.

Replaces the reference's row-at-a-time Python mappers
(/root/reference/src/datachain/lib/udf.py:435-477) with one Catalyst
expression, `normalize_text_expr`, fused into the apply's post-dedup
projection. The scalar `normalize_text` (unicode NFC + whitespace collapse
+ strip) is its specification and the tests' oracle.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import functions as F

_WS = re.compile(r"\s+")


def normalize_text(s: str | None) -> str | None:
    if s is None:
        return None
    return _WS.sub(" ", unicodedata.normalize("NFC", s)).strip()


def normalize_text_expr(col):
    r"""Whole-stage-codegen normalization: whitespace collapse + trim as a
    Catalyst expression — no Python worker in the hot path at all.

    The `(?U)` flag (java.util.regex UNICODE_CHARACTER_CLASS) makes Java's
    `\s` match unicode whitespace exactly like Python's `\s` in
    `normalize_text` (U+00A0, U+2028, ... collapse identically; every
    leading/trailing run becomes a single ASCII space, which trim then
    removes — so strip parity holds too). The ONE remaining divergence
    from `normalize_text` is unicode NFC composition, which has no
    Catalyst expression: text that is not already NFC-composed stores
    byte-different (canonically-equivalent) forms under this path.
    Measured: a pandas-UDF stage with NFC was ~40% of the CDC apply stage
    time and scaled worse across cores than codegen, so it was dropped.

    r6 fast path: the `(?U)\s+` replace was the single largest consumer of
    the CDC reduce stage (~7us/row — java.util.regex calls
    appendReplacement for EVERY single interior space, and each byte goes
    through a Unicode property test). Rows that provably need no collapse
    — pure-ASCII (length == octet_length, so no non-ASCII whitespace can
    be present) with no double space and none of the five ASCII control
    whitespace chars — take trim() alone: on such rows every whitespace
    run is a lone ' ' so the replace is the identity. Remaining ASCII rows
    use the default `\s` (identical to (?U)\s on ASCII); only non-ASCII
    rows pay the Unicode regex. Measured 3.76s -> 2.15s on a 3.9e6-row
    batch at local[8] (alternatives that lost: translate+ASCII regex 2x
    worse, explicit char-class 3.8x, RE2-via-Arrow 1.5x, rlike guards 3x —
    JVM regex scanning beats every guard except plain byte contains).

    r6 second pass: ASCII rows WITH a double space but no control
    whitespace still paid the match-dense `\s+` regex over the whole
    string (one successful match + appendReplacement per single interior
    space) to collapse what is usually one short run of plain spaces. Two
    graded branches replace it, both exact on their guarded domain where
    ' ' is the only whitespace char present:
    - no triple space -> every space run has length exactly 2, so the
      non-overlapping literal replace('  ' -> ' ') IS the collapse (a
      codegen UTF8String.replace, no regex engine at all);
    - else -> regexp_replace('  +') — the two-space literal prefix makes
      the engine's Boyer-Moore scan skip over single spaces instead of
      matching at each one, and replacements fire once per run.
    Measured (same 3.9e6-row batch chain, interleaved): 3.94s -> 3.13s."""
    is_ascii = F.length(col) == F.octet_length(col)
    has_ctrl = (
        col.contains("\t")
        | col.contains("\n")
        | col.contains("\r")
        | col.contains("\f")
        | col.contains("\x0b")
    )
    needs_collapse = col.contains("  ") | has_ctrl
    return (
        F.when(is_ascii & ~needs_collapse, F.trim(col))
        .when(
            is_ascii & ~has_ctrl & ~col.contains("   "),
            F.trim(F.replace(col, F.lit("  "), F.lit(" "))),
        )
        .when(is_ascii & ~has_ctrl, F.trim(F.regexp_replace(col, r"  +", " ")))
        .when(is_ascii, F.trim(F.regexp_replace(col, r"\s+", " ")))
        .otherwise(F.trim(F.regexp_replace(col, r"(?U)\s+", " ")))
    )
