"""Transcript → training-example rendering (SFT data prep).

Turns a row-per-turn conversation table — the engine's native payload,
(conv_id, turn_idx, role, text, ...) — into one row per conversation:
role-tagged rendered text plus the character spans of the turns a
supervised-fine-tuning loss should cover (the standard "mask everything
except the assistant turns" recipe; see e.g. the public HuggingFace TRL /
chat-template docs). The reference has no rendering surface (its
transcripts analog stops at row-wise ETL); this is the stage between the
CDC-maintained transcripts table and a tokenized training set.

Plan shape: ONE groupBy(conv_id) shuffle collects each conversation's own
turns (the same per-group state bound the CDC bucket layout and
sequence_fingerprint already assume — a conversation fits in memory), then
everything else is whole-stage-codegen array expressions: sort_array for
stable turn order, a SINGLE O(n) aggregate fold for offsets + spans.
Zero Python, zero extra shuffles, and offsets are BIGINT so a pathological
mega-conversation cannot overflow.

Expression-evaluation discipline (two distinct traps, both measured):
1. An expression captured INSIDE a higher-order-function lambda
   re-evaluates per element (see operators.sliding_ngrams) — pass arrays as
   HOF *arguments*, which evaluate once per row.
2. withColumn is NOT an evaluation barrier: Catalyst collapses adjacent
   projections, so an intermediate array column referenced from a later
   lambda gets INLINED back and re-evaluated per element anyway. A
   first-cut renderer here built `starts` as an O(n^2) prefix-sum column
   and indexed it from the spans lambda — after projection collapse that
   was O(n^3+) re-rendering work and measured ~5s for 40 conversations
   at sf0.1. The single fold below references only the aggregation
   output (`turns`, a real Aggregate attribute that cannot inline) and
   runs in 0.6s on the same input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "render_conversations",
    "conversation_stats",
    "expand_sft_examples",
    "truncate_to_budget",
    "echo_overlap",
]


def render_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    mask_roles: Sequence[str] = ("assistant",),
    sep: str = "\n",
) -> DataFrame:
    """One row per conversation: (conv_col, n_turns, text, loss_spans).

    Each turn renders as ``<|role|>text`` and turns join on `sep`, in
    `order_col` order. `loss_spans` is array<struct<s,e>> of 0-based
    half-open [s, e) character offsets into the rendered text covering the
    TEXT content (not the role tag) of every turn whose role is in
    `mask_roles` — empty array when a conversation has none. NULL turn
    text renders as '' (its span is empty but positionally correct)."""
    if not sep:
        raise ValueError("sep must be non-empty (offsets assume it)")
    turn = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("role"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    g = df.groupBy(conv_col).agg(
        # sort_array orders struct elements by field order: (o, role, text)
        # — o is the (conv, turn) key so order is total and deterministic
        F.sort_array(F.collect_list(turn)).alias("turns")
    )
    pieces = F.transform(
        F.col("turns"),
        lambda t: F.concat(F.lit("<|"), t["role"], F.lit("|>"), t["text"]),
    )
    # offsets + spans in ONE O(n) fold directly over the `turns` column
    # (an HOF argument evaluates once per row; `turns` is an Aggregate
    # output attribute, so projection collapse cannot inline anything
    # expensive into the lambda — see module docstring)
    sep_len = F.lit(len(sep)).cast("long")
    empty_spans = F.array().cast("array<struct<s:bigint,e:bigint>>")
    init = F.struct(
        F.lit(0).cast("long").alias("off"), empty_spans.alias("spans")
    )

    def step(acc, t):
        tag = (F.length(t["role"]) + F.lit(4)).cast("long")
        plen = tag + F.length(t["text"]).cast("long")
        span = F.struct(
            (acc["off"] + tag).alias("s"), (acc["off"] + plen).alias("e")
        )
        if mask_roles:
            spans = (
                F.when(
                    t["role"].isin(*mask_roles), F.concat(acc["spans"], F.array(span))
                )
                .otherwise(acc["spans"])
                .alias("spans")
            )
        else:
            spans = acc["spans"].alias("spans")
        return F.struct((acc["off"] + plen + sep_len).alias("off"), spans)

    masked = F.aggregate(F.col("turns"), init, step, lambda acc: acc["spans"])
    return g.select(
        F.col(conv_col),
        F.size(F.col("turns")).alias("n_turns"),
        F.array_join(pieces, sep).alias("text"),
        masked.alias("loss_spans"),
    )


def conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation structural quality signals — the transcript-native
    analog of the document quality filters (operators/text.py): SFT
    curation drops conversations that don't alternate roles, have empty
    turns, or are degenerate single-turn stubs. One row per conversation:

    - n_turns, distinct_roles
    - starts_role: the first turn's role (recipes require 'user'-first)
    - role_alternates: no two CONSECUTIVE turns share a role (vacuously
      true for a single turn)
    - empty_turn_frac: fraction of turns whose text is NULL/whitespace
    - mean_turn_chars: mean text length, round-6 (cross-engine stable)

    Same plan as render_conversations: ONE groupBy(conv) shuffle, then
    whole-stage-codegen array expressions; consecutive-role comparison is
    zip_with over shifted slices (never a lambda-captured computed array —
    see operators.sliding_ngrams)."""
    turn = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("role"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    g = df.groupBy(conv_col).agg(F.sort_array(F.collect_list(turn)).alias("turns"))
    g = g.withColumn("roles", F.transform(F.col("turns"), lambda t: t["role"]))
    g = g.withColumn(
        "tlens",
        F.transform(F.col("turns"), lambda t: F.length(t["text"]).cast("long")),
    )
    n = F.size(F.col("turns"))
    k = n - 1
    same_adjacent = F.size(
        F.filter(
            F.zip_with(
                F.slice(F.col("roles"), 1, k),
                F.slice(F.col("roles"), 2, k),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    empty_turns = F.size(
        F.filter(F.col("turns"), lambda t: F.trim(t["text"]) == F.lit(""))
    )
    total_chars = F.aggregate(
        F.col("tlens"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return g.select(
        F.col(conv_col),
        n.alias("n_turns"),
        F.size(F.array_distinct(F.col("roles"))).alias("distinct_roles"),
        F.element_at(F.col("roles"), 1).alias("starts_role"),
        # slice(_, 1, 0) is an empty array, so single-turn convs pass
        (F.when(n >= 2, same_adjacent).otherwise(F.lit(0)) == 0).alias(
            "role_alternates"
        ),
        F.round(empty_turns / n, 6).alias("empty_turn_frac"),
        F.round(total_chars / n, 6).alias("mean_turn_chars"),
    )


def expand_sft_examples(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    target_roles: Sequence[str] = ("assistant",),
    sep: str = "\n",
) -> DataFrame:
    """Per-turn training-example expansion: every turn whose role is in
    `target_roles` becomes one (context, target) example — context = all
    PRECEDING turns rendered `<|role|>text` joined on `sep` (plus the
    target turn's opening tag, the generation prompt), target = that
    turn's text. The other standard SFT shape next to
    render_conversations' whole-conversation + loss-spans form: a
    K-assistant-turn conversation yields K examples.

    Plan: the same ONE groupBy(conv) shuffle, then codegen slices of the
    materialized pieces array and ONE posexplode over the target indices —
    output rows ∝ target turns, never turns², and no second shuffle."""
    if not target_roles:
        raise ValueError("target_roles must be non-empty")
    turn = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("role"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    g = df.groupBy(conv_col).agg(F.sort_array(F.collect_list(turn)).alias("turns"))
    g = g.withColumn(
        "pieces",
        F.transform(
            F.col("turns"),
            lambda t: F.concat(F.lit("<|"), t["role"], F.lit("|>"), t["text"]),
        ),
    )
    tidx = F.filter(
        F.sequence(F.lit(1), F.size(F.col("turns"))),
        lambda i: F.element_at(F.col("turns"), i)["role"].isin(*target_roles),
    )
    g = g.select(
        F.col(conv_col),
        F.col("turns"),
        F.col("pieces"),
        F.posexplode(tidx).alias("ex", "i"),
    )
    t_i = F.element_at(F.col("turns"), F.col("i"))
    prompt_tag = F.concat(F.lit("<|"), t_i["role"], F.lit("|>"))
    context_prev = F.array_join(
        F.slice(F.col("pieces"), 1, F.col("i") - 1), sep
    )
    context = F.when(F.col("i") == 1, prompt_tag).otherwise(
        F.concat(context_prev, F.lit(sep), prompt_tag)
    )
    return g.select(
        F.col(conv_col),
        (F.col("ex") + 1).cast("int").alias("example_idx"),
        t_i["o"].alias(order_col),
        context.alias("context"),
        t_i["text"].alias("target"),
    )


def truncate_to_budget(
    df: DataFrame,
    max_tokens: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Context-window truncation: keep, per conversation, the longest
    SUFFIX of turns whose total token count fits `max_tokens` — the
    standard "drop oldest context first" recipe; the LAST turn always
    survives even if it alone exceeds the budget (a training example
    needs its target). Token counts default to whitespace tokens of
    `text_col` (operators/text.token_count); pass `tokens_col` to use
    precomputed counts (e.g. real tokenizer lengths from bpe_encode).

    Stays row-per-turn shaped so it composes with render_conversations /
    expand_sft_examples downstream. Plan: ONE window shuffle on conv —
    running suffix sum over turns in reverse order, then a codegen filter;
    no collect, no per-group arrays, so a pathological mega-conversation
    never materializes in one task's memory (unlike the render path, this
    is safe for unbounded conversations)."""
    from pyspark.sql import Window

    from datachain_spark.operators.text import token_count

    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    toks = (
        F.col(tokens_col)
        if tokens_col
        else token_count(F.coalesce(F.col(text_col), F.lit("")))
    ).cast("long")
    w = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suffix = F.sum(toks).over(w)
    is_last = F.row_number().over(
        Window.partitionBy(conv_col).orderBy(F.col(order_col).desc())
    ) == 1
    return (
        df.withColumn("__sfx", suffix)
        .withColumn("__last", is_last)
        .filter((F.col("__sfx") <= max_tokens) | F.col("__last"))
        .drop("__sfx", "__last")
    )


def echo_overlap(
    df: DataFrame,
    context_col: str = "context",
    target_col: str = "target",
    n: int = 3,
    out_col: str = "echo_frac",
) -> DataFrame:
    """Echo/regurgitation scoring for SFT pairs: the fraction of the
    target's distinct word n-grams that already appear in the context —
    echo_frac 1.0 means the response is assembled entirely from context
    n-grams (the classic copy/regurgitation failure SFT curation filters
    out; targets shorter than n words score 0.0, nothing to copy).

    Pure whole-stage codegen, ZERO shuffles: two shingle builds
    (dedup.shingles — one regex pass each, no lambda-captured tokenization)
    and one array_intersect per row. Composes directly after
    expand_sft_examples; round-6 so the fraction is cross-engine exact."""
    from datachain_spark.operators.dedup import shingles

    if n < 1:
        raise ValueError("n must be >= 1")
    tgt = shingles(F.col(target_col), n=n)
    ctx = shingles(F.col(context_col), n=n)
    frac = F.when(
        F.size(tgt) > 0,
        F.round(F.size(F.array_intersect(tgt, ctx)) / F.size(tgt), 6),
    ).otherwise(F.lit(0.0))
    return df.withColumn(out_col, frac)
