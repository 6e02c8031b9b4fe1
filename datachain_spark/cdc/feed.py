"""Deterministic synthetic CDC feed over conversation transcripts.

Implements FIXTURES.md §2: a binlog/WAL-style change stream of I/U/D events
keyed (conv_id, turn_idx), with hot-conversation skew, in-batch duplicate
updates (exercising last-writer-wins), deletes + re-inserts, a mid-stream
schema-evolution point (the `tool` column appears), and 1%-style duplicate
delivery of events into the *next* batch (exercising exactly-once).

Determinism strategy — every field is a pure arithmetic function of
(conversation index, turn index, revision):
- no RNG state, no global ranks, no row_number over a single partition;
  the Spark generator and the pure-Python spec generator produce identical
  rows at any parallelism, and generation is scale-free (10^10 events would
  shard over spark.range exactly like 10^4 do).
- LSNs are *sparse*: phase-1 insert LSNs come from an affine bijection on
  [0, D) (odd multiplier => invertible mod 2^k), which "shuffles" insert
  order by key without ever sorting; update/delete LSNs live in disjoint
  higher ranges so replay order = lsn order = phase order.

The reference's analog is its diff-status model A/M/D
(/root/reference/src/datachain/diff/__init__.py:20-25) and the delta tests'
golden-value generation style (/root/reference/tests/func/test_delta.py).
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---- feed constants (pure-arithmetic knobs shared by Spark + Python) ----
MAX_TURNS_POW = 12  # ki = ci * 4096 + turn_idx (turns < 4096)
LSN_MULT = 48271  # coprime to any prime modulus; products stay < 2^62
H_MOD = 1_000_000_007
ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["bash", "search", ""]
TS0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
DUP_MOD = 101  # events with lsn % 101 == 0 are re-delivered in the next batch


# lsn_domain reads this for every generated event; feeds use few sizes
@functools.lru_cache(maxsize=64)
def _next_prime(n: int) -> int:
    def is_prime(x: int) -> bool:
        if x < 2:
            return False
        i = 2
        while i * i <= x:
            if x % i == 0:
                return False
            i += 1
        return True

    while not is_prime(n):
        n += 1
    return n


@dataclass(frozen=True)
class FeedSpec:
    """Parameters of one deterministic feed instance."""

    n_convs: int = 200
    hot_every: int = 1000  # conversation i is "hot" iff i % hot_every == 0
    hot_base: int = 2000  # hot convs have hot_base + (i % 17) * 100 turns
    batch_size: int = 1000  # target events per microbatch
    # token-repeat multiplier: 1 => FIXTURES.md §1 text exactly; bench specs
    # raise it so per-turn text approaches realistic transcript sizes
    # (hundreds of bytes) and the pipeline is compute- not overhead-bound
    text_scale: int = 1

    @property
    def lsn_domain(self) -> int:
        """Prime modulus P sized to the key space: the phase-1 lsn of key
        ki is (ki * LSN_MULT) % P — a multiplicative permutation that wraps
        many times over [0, P), so insert lsns equidistribute ("shuffled by
        hash" order) at ANY feed size; a fixed power-of-two domain would
        leave small feeds clustered at the bottom (no wraparound)."""
        return _next_prime(self.n_convs << MAX_TURNS_POW)

    @property
    def p2_base(self) -> int:
        return self.lsn_domain  # updates: [P, 17P)

    @property
    def p3_base(self) -> int:
        return 17 * self.lsn_domain  # deletes/re-inserts: [17P, 33P)

    @property
    def tool_lsn(self) -> int:
        """Schema-evolution point (~mid phase 2): events at lsn >= this
        carry the `tool` column (event schema v2)."""
        return 9 * self.lsn_domain

    def turns(self, ci: int) -> int:
        if ci % self.hot_every == 0:
            return self.hot_base + (ci % 17) * 100
        return 4 + (ci % 13)

    def total_keys(self) -> int:
        n = self.n_convs
        total = 0
        for ci in range(0, n, self.hot_every):  # hot convs: n/hot_every iterations
            total += self.hot_base + (ci % 17) * 100 - (4 + (ci % 13))
        # base sum of 4 + (i % 13) over i < n
        full, r = divmod(n, 13)
        total += 4 * n + full * 78 + r * (r - 1) // 2
        return total

    # batch layout: contiguous lsn spans per phase, sized so that the
    # *expected* events per batch ~= batch_size (sparse lsns are
    # equidistributed within each phase's span).
    def spans(self) -> tuple[int, int, int, int, int]:
        k = self.total_keys()
        p = self.lsn_domain
        nb1 = max(1, -(-k // self.batch_size))
        nb2 = max(1, -(-(2 * k) // (5 * self.batch_size)))  # ~0.4k updates
        nb3 = max(1, -(-k // (10 * self.batch_size)))  # ~0.1k deletes
        span1 = -(-p // nb1)
        span2 = -(-(16 * p) // nb2)
        span3 = -(-(16 * p) // nb3)
        return nb1, nb2, span1, span2, span3

    def n_batches(self) -> int:
        nb1, nb2, s1, s2, s3 = self.spans()
        nb3 = -(-(16 * self.lsn_domain) // s3)
        # +1: duplicate delivery can spill into one extra trailing batch
        return nb1 + nb2 + nb3 + 1


def _h(ci: int, t: int) -> int:
    return (ci * 1000003 + t * 7919) % H_MOD


def _lsn1(spec: FeedSpec, ki: int) -> int:
    return (ki * LSN_MULT) % spec.lsn_domain


def _batch_of(spec: FeedSpec, lsn: int) -> int:
    nb1, nb2, s1, s2, s3 = spec.spans()
    if lsn < spec.p2_base:
        return lsn // s1
    if lsn < spec.p3_base:
        return nb1 + (lsn - spec.p2_base) // s2
    return nb1 + nb2 + (lsn - spec.p3_base) // s3


# --------------------------------------------------------------------------
# Pure-Python spec generator (the executable specification + test oracle)
# --------------------------------------------------------------------------
def gen_events_py(spec: FeedSpec) -> list[dict]:
    """All events as dicts, replay order = lsn ascending (ties: original
    before duplicate — duplicates land in a later batch anyway)."""
    events: list[dict] = []

    def emit(lsn, op, ci, t, text, rev):
        conv_id = f"conv-{ci:08d}"
        h = _h(ci, t)
        row = {
            "lsn": lsn,
            "batch_id": _batch_of(spec, lsn),
            "op": op,
            "conv_id": conv_id,
            "turn_idx": t,
            "role": None if op == "D" else ROLES[t % 4],
            "text": None if op == "D" else text,
            "ts": TS0 + timedelta(milliseconds=lsn),
            "tool": (TOOLS[h % 3] if (lsn >= spec.tool_lsn and op != "D") else None),
        }
        events.append(row)
        if lsn % DUP_MOD == 0:  # duplicate delivery into the next batch
            dup = dict(row)
            dup["batch_id"] = row["batch_id"] + 1
            events.append(dup)

    for ci in range(spec.n_convs):
        for t in range(spec.turns(ci)):
            ki = (ci << MAX_TURNS_POW) + t
            h = _h(ci, t)
            base_text = f"turn {t} of conv-{ci:08d}: " + ("tok " * ((t % 7) * spec.text_scale))
            emit(_lsn1(spec, ki), "I", ci, t, base_text, 0)
            if h % 5 == 0:  # phase 2: 1-3 revisions
                for k in range(1, 2 + h % 3):
                    emit(
                        spec.p2_base + ki * 16 + (k - 1), "U", ci, t, f"{base_text} (rev {k})", k
                    )
            if h % 23 == 0:  # phase 3: delete (+ maybe re-insert)
                emit(spec.p3_base + ki * 16, "D", ci, t, None, 0)
                if h % 46 == 0:
                    emit(spec.p3_base + ki * 16 + 1, "I", ci, t, f"{base_text} (reborn)", 0)

    events.sort(key=lambda e: (e["batch_id"], e["lsn"]))
    return events


# --------------------------------------------------------------------------
# Spark generator — identical rows, distributed, no global sorts
# --------------------------------------------------------------------------
def gen_events_df(spark: SparkSession, spec: FeedSpec) -> DataFrame:
    """Distributed feed generation from spark.range — every event row is a
    pure function of (ci, turn_idx, rev), so output is identical at any
    parallelism (the two-cluster-size scaling requirement holds by
    construction for generation too)."""
    nb1, nb2, s1, s2, s3 = spec.spans()
    p, p2, p3 = spec.lsn_domain, spec.p2_base, spec.p3_base

    convs = spark.range(spec.n_convs).withColumnRenamed("id", "ci")
    turns = F.when(
        F.col("ci") % spec.hot_every == 0,
        F.lit(spec.hot_base) + (F.col("ci") % 17) * 100,
    ).otherwise(F.lit(4) + F.col("ci") % 13)
    keys = (
        convs.withColumn("n_turns", turns)
        .select("ci", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("t"))
        # hot conversations explode to thousands of rows in one input
        # partition — redistribute before the heavy unions/writes
        .repartition("ci", "t")
        .withColumn("ki", F.shiftleft(F.col("ci"), MAX_TURNS_POW) + F.col("t"))
        .withColumn("h", (F.col("ci") * 1000003 + F.col("t") * 7919) % H_MOD)
        .withColumn("conv_id", F.format_string("conv-%08d", F.col("ci")))
        .withColumn(
            "base_text",
            F.concat(
                F.format_string("turn %d of conv-%08d: ", F.col("t"), F.col("ci")),
                F.repeat(F.lit("tok "), ((F.col("t") % 7) * spec.text_scale).cast("int")),
            ),
        )
    )

    inserts = keys.select(
        ((F.col("ki") * LSN_MULT) % p).alias("lsn"),
        F.lit("I").alias("op"),
        "conv_id",
        F.col("t").alias("turn_idx"),
        "h",
        F.col("base_text").alias("text"),
    )

    updates = (
        keys.filter(F.col("h") % 5 == 0)
        .select("*", F.explode(F.sequence(F.lit(1), (F.lit(1) + F.col("h") % 3).cast("int"))).alias("k"))
        .select(
            (F.lit(p2) + F.col("ki") * 16 + (F.col("k") - 1)).alias("lsn"),
            F.lit("U").alias("op"),
            "conv_id",
            F.col("t").alias("turn_idx"),
            "h",
            F.concat(F.col("base_text"), F.format_string(" (rev %d)", F.col("k"))).alias("text"),
        )
    )

    dels = keys.filter(F.col("h") % 23 == 0).select(
        (F.lit(p3) + F.col("ki") * 16).alias("lsn"),
        F.lit("D").alias("op"),
        "conv_id",
        F.col("t").alias("turn_idx"),
        "h",
        F.lit(None).cast("string").alias("text"),
    )

    reborn = keys.filter(F.col("h") % 46 == 0).select(
        (F.lit(p3) + F.col("ki") * 16 + 1).alias("lsn"),
        F.lit("I").alias("op"),
        "conv_id",
        F.col("t").alias("turn_idx"),
        "h",
        F.concat(F.col("base_text"), F.lit(" (reborn)")).alias("text"),
    )

    ev = inserts.unionByName(updates).unionByName(dels).unionByName(reborn)
    batch = (
        F.when(F.col("lsn") < p2, F.expr(f"lsn div {s1}"))
        .when(F.col("lsn") < p3, F.lit(nb1) + F.expr(f"(lsn - {p2}) div {s2}"))
        .otherwise(F.lit(nb1 + nb2) + F.expr(f"(lsn - {p3}) div {s3}"))
    )
    ev = ev.select(
        "lsn",
        batch.alias("batch_id"),
        "op",
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.col("op") == "D", F.lit(None).cast("string"))
        .otherwise(
            F.element_at(F.array(*[F.lit(r) for r in ROLES]), ((F.col("turn_idx") % 4) + 1).cast("int"))
        )
        .alias("role"),
        "text",
        F.timestamp_millis(F.lit(int(TS0.timestamp() * 1000)) + F.col("lsn")).alias("ts"),
        F.when(
            (F.col("lsn") >= spec.tool_lsn) & (F.col("op") != "D"),
            F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (F.col("h") % 3 + 1).cast("int")),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
    )
    dups = ev.filter(F.col("lsn") % DUP_MOD == 0).withColumn(
        "batch_id", F.col("batch_id") + 1
    )
    return ev.unionByName(dups)


def write_feed(
    spark: SparkSession, spec: FeedSpec, out_dir: str, files_per_batch: int = 16
) -> int:
    """Materialize the feed as one parquet directory per microbatch, in
    lexical == replay order, `files_per_batch` files per directory (binlog
    segments arrive as many files; single-file batches would cap the
    consumer's scan parallelism at 1). Batches wholly before the
    schema-evolution point are written WITHOUT the `tool` column (event
    schema v1), so the target table genuinely has to evolve mid-replay.
    Returns batch count."""
    ev = gen_events_df(spark, spec)
    # zero-padded batch dir => lexical order == numeric order for the
    # file-streaming source
    ev = ev.withColumn("batch", F.format_string("b%09d", F.col("batch_id"))).drop("batch_id")
    salt = F.pmod(F.col("lsn"), F.lit(files_per_batch))
    evolution_batch = _batch_of(spec, spec.tool_lsn)
    pre = ev.filter(F.col("batch") < F.format_string("b%09d", F.lit(evolution_batch))).drop("tool")
    post = ev.filter(F.col("batch") >= F.format_string("b%09d", F.lit(evolution_batch)))
    pre.repartition(F.col("batch"), salt).write.mode("overwrite").partitionBy("batch").parquet(
        os.path.join(out_dir, "v1")
    )
    post.repartition(F.col("batch"), salt).write.mode("overwrite").partitionBy("batch").parquet(
        os.path.join(out_dir, "v2")
    )
    # Binlog/WAL files arrive in order; Spark's file-streaming source picks
    # files up by modification time, so stamp batch dirs with increasing
    # mtimes in replay order (parallel writes above leave them interleaved).
    base = time.time() - 86400
    dirs = feed_batch_dirs(out_dir)
    for i, (_, d) in enumerate(dirs):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (base + i, base + i))
    return len(dirs)


def feed_batch_dirs(out_dir: str) -> list[tuple[int, str]]:
    """(batch_id, dir) pairs in replay order from a write_feed output."""
    out: list[tuple[int, str]] = []
    for sub in ("v1", "v2"):
        d = os.path.join(out_dir, sub)
        if not os.path.isdir(d):
            continue
        for f in os.listdir(d):
            if f.startswith("batch=b"):
                out.append((int(f[len("batch=b") :]), os.path.join(d, f)))
    out.sort()
    return out
