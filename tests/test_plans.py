"""Physical-plan regression suite: the scale properties PLANS.md audits
by hand, asserted automatically so they can't silently regress.

Checks (all on the public query surface at sf0.001 — plans, not data,
are under test, and a query's plan shape is scale-invariant):
  - predicate pushdown + column pruning reach the parquet scan;
  - small dimensions broadcast (no shuffled join for region/nation);
  - per-group top-k uses WindowGroupLimit (map-side rank pruning);
  - NO query plan contains a cartesian/broadcast-nested-loop join or a
    row-at-a-time Python UDF (BatchEvalPython) — Arrow-vectorized
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) is the only
    admissible Python;
  - exact dedup aggregates partially (map-side combine before the
    exchange);
  - the CDC apply is ONE shuffle end-to-end: its widest Spark job has at
    most two stages (map + reduce/write) — counted from the status
    tracker on a real apply, so a reintroduced second exchange fails;
    its write stage is sized from the batch's input bytes, and the same
    holds for compaction; the layout's partition keys run no job;
  - a full LakeTable read of many segment files starts no listing job;
  - the scan spread adds an exchange only to inputs of several task
    targets, and a repeated table read starts no schema-inference job.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def jobs_of(spark, group, fn):
    """JobInfo of every Spark job `fn()` runs, via the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan audit")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    tracker = sc.statusTracker()
    return [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]


def test_q1_pushdown_and_pruning(spark):
    df = entrymod.queries()["q1_pricing_summary"](spark, SF_DIR)
    p = plan_of(df)
    m = re.search(r"PushedFilters: \[(.*?)\]", p)
    assert m and "l_shipdate" in m.group(1), "shipdate filter must reach the scan"
    rs = re.search(r"ReadSchema: (.*)", p)
    assert rs is not None
    # projection pruning: the 16-column lineitem scan reads only what q1 needs
    assert "l_comment" not in rs.group(1) and "l_orderkey" not in rs.group(1)
    assert rs.group(1).count(":") <= 7


def test_dim_joins_broadcast(spark):
    for name in ("q5_region_revenue", "q3_top_revenue", "merge_left_outer"):
        p = plan_of(entrymod.queries()[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in p, f"{name}: dims must broadcast"


def test_window_topk_uses_group_limit(spark):
    p = plan_of(entrymod.queries()["window_topk_per_group"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, "rank<=k must prune map-side"


def test_dedup_exact_prunes_map_side(spark):
    # keep-first-per-fingerprint is a rank-1 window: WindowGroupLimit
    # drops losers BEFORE the exchange (the map-side-combine analog)
    p = plan_of(entrymod.queries()["dedup_exact"](spark, SF_DIR))
    assert "WindowGroupLimit" in p


# Queries whose DataFrame construction has eager side effects heavier than
# a plan check warrants (they write/read real files or fit k-means); their
# plan properties are covered by their own operator tests.
_SWEEP_SKIP = {
    "webdataset_roundtrip",
    "incremental_dedup_batches",
    "ivf_topk_kmeans",
    "read_storage_listing",
    "pattern_uri_listing",
    "listings_enumeration",
    "prefetch_file_bytes",
    "file_object_read",
    "read_meta_jsonl",
    "audio_fragment_pipeline",
    "cdc_transcripts_final",
    "cdc_read_changes",  # full feed replay; changelog plan = pure unions of
    "cdc_stream_changes",  # pruned scans (tests/test_changes.py covers both)
    "zorder_pruned_scan",  # writes the z-ordered copy eagerly; plan props in
    # tests/test_zorder.py (pushed filters + footer pruning)
    "merge_into_dataset",  # saves + merges a real dataset eagerly; the apply
    # plan is the audited one-shuffle CDC apply (test_cdc_apply_is_one_shuffle)
}


def test_no_scale_killers_in_any_query_plan(spark):
    """Sweep the whole public surface: no cartesian product, no broadcast
    nested-loop join, no row-at-a-time Python UDF anywhere."""
    bad: list[str] = []
    for name, fn in entrymod.queries().items():
        if name in _SWEEP_SKIP:
            continue
        p = plan_of(fn(spark, SF_DIR))
        for killer in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
            if killer in p:
                # ann_cosine_topk is the documented brute-force BASELINE:
                # a tiny query set broadcast against every vector is the
                # intended all-pairs scan (the scale paths are lsh/ivf)
                if name == "ann_cosine_topk" and killer == "BroadcastNestedLoopJoin":
                    continue
                bad.append(f"{name}: {killer}")
    assert not bad, bad


def test_table_reads_infer_the_schema_once(spark):
    """The driver's table reads cache the footer schema: a second read of
    the same file starts no schema-inference job."""
    entrymod._t(spark, SF_DIR, "orders")
    assert jobs_of(spark, "plan-audit-t", lambda: entrymod._t(spark, SF_DIR, "orders")) == []


def test_spread_is_size_aware(spark, tmp_path):
    """A scan below SPREAD_TASK_TARGET_BYTES keeps its plan (no exchange);
    a single-file scan of several targets is hash-repartitioned to
    ceil(bytes / target) tasks, at most defaultParallelism. Both return
    the scan's rows."""
    from pyspark.sql import functions as F

    from datachain_spark.frames import SPREAD_TASK_TARGET_BYTES, input_bytes, spread

    small = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    assert input_bytes(small) < SPREAD_TASK_TARGET_BYTES
    assert "Exchange" not in plan_of(spread(small, "doc_id"))

    path = str(tmp_path / "big")
    spark.range(30_000).select(
        F.col("id").alias("doc_id"), F.sha2(F.col("id").cast("string"), 512).alias("text")
    ).coalesce(1).write.parquet(path)
    big = spark.read.parquet(path)
    nbytes = input_bytes(big)
    p = min(spark.sparkContext.defaultParallelism, -(-nbytes // SPREAD_TASK_TARGET_BYTES))
    assert big.rdd.getNumPartitions() == 1 and p > 1
    spread_big = spread(big, "doc_id")
    assert re.search(rf"hashpartitioning\(doc_id#\d+L, {p}\)", plan_of(spread_big))
    for df in (small, big):
        assert sorted(spread(df, "doc_id").collect()) == sorted(df.collect())


def test_cdc_apply_is_one_shuffle(spark, tmp_path):
    """The engine claim behind the r4 throughput win: apply_batch's widest
    job runs in at most TWO stages (one exchange). Counted on real applies
    via the status tracker, so a second shuffle fails loudly.

    The write stage is sized from the batch's input bytes: a small batch
    runs fewer tasks than the table's buckets and still writes at most
    one file per touched bucket; a batch of n_parts *
    WRITE_TASK_TARGET_BYTES or more runs exactly n_parts tasks. Every
    table equals the LWW replay. A full read() of a table with more than
    32 segment files runs no Spark job (no parallel file-listing job), and
    compacting it is one shuffle too, leaving one file per compacted
    bucket."""
    import functools

    from datachain_spark.cdc import FeedSpec, write_feed
    from datachain_spark.cdc.apply import KEY_COLS, apply_batch, transcripts_schema_v1
    from datachain_spark.cdc.feed import feed_batch_dirs
    from datachain_spark.cdc.normalize import normalize_text
    from datachain_spark.cdc.oracle import oracle_replay
    from datachain_spark.cdc.stream import event_stream_schema
    from datachain_spark.frames import input_bytes
    from datachain_spark.lake.table import WRITE_TASK_TARGET_BYTES, LakeTable

    feed = str(tmp_path / "feed")
    # ~32k events in 15 batches (8 hot conversations keep the Python
    # oracle quick): the whole feed is over 1 MiB of parquet
    spec = FeedSpec(n_convs=16, hot_every=2, batch_size=2500, text_scale=25)
    write_feed(spark, spec, feed)
    v2 = event_stream_schema()
    v1 = T.StructType([f for f in v2.fields if f.name != "tool"])
    frames = [
        spark.read.schema(v1 if f"{os.sep}v1{os.sep}" in d else v2).parquet(d)
        for _, d in feed_batch_dirs(feed)
    ]
    tracker = spark.sparkContext.statusTracker()

    def apply_tasks(table, events, batch_id):
        """Write-stage task count of one apply, after the one-shuffle check."""
        jobs = jobs_of(
            spark,
            f"plan-audit-apply-{table.root}-{batch_id}",
            lambda: apply_batch(spark, table, events, "plan-audit", batch_id, compaction="off"),
        )
        assert jobs, "apply must run under the job group"
        widest = max(len(j.stageIds) for j in jobs)
        assert widest <= 2, f"apply's widest job ran {widest} stages (>1 shuffle)"
        return tracker.getStageInfo(max(jobs[-1].stageIds)).numTasks

    def table_rows(table):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r.asDict().get("tool"))
            for r in table.read(spark).collect()
        )

    def replay(upto=None):
        return [
            (c, t, r, normalize_text(x), tool) for c, t, r, x, tool in oracle_replay(spec, upto)
        ]

    def new_table(name, num_buckets):
        return LakeTable.create(
            str(tmp_path / name), transcripts_schema_v1(), list(KEY_COLS), num_buckets
        )

    small = new_table("small", 8)
    assert input_bytes(frames[0]) < WRITE_TASK_TARGET_BYTES
    assert apply_tasks(small, frames[0], 0) < 8  # n_parts = num_buckets
    assert all(len(fl) <= 1 for fl in small.snapshot().buckets.values())
    assert table_rows(small) == replay(0)

    whole = functools.reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), frames)
    assert input_bytes(whole) >= 4 * WRITE_TASK_TARGET_BYTES
    big = new_table("big", 4)
    assert apply_tasks(big, whole, 0) == 4
    assert table_rows(big) == replay()

    # the rest of the feed batch by batch: a table of many segment files
    for b, events in enumerate(frames[1:], start=1):
        apply_batch(spark, small, events, "plan-audit", b, compaction="off")
    assert len(small.read(spark).inputFiles()) > 32
    assert jobs_of(spark, "plan-audit-read", lambda: small.read(spark)) == []
    assert table_rows(small) == replay()

    # compaction is one shuffle too, and a compacted bucket is one file
    before = small.snapshot()
    jobs = jobs_of(spark, "plan-audit-compact", lambda: small.compact(spark))
    widest = max(len(j.stageIds) for j in jobs)
    assert widest <= 2, f"compaction's widest job ran {widest} stages (>1 shuffle)"
    after = small.snapshot()
    assert after.version == before.version + 1
    assert all(len(after.buckets[b]) == 1 for b, fl in before.buckets.items() if len(fl) > 8)
    assert table_rows(small) == replay()


def test_perfect_partition_keys_run_no_job(spark):
    """The write layout's partition keys come from a driver-local frame: a
    fresh task count runs no Spark job, and key p hashes to partition p."""
    from pyspark.sql import functions as F

    from datachain_spark.frames import local_frame
    from datachain_spark.lake.table import _PKEY_CACHE, _perfect_partition_keys

    n = 29
    _PKEY_CACHE.pop(n, None)
    keys = []
    assert jobs_of(spark, "plan-audit-pkeys", lambda: keys.extend(_perfect_partition_keys(spark, n))) == []
    frame = local_frame(spark, T.StructType([T.StructField("k", T.IntegerType())]), {"k": keys})
    placed = frame.repartition(n, "k").select("k", F.spark_partition_id().alias("p")).collect()
    assert sorted((r["p"], r["k"]) for r in placed) == list(enumerate(keys))
