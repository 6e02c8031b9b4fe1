"""Per-layer metrics of a traced run.

Every metric is printed for every workload; a layer that a workload does
not exercise reads 0, which is how the bypass shows. Times of single layers
are shares of the measured window (unit "ratio"): the window has the same
length on every version, so a share that drops is a layer that got faster.
Totals are over the window; `trace.ops` is the number of closed-loop calls
in it, so per-call figures are a division away.
"""

from __future__ import annotations

import ast
import os
import re
import statistics

from spans import SparkStatus

HEADLINE = [
    "q1_pricing_summary", "q3_top_revenue", "merge_left_outer", "window_lww",
    "sessionize", "diff_status", "dedup_exact", "text_quality", "ann_cosine_topk",
    "minhash_near_dup_pairs", "document_pipeline", "asof_last_error",
    "nested_struct_project", "running_window_frame", "ngram_jaccard_near_dups",
    "lsh_topk_ann", "ivf_topk_kmeans", "dedup_spans_corpus", "stratified_sample_docs",
    "token_budget_mixture", "bm25_search_topk", "dsir_importance_select",
    "lm_perplexity_outliers", "hybrid_rrf_search", "dedup_event_sequences",
    "sft_render_spans", "bpe_train_merges",
]  # tools/bench_queries.py:HEADLINE, pinned here so the workload cannot drift
MODULES = ["dedup", "text", "similarity", "asof", "sampling", "retrieval", "lm",
           "sequences", "transcripts", "bpe", "diff", "relational"]

# name -> (unit, better); the order is the order of BENCHMARK.json
PER_LAYER: dict[str, tuple[str, str]] = {
    "feed.gen_s": ("s", "lower"),
    "feed.events": ("count", "higher"),
    "feed.batches": ("count", "higher"),
    "feed.bytes": ("bytes", "higher"),
    "apply.calls": ("count", "higher"),
    "apply.busy_share": ("ratio", "lower"),
    "apply.events_offered": ("count", "higher"),
    "apply.rows_in": ("count", "higher"),
    "apply.rows_deleted": ("count", "higher"),
    "apply.keep_ratio": ("ratio", "higher"),
    "apply.skipped_ledger": ("count", "higher"),
    "apply.evolved_batches": ("count", "higher"),
    "apply.stage_share": ("ratio", "lower"),
    "apply.serial_share": ("ratio", "lower"),
    "apply.bulk.stage_share": ("ratio", "lower"),
    "apply.bulk.serial_share": ("ratio", "lower"),
    "lake.snapshot.calls_per_batch": ("ratio", "lower"),
    "lake.snapshot.busy_share": ("ratio", "lower"),
    "lake.commit.calls": ("count", "higher"),
    "lake.commit.busy_share": ("ratio", "lower"),
    "lake.compact.calls": ("count", "lower"),
    "lake.compact.busy_share": ("ratio", "lower"),
    "lake.compact.buckets": ("count", "lower"),
    "lake.compact.bytes_rewritten": ("bytes", "lower"),
    "lake.compact_async.submitted": ("count", "lower"),
    "lake.compact_async.refused": ("count", "lower"),
    "lake.compact_async.accept_ratio": ("ratio", "higher"),
    "lake.drain_wait_share": ("ratio", "lower"),
    "lake.write_amp": ("ratio", "lower"),
    "lake.bytes_per_live_row": ("bytes", "lower"),
    "lake.segments_per_bucket_max": ("count", "lower"),
    "lake.segments_per_bucket_mean": ("count", "lower"),
    "lake.dirty_share": ("ratio", "lower"),
    "lake.manifest_bytes": ("bytes", "lower"),
    "lake.versions": ("count", "lower"),
    "read.point.busy_share": ("ratio", "lower"),
    "read.point.rows": ("count", "higher"),
    "read.buckets_for_share": ("ratio", "lower"),
    "read.scan.busy_share": ("ratio", "lower"),
    "read.scan.rows": ("count", "higher"),
    "read.changes.busy_share": ("ratio", "lower"),
    "read.changes.rows": ("count", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.stage_active_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "query.plan_share": ("ratio", "lower"),
}


for _n in HEADLINE:
    PER_LAYER[f"query.{_n}.share"] = ("ratio", "lower")
    PER_LAYER[f"query.{_n}.jobs"] = ("count", "lower")
for _m in MODULES:
    PER_LAYER[f"operators.{_m}.share"] = ("ratio", "lower")
PER_LAYER.update({
    "trace.window_s": ("s", "lower"),
    "trace.ops": ("count", "higher"),
    "trace.spans": ("count", "lower"),
    "trace.throughput_per_s": ("1/s", "higher"),
    "trace.op_geomean_s": ("s", "lower"),
    "trace.cpu_s": ("s", "lower"),
})


def query_modules(names: list[str]) -> dict[str, list[str]]:
    """module -> headline queries whose function imports it (read from the
    source of `__spark_entry__.py`); `relational` holds those importing none."""
    import __spark_entry__ as entry

    src = open(entry.__file__).read()
    fns = {n.name: n for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)}
    out: dict[str, list[str]] = {m: [] for m in MODULES}
    for n in names:
        body = ast.get_source_segment(src, fns[n]) or ""
        mods = set(re.findall(r"datachain_spark\.(?:operators\.)?(\w+) import", body))
        for m in mods & set(MODULES):
            out[m].append(n)
        if not mods:
            out["relational"].append(n)
    return out


def compute(run, tracer, e2e: dict) -> dict[str, float]:
    lo, hi = run.window
    win = hi - lo
    c = run.counts
    status = SparkStatus(run.spark)
    m = {k: 0.0 for k in PER_LAYER}

    def share(span_name: str) -> float:
        return tracer.busy(span_name, lo, hi) / win

    m["feed.gen_s"] = run.gen_s
    for k in ("feed.events", "feed.batches", "feed.bytes", "apply.calls",
              "apply.events_offered", "apply.rows_in", "apply.rows_deleted",
              "apply.skipped_ledger", "apply.evolved_batches", "lake.write_amp",
              "lake.bytes_per_live_row", "lake.manifest_bytes", "lake.versions",
              "read.point.rows", "read.scan.rows", "read.changes.rows"):
        m[k] = c.get(k, 0)
    m["apply.busy_share"] = share("cdc.apply_batch")
    if c.get("apply.events_offered"):
        m["apply.keep_ratio"] = c["apply.rows_in"] / c["apply.events_offered"]

    def split(kinds: set[str]) -> tuple[float, float]:
        """Stage-active and serial (no stage of the call running) shares of
        the closed-loop calls of `kinds`."""
        calls = [s for s in tracer.in_window(lo, hi) if s["name"] in kinds]
        stage = sum(status.group_stage_active(s["group"], s["start"], s["end"]) for s in calls)
        return stage / win, (sum(s["end"] - s["start"] for s in calls) - stage) / win

    # the calls that hold every apply_batch span: bulk, microbatch, re-offer
    m["apply.stage_share"], m["apply.serial_share"] = split({"op.bulk", "op.apply", "op.ledger"})
    m["apply.bulk.stage_share"], m["apply.bulk.serial_share"] = split({"op.bulk"})

    if c.get("apply.calls"):
        m["lake.snapshot.calls_per_batch"] = tracer.count("lake.snapshot", lo, hi) / c["apply.calls"]
    m["lake.snapshot.busy_share"] = share("lake.snapshot")
    m["lake.commit.calls"] = tracer.count("lake.commit", lo, hi)
    m["lake.commit.busy_share"] = share("lake.commit")
    m["lake.compact.calls"] = tracer.count("lake.compact", lo, hi)
    m["lake.compact.busy_share"] = share("lake.compact")
    submitted = refused = 0
    for name, t, args, out in tracer.returns:
        if t < lo:  # warm-up
            continue
        if name == "lake.compact_async":
            submitted += bool(out)
            refused += not out
        elif name == "lake.compact" and out is not None:
            # the compacted buckets are those whose file list the commit changed
            table = args[0]
            after, before = table.snapshot(out).buckets, table.snapshot(out - 1).buckets
            for b, files in after.items():
                new_files = set(files) - set(before.get(b, []))
                if files != before.get(b):
                    m["lake.compact.buckets"] += 1
                m["lake.compact.bytes_rewritten"] += sum(
                    os.path.getsize(os.path.join(table.root, p)) for p in new_files
                )
    m["lake.compact_async.submitted"] = submitted
    m["lake.compact_async.refused"] = refused
    if submitted + refused:
        m["lake.compact_async.accept_ratio"] = submitted / (submitted + refused)
    m["lake.drain_wait_share"] = share("lake.drain_compaction")
    if run.shapes:
        m["lake.segments_per_bucket_max"] = statistics.fmean(s["max"] for s in run.shapes)
        m["lake.segments_per_bucket_mean"] = statistics.fmean(s["mean"] for s in run.shapes)
        m["lake.dirty_share"] = statistics.fmean(s["dirty"] for s in run.shapes)

    m["read.point.busy_share"] = share("op.point")
    m["read.buckets_for_share"] = share("lake.buckets_for")
    m["read.scan.busy_share"] = share("op.scan")
    m["read.changes.busy_share"] = share("op.changes")

    m.update(status.engine_metrics(lo, hi))

    m["query.plan_share"] = c.get("query.plan_s", 0.0) / win
    mods = query_modules(HEADLINE)
    for n in HEADLINE:
        spans = [s for s in tracer.in_window(lo, hi) if s["name"] == f"op.query.{n}"]
        q_share = sum(run.samples.get(n, [])) / win
        m[f"query.{n}.share"] = q_share
        if spans:
            m[f"query.{n}.jobs"] = sum(status.jobs_of_group.get(s["group"], 0) for s in spans) / len(spans)
        for mod, qs in mods.items():
            if n in qs:
                m[f"operators.{mod}.share"] += q_share

    m["trace.window_s"] = win
    m["trace.ops"] = len(tracer.in_window(lo, hi, "op."))
    m["trace.spans"] = len(tracer.in_window(lo, hi))
    m["trace.throughput_per_s"] = e2e["throughput_per_s"]
    m["trace.op_geomean_s"] = e2e["op_geomean_s"]
    m["trace.cpu_s"] = e2e["cpu_s"]
    return m
