"""CDC merge-apply: one microbatch of I/U/D events → LakeTable upsert.

This is the Spark-first rebuild of the reference's delta/diff machinery:
- the reference recomputes a keyed diff of the source and unions it with
  the previous dataset version (/root/reference/src/datachain/delta.py:240-396,
  diff classifier /root/reference/src/datachain/diff/__init__.py:27-163);
- here each microbatch is deduped last-writer-wins per key over `lsn` (the
  WAL total order — the single ordering used EVERYWHERE: intra-batch dedup,
  merge-on-read resolution, and the oracle, so merge semantics are
  independent of batch boundaries), then appended as MOR segments to only
  the touched hash-buckets, and committed atomically with a ledger row —
  the exactly-once analog of the reference's checkpoint skip/continue
  (/root/reference/src/datachain/query/dataset.py:998-1073).

Exactly-once, two layers:
1. (job_id, batch_id) ledger — a committed-batch range set carried in the
   snapshot manifest; a replayed batch is detected in O(1) driver-side and
   skipped before any work (mirrors find_checkpoint skip).
2. duplicate deliveries of individual events (same lsn, different batch)
   are APPENDED and absorbed by LWW resolution at read: a redelivery
   carries the identical payload for the same (key, lsn), so whichever
   copy the resolution window keeps, the result is the same row. This is
   safe under ANY delivery order. When the caller can additionally
   guarantee per-bucket non-decreasing LSN-span delivery (batch replay of
   whole feed-batch directories), `lsn_ordered=True` turns on the cheaper
   per-bucket high-watermark filter, which drops redeliveries before the
   write and lets an entirely-stale batch short-circuit to a no-op.
   NOTE the filter is ONLY sound under that contract — a file-granular
   streaming source can deliver one feed batch's files across epochs in
   interleaved LSN order, and the filter would silently drop unseen
   events (hence the default is False).

Scale notes:
- Merge-on-read: the batch is written as NEW segments (after-images +
  delete tombstones, stamped with `_lsn`) appended to the touched buckets;
  apply cost is O(batch), never O(table). LWW resolution happens at read
  (bucket-local window) and is erased by amortized compaction. A
  copy-on-write merge (read + anti-join + rewrite touched buckets) was
  measured 3x slower even at 2M events and is quadratic over a bulk
  replay — at 10^10 events it is infeasible.
- The batch's one shuffle is the table's write layout (LakeTable.layout)
  and the LWW dedup runs inside it (LakeTable.last_writer_wins). A combo
  is (bucket, salt), the salt a hash of the FULL key (conv_id, turn_idx),
  so a hot conversation's turns spread over up to `files_per_bucket`
  salted combos (skew mitigation, per the north rule) and file counts stay
  bounded. The task count is sized from the batch's input bytes, so a
  small microbatch runs a few write tasks, not one per combo. Compaction
  keeps segments-per-bucket bounded.
- Zero driver-side Spark jobs besides the segment write itself: schema
  evolution and all lineage stats come from the just-written parquet
  footers (read in parallel threads), the ledger check is an O(1) lookup
  in the HEAD snapshot, and watermarks are metadata.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark.cdc.normalize import normalize_text_expr
from datachain_spark.lake.table import BUCKET_COL, DELETED_COL, LSN_COL, LakeTable

KEY_COLS = ["conv_id", "turn_idx"]
META_COLS = {"lsn", "batch_id", "op", "batch"}

class SchemaDriftError(ValueError):
    """Incompatible schema change in the feed (an existing column changed
    type). Added columns evolve automatically; type changes are refused —
    the reference raises the same way
    (/root/reference/src/datachain/delta.py:58-97)."""


def transcripts_schema_v1() -> T.StructType:
    """Initial target schema (BASELINE.json input_hint, minus `tool`,
    which arrives via mid-stream schema evolution — FIXTURES.md §1)."""
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )


def open_transcripts_table(table_root: str, num_buckets: int = 32) -> LakeTable:
    """The transcripts table at `table_root`, created empty (schema v1,
    keyed on KEY_COLS, `num_buckets` buckets) if none exists there yet."""
    if LakeTable.exists(table_root):
        return LakeTable(table_root)
    return LakeTable.create(
        table_root, transcripts_schema_v1(), key_cols=KEY_COLS, num_buckets=num_buckets
    )


def _payload_fields(events: DataFrame) -> list[T.StructField]:
    return [f for f in events.schema.fields if f.name not in META_COLS]


def _one_file_stats(path: str, cand_cols: list[str]) -> dict[str, Any]:
    """Footer metadata of one segment file: row count, max `_lsn`, tombstone
    count (non-null `_deleted`), and non-null counts for candidate
    evolution columns. Parquet `num_values` INCLUDES nulls; non-null counts
    come from the statistics null_count."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    idx = {n: i for i, n in enumerate(names)}
    out: dict[str, Any] = {"n": md.num_rows, "hwm": -1, "n_del": 0, "cand": dict.fromkeys(cand_cols, 0)}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)

        def nonnull(col: str) -> int:
            c = g.column(idx[col])
            s = c.statistics
            if s is not None and s.null_count is not None:
                return c.num_values - s.null_count
            return c.num_values  # stats absent: conservative (assume data)

        lsn_s = g.column(idx[LSN_COL]).statistics
        if lsn_s is not None and lsn_s.max is not None:
            out["hwm"] = max(out["hwm"], lsn_s.max)
        out["n_del"] += nonnull(DELETED_COL)
        for c in cand_cols:
            if c in idx:
                out["cand"][c] += nonnull(c)
    return out


def _segment_footer_stats(
    table_root: str, files: dict[int, list[str]], cand_cols: list[str] | None = None
) -> dict[int, dict[str, Any]]:
    """Per-bucket {n, n_del, hwm, cand} of a segment's files (bucket ->
    table-relative paths, as LakeTable.write_segment returns them) from
    parquet footer metadata — driver-side, parallel over files (footer reads
    release the GIL in pyarrow). At 10^10 scale this is O(files) footer
    reads of the just-written segment (page-cache-hot), the same trick
    Iceberg uses for its manifest column stats; on a real cluster the
    equivalent is a tiny stats job or Iceberg's write-time metrics."""
    cand_cols = cand_cols or []
    stats = {
        b: {"n": 0, "n_del": 0, "hwm": -1, "cand": dict.fromkeys(cand_cols, 0)} for b in files
    }
    work = [(b, os.path.join(table_root, p)) for b, fl in files.items() for p in fl]
    if not work:
        return stats
    with ThreadPoolExecutor(max_workers=min(16, len(work))) as ex:
        for (b, _), st in zip(work, ex.map(lambda w: _one_file_stats(w[1], cand_cols), work)):
            s = stats[b]
            s["n"] += st["n"]
            s["n_del"] += st["n_del"]
            s["hwm"] = max(s["hwm"], st["hwm"])
            for c in cand_cols:
                s["cand"][c] += st["cand"][c]
    return stats


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    job_id: str,
    batch_id: int,
    files_per_bucket: int = 1,
    max_segments: int = 8,
    normalize: bool = True,
    lsn_ordered: bool = False,
    compaction: str = "inline",
) -> dict[str, Any]:
    """Apply one microbatch. Returns lineage metrics (also committed into
    the snapshot ledger). Idempotent: replaying any committed batch is an
    O(1) no-op; redelivered individual events are appended and absorbed by
    LWW-by-lsn at read (or dropped pre-write when `lsn_ordered=True` — see
    module docstring for the delivery-order contract).

    compaction='inline' runs the amortized MOR compaction pass before
    returning; 'async' hands it to the table's background worker so its
    job-submission gaps overlap the next batch (call
    table.drain_compaction() when the feed drains); 'off' skips it
    (caller compacts on its own schedule)."""
    if table.batch_committed(job_id, batch_id):
        return {"batch_id": batch_id, "skipped": "ledger"}

    snap = table.snapshot()
    target_schema = snap.schema
    # the merge key is the TABLE's (generic: merge_into targets any keyed
    # dataset); the transcripts flow created its tables with KEY_COLS
    key_cols = snap.key_cols

    # ---- schema drift check (metadata-only, no Spark job) ----
    # Structurally new payload columns are written into the segment and the
    # target schema evolves iff the column actually carries data in this
    # batch — decided AFTER the write from parquet footer non-null counts,
    # so an all-null phantom column (e.g. a wide-schema streaming source
    # padding old files) costs nothing and evolves nothing.
    target_types = {f.name: f.dataType for f in target_schema.fields}
    cand_fields: list[T.StructField] = []
    for f in _payload_fields(events):
        if f.name in target_types:
            if f.dataType != target_types[f.name]:
                raise SchemaDriftError(
                    f"column {f.name!r} changed type "
                    f"{target_types[f.name].simpleString()} -> {f.dataType.simpleString()}"
                )
        else:
            cand_fields.append(T.StructField(f.name, f.dataType, True))
    cand_names = [f.name for f in cand_fields]

    # ---- bucket assignment (+ optional ordered-delivery stale filter) ----
    ev = events.withColumnRenamed("lsn", LSN_COL).withColumn(BUCKET_COL, table.bucket_expr())
    if lsn_ordered and snap.watermarks:
        # watermarks are O(num_buckets) driver-side metadata -> a literal
        # map expression beats a per-batch broadcast-join (no exchange,
        # stays inside whole-stage codegen). Built as ONE F.expr string:
        # the create_map(*[F.lit(..) x 2B]) form cost ~67ms of py4j round
        # trips PER BATCH at 64 buckets (every F.lit is a JVM call); the
        # parsed string is one call (~0.4ms) for the identical expression.
        pairs = ",".join(
            f"{int(b)},{int(lsn)}L" for b, lsn in sorted(snap.watermarks.items())
        )
        wm = F.expr(f"element_at(map({pairs}), {BUCKET_COL})")
        ev = ev.filter(F.col(LSN_COL) > F.coalesce(wm, F.lit(-1)))

    # ---- last-writer-wins per key over lsn (fused with the write layout) ----
    # lsn is THE total order — identical to merge-on-read resolution
    # (lake/table.py _resolve) and the oracle, so the surviving row per key
    # never depends on where a batch boundary fell. `ts` is payload, not
    # ordering.
    #
    # ONE shuffle for dedup AND write: the table's write layout puts every
    # copy of a key in one partition (its combo is a function of the key),
    # LWW is then partition-local, and the segment write below reuses that
    # partitioning as the file layout (no second exchange). The classic
    # alternative (row_number window partitioned by key, then repartition
    # for the write) shuffles the batch TWICE and runs an extra 64-task
    # stage; its map-side WindowGroupLimit pruning saves less than the
    # second shuffle costs (events/key ~1.6 here).
    # Measured (2.4e6-event feed, 4 batches, this host, best-of-2):
    # local[1] 55.6s -> 44.9s (1.24x), local[4] 16.3s -> 13.8s (1.18x) —
    # and the removed exchange+stage was per-batch overhead, which is
    # exactly what bounds the sub-knee N->4N scaling pairs at small
    # batch sizes. Other alternatives previously measured slower: max_by
    # hash-agg (2.5x with the normalize stage), mapInPandas dedup (1.5x).
    dedup = table.last_writer_wins(table.layout(ev, files_per_bucket=files_per_bucket))

    # normalize: whitespace canonicalization (unicode-aware via the (?U)
    # regex flag — identical collapse/strip semantics to normalize_text)
    # fused into the post-dedup projection as a codegen expression, zero
    # Python in the hot path. Sole divergence: no unicode NFC composition.
    if normalize and "text" in dedup.columns:
        dedup = dedup.withColumn("text", normalize_text_expr(F.col("text")))

    # ---- merge-on-read segment: after-images + delete tombstones ----
    # target columns absent from this batch (e.g. a replayed pre-evolution
    # batch against an already-evolved table) are null-filled; candidate
    # new columns ride along in the file and are invisible to readers
    # unless the commit below evolves the schema
    is_del = F.col("op") == "D"
    batch_cols = set(dedup.columns)
    payload = []
    for f in list(target_schema.fields) + cand_fields:
        c = f.name
        if c in key_cols:
            payload.append(F.col(c))
        elif c in batch_cols:
            payload.append(F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias(c))
        else:
            payload.append(F.lit(None).cast(f.dataType).alias(c))
    # tombstone marker: true for deletes, NULL (not false) for upserts, so
    # the parquet footer null_count yields the delete count without a scan
    deleted_marker = F.when(is_del, F.lit(True)).otherwise(F.lit(None).cast("boolean"))
    segment = dedup.select(*payload, LSN_COL, deleted_marker.alias(DELETED_COL), BUCKET_COL)

    # ---- salted bucket-partitioned append (bounded files, skew-spread) ----
    # the segment is ALREADY laid out by the dedup shuffle above (the
    # projection is narrow), so the write reuses it:
    # each task writes one file per bucket it holds, a hot conversation's
    # bucket is written by up to `files_per_bucket` salted tasks, and file
    # counts stay bounded by the layout.
    # crash-recovery fast path (the reference's continue-from-partial,
    # query/dataset.py:1221-1360, at segment granularity): if a previous
    # attempt crashed AFTER fully writing this (job,batch) segment but
    # BEFORE the manifest commit, reuse the files instead of recomputing —
    # inputs are identical because the parent snapshot never advanced.
    unit = f"job={job_id}/batch={batch_id:09d}"
    new_bucket_files = table.segment_files(unit)
    if new_bucket_files is None:
        new_bucket_files = table.write_segment(segment, unit)

    # ---- lineage + evolution from parquet footers (driver-side, zero
    # Spark jobs): rows_in = num_rows, per-bucket hwm = max(_lsn) column
    # stat, deletes and candidate-column data = non-null counts ----
    bstats = _segment_footer_stats(table.root, new_bucket_files, cand_names)
    if not bstats:
        return {"batch_id": batch_id, "skipped": "stale"}  # no-change short-circuit

    new_fields = [
        f for f in cand_fields if any(s["cand"][f.name] > 0 for s in bstats.values())
    ]
    evolved_schema = (
        T.StructType(list(target_schema.fields) + new_fields) if new_fields else None
    )

    touched = sorted(bstats)
    watermark_updates = {b: s["hwm"] for b, s in bstats.items()}
    rows_in = sum(s["n"] for s in bstats.values())
    rows_deleted = sum(s["n_del"] for s in bstats.values())
    rows_upserted = rows_in - rows_deleted
    buckets_with_deletes = {b for b, s in bstats.items() if s["n_del"]}

    ledger = {
        "job_id": job_id,
        "batch_id": batch_id,
        "rows_in": rows_in,
        "rows_upserted": rows_upserted,
        "rows_deleted": rows_deleted,
        "committed_at": time.time(),
        "partitions": [
            {"partition_id": int(b), "high_watermark_lsn": int(s["hwm"])}
            for b, s in sorted(bstats.items())
        ],
    }
    version = table.commit(
        append_bucket_files=new_bucket_files,
        has_deletes=buckets_with_deletes,
        schema=evolved_schema,
        watermark_updates=watermark_updates,
        ledger=ledger,
    )
    # amortized MOR compaction: staggered — at most a quarter of the
    # buckets per apply, worst (most segments) first, so the compaction tax
    # per batch is bounded and smooth instead of a periodic full rewrite;
    # 'async' overlaps it with the next batch (commit-lock + compacted_from
    # residuals make that safe — lake/table.py compact_async)
    # tombstone retention: under unordered delivery a redelivered stale
    # upsert can land AFTER compaction, so compaction must keep each deleted
    # key's winning tombstone for LWW to beat it at read (lake/table.py
    # compact docstring). Under lsn_ordered the per-bucket HWM filter above
    # drops every redelivery pre-write — any tombstone at-or-below the
    # watermark is unraceable and can be erased (keeps the ordered replay
    # path free of accumulating tombstones).
    retain_tombstones = not lsn_ordered
    compacted: int | bool | None
    if compaction == "async":
        compacted = table.compact_async(
            spark,
            max_segments=max_segments,
            max_buckets=max(1, table.num_buckets // 4),
            retain_tombstones=retain_tombstones,
        )
    elif compaction == "off":
        compacted = None
    else:
        compacted = table.compact(
            spark,
            max_segments=max_segments,
            max_buckets=max(1, table.num_buckets // 4),
            retain_tombstones=retain_tombstones,
        )
    return {
        "batch_id": batch_id,
        "version": version,
        "rows_in": rows_in,
        "rows_upserted": rows_upserted,
        "rows_deleted": rows_deleted,
        "buckets_touched": len(touched),
        "evolved": [f.name for f in new_fields],
        "compacted_version": None if compaction != "inline" else compacted,
        **({"compaction_submitted": bool(compacted)} if compaction == "async" else {}),
    }


def replay_feed_dir(
    spark: SparkSession,
    table_root: str,
    feed_dir: str,
    job_id: str = "replay",
    num_buckets: int = 32,
    upto_batch: int | None = None,
    max_segments: int = 8,
    compaction: str = "async",
) -> tuple[LakeTable, list[dict[str, Any]]]:
    """Batch-mode replay of a write_feed output directory, in lsn order.
    Resumable: re-running over a partially-applied table skips committed
    batches via the ledger and stale events via the watermarks. Each
    microbatch is a WHOLE feed-batch directory, so per-bucket LSN spans
    arrive in non-decreasing order and `lsn_ordered=True` is sound.
    Compaction defaults to 'async' (overlapped with the next batch) and is
    drained before returning, so the returned table is quiescent."""
    from datachain_spark.cdc.feed import feed_batch_dirs

    table = open_transcripts_table(table_root, num_buckets)
    from datachain_spark.cdc.stream import event_stream_schema

    # explicit per-phase schemas skip a schema-inference job per batch
    v2 = event_stream_schema()
    v1 = T.StructType([f for f in v2.fields if f.name != "tool"])
    metrics = []
    for batch_id, d in feed_batch_dirs(feed_dir):
        if upto_batch is not None and batch_id > upto_batch:
            break
        schema = v1 if f"{os.sep}v1{os.sep}" in d else v2
        events = spark.read.schema(schema).parquet(d)
        metrics.append(
            apply_batch(
                spark,
                table,
                events,
                job_id,
                batch_id,
                lsn_ordered=True,
                max_segments=max_segments,
                compaction=compaction,
            )
        )
    table.drain_compaction()
    return table, metrics
