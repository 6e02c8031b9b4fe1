"""Structured Streaming driver: tail the change feed → foreachBatch merge.

The streaming realization of the north rule: a file-streaming source tails
the binlog/WAL-style feed directory (ordered by arrival time, as a real
binlog tailer would be ordered by offset), and every microbatch goes
through the same exactly-once `apply_batch` as batch replay — Spark's
checkpoint gives at-least-once microbatch delivery; the (job, epoch)
ledger + per-bucket high watermarks in the LakeTable manifest turn that
into exactly-once (the reference's analog is checkpoint skip/continue,
/root/reference/src/datachain/query/dataset.py:998-1073).

On a real cluster the source would be Kafka/binlog; the contract of
`apply_batch` (a DataFrame of I/U/D events with monotone lsn per key) is
source-agnostic.
"""

from __future__ import annotations

import contextlib
import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from datachain_spark.cdc.apply import apply_batch, open_transcripts_table
from datachain_spark.lake.table import LakeTable


def event_stream_schema() -> T.StructType:
    """Widest event schema (v2, incl. `tool`). Pre-evolution files lack the
    column; the parquet reader null-fills it, and apply_batch drops an
    all-null unknown column, so the target table still evolves exactly when
    real `tool` data first arrives."""
    return T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("tool", T.StringType(), True),
        ]
    )


def _start_feed_stream(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    handle: Callable[[DataFrame, int], None],
    **trigger: Any,
) -> StreamingQuery:
    """Start the file-streaming tail of a write_feed directory: every
    microbatch of events goes to `handle(batch_df, epoch_id)`; `trigger`
    is DataStreamWriter.trigger's keyword (processingTime / availableNow)."""
    return (
        spark.readStream.schema(event_stream_schema())
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(os.path.join(feed_dir, "v*", "batch=*"))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def tail_stream(
    spark: SparkSession,
    table_root: str,
    feed_dir: str,
    checkpoint_dir: str,
    job_id: str = "tail",
    num_buckets: int = 32,
    max_files_per_trigger: int = 4,
    interval: str = "500 milliseconds",
):
    """CONTINUOUS tailing: a processing-time-triggered stream that keeps
    following the feed directory as new binlog segments land (run_stream
    is the run-to-exhaustion variant). Returns (table, query, metrics);
    the caller owns query.stop(). Exactly-once semantics are identical —
    same apply_batch, same ledger — because the trigger mode only changes
    WHEN microbatches fire, not what they contain."""
    table = open_transcripts_table(table_root, num_buckets)
    metrics: list[dict[str, Any]] = []

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # compaction runs async so its jobs overlap the next microbatch
        # (commit-lock + compacted_from residuals make that safe); the
        # caller's query.stop() should be followed by
        # table.drain_compaction() for a quiescent table
        m = apply_batch(
            batch_df.sparkSession, table, batch_df, job_id=job_id, batch_id=epoch_id,
            compaction="async",
        )
        m["epoch_id"] = epoch_id
        metrics.append(m)

    query = _start_feed_stream(
        spark, feed_dir, checkpoint_dir, max_files_per_trigger, handle, processingTime=interval
    )
    return table, query, metrics


def run_stream(
    spark: SparkSession,
    table_root: str,
    feed_dir: str,
    checkpoint_dir: str,
    job_id: str = "stream",
    num_buckets: int = 32,
    max_files_per_trigger: int = 1,
) -> tuple[LakeTable, list[dict[str, Any]]]:
    """Run the feed to exhaustion (Trigger.AvailableNow). Returns the table
    and per-microbatch metrics."""
    table = open_transcripts_table(table_root, num_buckets)

    metrics: list[dict[str, Any]] = []

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        m = apply_batch(
            batch_df.sparkSession,
            table,
            batch_df,
            job_id=job_id,
            batch_id=epoch_id,
            compaction="async",
        )
        m["epoch_id"] = epoch_id
        m["seconds"] = time.monotonic() - t0
        metrics.append(m)

    # StreamingQueryListener: Spark's own per-microbatch progress
    # (input rows, durations) — the engine-side complement of the
    # LakeTable ledger (SURVEY.md §7 stage 5)
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict[str, Any]] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            progress.append(
                {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        _start_feed_stream(
            spark, feed_dir, checkpoint_dir, max_files_per_trigger, handle, availableNow=True
        ).awaitTermination()
    except BaseException:
        # the stream failed: still wait out any in-flight async compaction,
        # but report the stream's own error — a drain error (often fallout
        # of the same failure) must not replace it
        with contextlib.suppress(Exception):
            table.drain_compaction()
        raise
    finally:
        spark.streams.removeListener(listener)
    # the feed is exhausted: wait out any in-flight async compaction so the
    # returned table is quiescent; a compaction failure here must surface,
    # not leave the table silently uncompacted
    table.drain_compaction()
    for m in metrics:
        m.setdefault("spark_progress", None)
    for p in progress:
        for m in metrics:
            if m.get("epoch_id") == p["batchId"]:
                m["spark_progress"] = p
    return table, metrics
