"""Structured Streaming CDC: full tail-to-table run equals the oracle, and
a mid-stream crash + restart from the Spark checkpoint converges to the
same state (mirrors /root/reference/tests/func/checkpoints/
test_checkpoint_recovery.py at the microbatch level)."""

from __future__ import annotations

import pytest
from pyspark.sql.streaming import StreamingQueryException

from datachain_spark.cdc import stream
from datachain_spark.cdc.feed import FeedSpec, write_feed
from datachain_spark.cdc.normalize import normalize_text
from datachain_spark.cdc.oracle import oracle_replay
from datachain_spark.cdc.stream import run_stream
from datachain_spark.lake.table import LakeTable

SPEC = FeedSpec(n_convs=30, hot_every=1000, hot_base=50, batch_size=120)


@pytest.fixture(scope="module")
def feed_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sfeed"))
    write_feed(spark, SPEC, d)
    return d


@pytest.fixture(scope="module")
def oracle_rows():
    return [
        (c, t, r, normalize_text(x), tool) for (c, t, r, x, tool) in oracle_replay(SPEC)
    ]


def final_state(spark, table):
    df = table.read(spark)
    rows = []
    for r in df.collect():
        d = r.asDict()
        d.setdefault("tool", None)
        rows.append((d["conv_id"], d["turn_idx"], d["role"], d["text"], d["tool"]))
    return sorted(rows, key=lambda x: (x[0], x[1]))


def test_stream_full_run_matches_oracle(spark, feed_dir, oracle_rows, tmp_path):
    table, metrics = run_stream(
        spark, str(tmp_path / "t"), feed_dir, str(tmp_path / "ckpt"), num_buckets=8
    )
    assert final_state(spark, table) == oracle_rows
    assert len([m for m in metrics if "version" in m]) >= 3  # genuinely microbatched
    assert all(m["seconds"] > 0 for m in metrics)


def _crash_from_epoch(monkeypatch, epoch):
    """Make every microbatch from `epoch` on fail before its merge commits."""
    real = stream.apply_batch

    def apply_or_crash(*args, **kw):
        if kw["batch_id"] >= epoch:
            raise RuntimeError(f"injected crash before epoch {kw['batch_id']}")
        return real(*args, **kw)

    monkeypatch.setattr(stream, "apply_batch", apply_or_crash)


def test_stream_crash_resume(spark, feed_dir, oracle_rows, tmp_path, monkeypatch):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    _crash_from_epoch(monkeypatch, 2)
    with pytest.raises(StreamingQueryException):
        run_stream(spark, root, feed_dir, ckpt, num_buckets=8)
    monkeypatch.undo()
    # restart from the same checkpoint — replayed epochs are absorbed by the
    # ledger/watermarks; the stream finishes the remaining files
    table, metrics = run_stream(spark, root, feed_dir, ckpt, num_buckets=8)
    assert final_state(spark, table) == oracle_rows


def test_stream_multifile_batch_dirs_interleaved_lsn(spark, tmp_path):
    """Regression for the ordered-delivery hazard: write_feed salts each
    feed-batch dir into several files with INTERLEAVED lsn ranges, and the
    file-streaming source at maxFilesPerTrigger=1 delivers them one per
    epoch — so a high-lsn file can apply before a lower-lsn file of the
    same feed batch. A per-bucket high-watermark stale filter would then
    silently drop the later (unseen) events. apply_batch must not assume
    lsn-ordered delivery in streaming mode: final state == oracle."""
    # disable AQE partition coalescing during the write so tiny test data
    # still fans out to multiple files per batch dir (interleaved by salt)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    feed = str(tmp_path / "mfeed")
    try:
        write_feed(spark, SPEC, feed, files_per_batch=4)
    finally:
        spark.conf.set(key, prev)
    # verify the hazard precondition: some batch dir really has >1 file
    import os

    from datachain_spark.cdc.feed import feed_batch_dirs

    multi = [
        d
        for _, d in feed_batch_dirs(feed)
        if len([f for f in os.listdir(d) if f.endswith(".parquet")]) > 1
    ]
    assert multi, "test setup failed: no multi-file batch dirs"
    table, _ = run_stream(
        spark, str(tmp_path / "t"), feed, str(tmp_path / "ckpt"),
        num_buckets=8, max_files_per_trigger=1,
    )
    expected = [
        (c, t, r, normalize_text(x), tool) for (c, t, r, x, tool) in oracle_replay(SPEC)
    ]
    assert final_state(spark, table) == expected


def test_tail_stream_follows_arriving_segments(spark, tmp_path):
    """Continuous tailing: start the processing-time-triggered stream on a
    PARTIAL feed, move the remaining binlog segments in while it runs, and
    assert it converges to the full-feed oracle without a restart."""
    import os
    import shutil
    import time

    from datachain_spark.cdc.feed import feed_batch_dirs
    from datachain_spark.cdc.stream import tail_stream

    spec = FeedSpec(n_convs=20, hot_every=1000, hot_base=40, batch_size=100)
    staging = str(tmp_path / "staging")
    live = str(tmp_path / "live")
    write_feed(spark, spec, staging)
    dirs = feed_batch_dirs(staging)
    half = len(dirs) // 2
    # live feed starts with the first half of the segments
    for _, d in dirs[:half]:
        rel = os.path.relpath(d, staging)
        os.makedirs(os.path.dirname(os.path.join(live, rel)), exist_ok=True)
        shutil.copytree(d, os.path.join(live, rel))
    expected = [
        (c, t, r, normalize_text(x), tool) for (c, t, r, x, tool) in oracle_replay(spec)
    ]
    table, query, metrics = tail_stream(
        spark, str(tmp_path / "t"), live, str(tmp_path / "ckpt"), num_buckets=8
    )
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and not metrics:
            time.sleep(0.5)
        # new binlog segments arrive while the stream is live
        for _, d in dirs[half:]:
            rel = os.path.relpath(d, staging)
            os.makedirs(os.path.dirname(os.path.join(live, rel)), exist_ok=True)
            shutil.copytree(d, os.path.join(live, rel))
        deadline = time.monotonic() + 90
        got = None
        while time.monotonic() < deadline:
            got = final_state(spark, table)
            if got == expected:
                break
            time.sleep(1.0)
        assert got == expected
    finally:
        query.stop()


def test_ledger_df_schema_and_listener(spark, feed_dir, tmp_path):
    table, metrics = run_stream(
        spark, str(tmp_path / "t"), feed_dir, str(tmp_path / "ckpt"), num_buckets=8
    )
    led = table.ledger_df(spark)
    assert set(led.columns) == {
        "job_id", "batch_id", "partition_id", "high_watermark_lsn",
        "rows_in", "rows_upserted", "rows_deleted", "committed_at", "version",
    }
    assert led.count() > 0
    assert led.filter("high_watermark_lsn < 0").count() == 0
    # the Spark listener attached progress for applied epochs
    applied = [m for m in metrics if "version" in m]
    assert any(m.get("spark_progress") for m in applied)


# ---------- run_stream: which error surfaces from the end-of-stream drain ----------
def test_drain_compaction_error_propagates_from_run_stream(spark, tmp_path):
    """A genuine async-compaction failure at end-of-stream must raise, not
    vanish into the injected-crash suppression path."""
    feed = str(tmp_path / "feed")
    write_feed(spark, FeedSpec(n_convs=6, batch_size=50), feed)

    orig = LakeTable.drain_compaction

    def boom(self):
        raise RuntimeError("injected genuine compaction failure")

    LakeTable.drain_compaction = boom
    try:
        with pytest.raises(RuntimeError, match="genuine compaction failure"):
            run_stream(
                spark,
                str(tmp_path / "t"),
                feed,
                str(tmp_path / "ck"),
                num_buckets=4,
            )
    finally:
        LakeTable.drain_compaction = orig


def test_stream_error_wins_over_drain_error(spark, tmp_path, monkeypatch):
    """When the stream itself fails and the compaction drain then fails
    too, on a live session, the stream's own error is the one raised."""
    feed = str(tmp_path / "feed")
    write_feed(spark, FeedSpec(n_convs=6, batch_size=50), feed)
    _crash_from_epoch(monkeypatch, 0)

    def boom(self):
        raise RuntimeError("injected compaction failure")

    monkeypatch.setattr(LakeTable, "drain_compaction", boom)
    with pytest.raises(StreamingQueryException, match="injected crash before epoch 0"):
        run_stream(spark, str(tmp_path / "t"), feed, str(tmp_path / "ck"), num_buckets=4)
