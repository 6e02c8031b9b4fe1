"""LakeTable and its commit protocol: compaction (tombstone retention,
concurrent appends, async passes), version commits (tag races, duplicate
manifests), crash recovery and the orphan vacuum, and the guard that keeps
the file layout and snapshot derivation in lake/table.py."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark.lake.table import LakeTable, Snapshot

def _events_df(spark, rows, with_tool=False):
    """rows: (lsn, op, conv_id, turn_idx, role, text)."""
    fields = [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    rows = [(*r, None) for r in rows]
    return spark.createDataFrame(rows, T.StructType(fields))


# ---------- ADVICE: compaction must not erase delete ordering ----------
def test_compaction_retains_tombstones_against_redelivered_stale_upsert(
    spark, tmp_path
):
    """The resurrection scenario (unordered delivery): upsert K, delete K,
    COMPACT (erases the tombstone pre-fix), then a redelivered stale upsert
    of K (lsn below the delete). LWW must still see the delete win."""
    from datachain_spark.cdc.apply import apply_batch, transcripts_schema_v1

    root = str(tmp_path / "t")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=4
    )
    up = _events_df(
        spark,
        [(i + 1, "U", "c1", i, "user", f"turn {i}") for i in range(4)]
        + [(10, "D", "c1", 2, None, None)],
    )
    apply_batch(spark, table, up, "j", 0, lsn_ordered=False, compaction="off")
    assert table.read(spark).count() == 3  # (c1,2) deleted

    # compact every bucket (default retain_tombstones=True)
    assert table.compact(spark, max_segments=0) is not None
    snap = table.snapshot()
    assert not any(snap.dirty.get(b) for b in snap.buckets)  # all clean
    assert table.read(spark).count() == 3  # tombstone filtered on read

    # redelivered STALE upsert of the deleted key: lsn 3 < delete lsn 10
    redelivered = _events_df(spark, [(3, "U", "c1", 2, "user", "turn 2")])
    apply_batch(spark, table, redelivered, "j", 1, lsn_ordered=False, compaction="off")
    rows = {
        (r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()
    }
    assert ("c1", 2) not in rows, "compacted-away tombstone resurrected the key"
    assert len(rows) == 3

    # and a genuinely NEWER upsert (lsn above the tombstone) still revives it
    newer = _events_df(spark, [(11, "U", "c1", 2, "user", "turn 2 again")])
    apply_batch(spark, table, newer, "j", 2, lsn_ordered=False, compaction="off")
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in table.read(spark).collect()
    }
    assert got[("c1", 2)] == "turn 2 again"


def test_compaction_drop_tombstones_when_ordered(spark, tmp_path):
    """retain_tombstones=False (the lsn_ordered path) physically drops
    tombstone rows from the compacted segment — no unbounded tombstone
    accumulation on the ordered replay hot path."""
    from datachain_spark.cdc.apply import apply_batch, transcripts_schema_v1
    from datachain_spark.lake.table import DELETED_COL

    root = str(tmp_path / "t")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=4
    )
    up = _events_df(
        spark,
        [(i + 1, "U", "c1", i, "user", f"turn {i}") for i in range(4)]
        + [(10, "D", "c1", 2, None, None)],
    )
    apply_batch(spark, table, up, "j", 0, lsn_ordered=True, compaction="off")
    table.compact(spark, max_segments=0, retain_tombstones=False)
    snap = table.snapshot()
    raw = table._read_raw(spark, snap, sorted(snap.buckets))
    assert raw.filter(F.coalesce(F.col(DELETED_COL), F.lit(False))).count() == 0
    assert table.read(spark).count() == 3
    # ordered mode: the per-bucket watermark filter drops the redelivery
    # pre-write, so erasing tombstones is safe
    redelivered = _events_df(spark, [(3, "U", "c1", 2, "user", "turn 2")])
    m = apply_batch(spark, table, redelivered, "j", 1, lsn_ordered=True, compaction="off")
    assert m.get("skipped") == "stale"
    assert table.read(spark).count() == 3


# ---------- ADVICE: tag_version vs concurrent commits ----------
def test_tag_version_races_commits_no_lost_manifest(tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    t = LakeTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=4)
    n_each = 12
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def tagger():
        barrier.wait()
        for i in range(n_each):
            try:
                t.tag_version(f"tag{i}")
            except Exception as e:  # pragma: no cover - the regression
                errs.append(e)

    def committer():
        barrier.wait()
        for i in range(n_each):
            try:
                t.commit(append_bucket_files={0: [f"data/s{i}"]})
            except Exception as e:  # pragma: no cover - the regression
                errs.append(e)

    th = [threading.Thread(target=tagger), threading.Thread(target=committer)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert errs == []
    vs = t.versions()
    # every commit and every tag got its own version: nothing clobbered
    assert vs == list(range(2 * n_each + 1))
    assert sum(1 for v in vs if t.snapshot(v).tag) == n_each
    # the data commits all survived too
    assert len(t.snapshot(vs[-1]).buckets.get(0, [])) == n_each or any(
        len(t.snapshot(v).buckets.get(0, [])) == n_each for v in vs
    )


def test_write_manifest_duplicate_version_fails_loudly(tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    t = LakeTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=2)
    orig = open(t._manifest_path(0)).read()
    dup = Snapshot(
        version=0,
        parent=None,
        schema_json=t.snapshot(0).schema_json,
        num_buckets=2,
        key_cols=["k"],
        buckets={0: ["data/evil"]},
        watermarks={},
    )
    with pytest.raises(FileExistsError):
        t._write_manifest(dup)
    assert open(t._manifest_path(0)).read() == orig  # not clobbered
    assert not [
        f for f in os.listdir(t._versions_dir()) if ".tmp." in f
    ]  # tmp cleaned up


# ---------- async compaction ----------
def test_commit_compacted_from_preserves_concurrent_appends(tmp_path):
    """The concurrent-append window: a segment committed to a bucket AFTER
    the compaction read must survive the compaction commit as a residual,
    and the bucket must stay dirty."""
    from pyspark.sql import types as T

    from datachain_spark.lake.table import LakeTable

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    t = LakeTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=4)
    t.commit(append_bucket_files={0: ["data/s1", "data/s2"]})
    # compaction reads snapshot here (inputs s1, s2) ... meanwhile:
    t.commit(append_bucket_files={0: ["data/s3"]})
    # ... compaction commits its resolved output of s1+s2
    t.commit(
        replace_bucket_files={0: ["data/c1"]},
        compacted_from={0: ["data/s1", "data/s2"]},
        props={"compaction": True},
    )
    snap = t.snapshot()
    assert snap.buckets[0] == ["data/c1", "data/s3"]  # s3 survived
    assert snap.dirty[0] is True  # residual still needs LWW resolve
    # whole-list replace (no residual) turns the bucket clean
    t.commit(
        replace_bucket_files={0: ["data/c2"]},
        compacted_from={0: ["data/c1", "data/s3"]},
    )
    snap = t.snapshot()
    assert snap.buckets[0] == ["data/c2"] and snap.dirty[0] is False


def test_async_compaction_replay_matches_oracle(spark, tmp_path):
    """Forced near-every-batch ASYNC compaction (overlapped with the next
    apply) must still converge to the exact oracle state, and the drained
    table must actually have compacted."""
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import FeedSpec, write_feed
    from datachain_spark.cdc.normalize import normalize_text
    from datachain_spark.cdc.oracle import oracle_replay

    spec = FeedSpec(n_convs=30, hot_every=1000, hot_base=50, batch_size=120)
    feed = str(tmp_path / "feed")
    write_feed(spark, spec, feed)
    table, metrics = replay_feed_dir(
        spark, str(tmp_path / "t"), feed, num_buckets=8, max_segments=1,
        compaction="async",
    )
    assert any(m.get("compaction_submitted") for m in metrics if "version" in m)
    got = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in table.read(spark).orderBy("conv_id", "turn_idx").collect()
    ]
    exp = [
        (c, ti, r, normalize_text(x), tool)
        for (c, ti, r, x, tool) in oracle_replay(spec)
    ]
    assert got == exp
    # drain happened inside replay_feed_dir; compaction really ran
    assert any(
        s.props.get("compaction")
        for s in (table.snapshot(v) for v in table.versions())
    )


# ---------- crash mid-async-compaction → restart → converge ----------
def test_crash_mid_async_compaction_restart_converges(spark, tmp_path):
    """Kill the apply loop while an async compaction pass is in flight
    (its commit raises after its output dir is written); a fresh process
    over the same root must replay to the exact oracle state, with the
    half-compacted output left as an orphan, never read."""
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import FeedSpec, write_feed
    from datachain_spark.cdc.normalize import normalize_text
    from datachain_spark.cdc.oracle import oracle_replay

    spec = FeedSpec(n_convs=24, hot_every=1000, hot_base=40, batch_size=100)
    feed = str(tmp_path / "feed")
    write_feed(spark, spec, feed)
    root = str(tmp_path / "t")

    orig_commit = LakeTable.commit

    def crash_on_compaction_commit(self, *a, **k):
        if (k.get("props") or {}).get("compaction"):
            raise RuntimeError("injected crash mid-async-compaction")
        return orig_commit(self, *a, **k)

    LakeTable.commit = crash_on_compaction_commit
    try:
        with pytest.raises(RuntimeError, match="mid-async-compaction"):
            # max_segments=1 forces compaction nearly every batch; the
            # worker's failure surfaces at the next submit or the drain
            replay_feed_dir(
                spark, root, feed, num_buckets=4, max_segments=1, compaction="async"
            )
    finally:
        LakeTable.commit = orig_commit

    # "restart": fresh table handle, same root — resume and converge
    table2, _ = replay_feed_dir(
        spark, root, feed, num_buckets=4, max_segments=1, compaction="async"
    )
    got = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in table2.read(spark).orderBy("conv_id", "turn_idx").collect()
    ]
    exp = [
        (c, ti, r, normalize_text(x), tool)
        for (c, ti, r, x, tool) in oracle_replay(spec)
    ]
    assert got == exp


# ---------- orphan-file vacuum ----------
def test_remove_orphans_after_crash_keeps_live_data(spark, tmp_path):
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import FeedSpec, write_feed
    from datachain_spark.cdc.normalize import normalize_text
    from datachain_spark.cdc.oracle import oracle_replay

    spec = FeedSpec(n_convs=16, batch_size=80)
    feed = str(tmp_path / "feed")
    write_feed(spark, spec, feed)
    root = str(tmp_path / "t")

    # crash AFTER the batch-2 segment write, BEFORE its commit -> orphan dir
    table, _ = replay_feed_dir(spark, root, feed, num_buckets=4, upto_batch=0,
                               compaction="off")
    orig_commit = LakeTable.commit

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    LakeTable.commit = boom
    try:
        with pytest.raises(RuntimeError):
            replay_feed_dir(spark, root, feed, num_buckets=4, upto_batch=1,
                            compaction="off")
    finally:
        LakeTable.commit = orig_commit
    # plus a fake crashed compaction dir and a fake crashed save dir
    for unit in ("compact=999", "save=999"):
        fake = os.path.join(root, "data", unit, "bucket=0")
        os.makedirs(fake)
        with open(os.path.join(fake, "part-0.parquet"), "w") as fh:
            fh.write("garbage")

    table = LakeTable(root)
    orphan_seg = table.data_dir("job=replay", f"batch={1:09d}")
    assert os.path.isdir(orphan_seg)
    live_before = {
        p for fl in table.snapshot().buckets.values() for p in fl
    }
    assert live_before  # there IS committed data

    # safety window: young files are not vacuumed
    assert table.remove_orphans(older_than=3600) == 0
    assert os.path.isdir(orphan_seg)

    removed = table.remove_orphans(older_than=0)
    assert removed > 0
    assert not os.path.isdir(orphan_seg)
    assert not os.path.isdir(os.path.join(root, "data", "compact=999"))
    assert not os.path.isdir(os.path.join(root, "data", "save=999"))
    for p in live_before:  # every committed file survived
        assert os.path.exists(os.path.join(root, p)), p

    # and the table still replays to the oracle (the vacuumed orphan is
    # recomputed by the resume)
    table2, _ = replay_feed_dir(spark, root, feed, num_buckets=4, compaction="off")
    got = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in table2.read(spark).orderBy("conv_id", "turn_idx").collect()
    ]
    exp = [
        (c, ti, r, normalize_text(x), tool)
        for (c, ti, r, x, tool) in oracle_replay(spec)
    ]
    assert got == exp


# ---------- the dedup registry is an ordinary bucketed LakeTable ----------
def test_dedup_registry_survives_staggered_compaction(spark, tmp_path):
    """incremental_dedup writes its fingerprints into the buckets the
    registry's own bucket_expr assigns, so read_keys finds them and a
    staggered compaction (one bucket per pass) keeps every one: re-offering
    the same documents then returns no survivors."""
    from datachain_spark.operators.dedup import incremental_dedup, normalize_for_dedup

    root = str(tmp_path / "reg")
    docs = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 7}") for i in range(120)],
        "doc_id int, text string",
    )
    for b in range(3):
        batch = docs.filter((F.col("doc_id") % 3) == b)
        assert incremental_dedup(batch, root, num_buckets=4, batch_id=b).count() == 40
    reg = LakeTable(root)
    fps = [
        r[0]
        for r in docs.select(F.xxhash64(normalize_for_dedup(F.col("text")))).collect()
    ]
    assert reg.read_keys(spark, fps[:5]).count() == 5

    assert reg.compact(spark, max_segments=0, max_buckets=1) is not None
    assert sorted(r["fp"] for r in reg.read(spark).collect()) == sorted(fps)
    again = incremental_dedup(docs, root, num_buckets=4, update=False)
    assert again.count() == 0


def test_dedup_registry_segments_stay_bounded(spark, tmp_path):
    """Each incremental_dedup batch appends a segment to every registry
    bucket it touches; the registry is compacted after its commit, so a
    bucket never holds more than max_segments + 1 segments, every
    fingerprint survives the rewrites, and replaying a committed batch
    still returns that batch's first-run survivors."""
    from datachain_spark.operators.dedup import incremental_dedup

    root = str(tmp_path / "reg")
    docs = spark.createDataFrame(
        [(i, f"distinct document {i}") for i in range(60)], "doc_id int, text string"
    )
    batches = [docs.filter(F.col("doc_id") % 12 == b) for b in range(12)]
    for b, batch in enumerate(batches):
        assert incremental_dedup(batch, root, num_buckets=1, batch_id=b).count() == 5
        assert len(LakeTable(root).snapshot().buckets.get(0, [])) <= 9, b
    assert incremental_dedup(docs, root, num_buckets=1, update=False).count() == 0
    replayed = incremental_dedup(batches[10], root, num_buckets=1, batch_id=10)
    assert sorted(r["doc_id"] for r in replayed.collect()) == [10, 22, 34, 46, 58]


# ---------- one owner for the file layout and snapshot derivation ----------
def test_only_lake_table_and_semver_interpret_a_version():
    """chain.py and cli.py hand a version argument to `LakeTable.resolve` /
    `next_tag` as given: no digit test, no tag regex or "v" stripping, no
    specifier operator; the resolvers they replaced are gone."""
    import ast
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datachain_spark")
    offenders = []
    for mod in ("chain.py", "cli.py"):
        for node in ast.walk(ast.parse(open(os.path.join(pkg, mod)).read())):
            name = getattr(node, "attr", None) or getattr(node, "name", None)
            if name in ("isdigit", "isdecimal", "resolve_tag", "_next_semver", "_resolve_semver_spec"):
                offenders.append(f"{mod}: {name}")
            value = getattr(node, "value", None) if isinstance(node, ast.Constant) else None
            if isinstance(value, str) and (
                value in ("v", "~", "!", "<", ">", "~=", ">=", "<=", "==", "!=") or "\\d" in value
            ):
                offenders.append(f"{mod}: {value!r}")
    assert offenders == []
    assert not hasattr(LakeTable, "resolve_tag")


def test_only_lake_table_owns_the_file_layout():
    """No module under datachain_spark/ but lake/table.py builds a data
    directory (`data_dir(`), names a bucket directory (`bucket=` or
    `__bucket=`), constructs a Snapshot or decides the write shuffle
    (`write_tasks`, the partition keys); chain.py, delta.py and
    operators/dedup.py name no `BUCKET_COL` and repartition for no table
    write; inside lake/table.py only
    `create` builds one from scratch and only `_derive` builds one from
    another (`Snapshot(` or `dataclasses.replace(`)."""
    import ast
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datachain_spark")
    owner = os.path.join(pkg, "lake", "table.py")
    layout = re.compile(r"data_dir\(|(?<!\w)(?:__)?bucket=")
    shuffle = re.compile(r"\bwrite_tasks\b|partition_keys|pmod\(\s*F\.hash|pmod\(hash")
    offenders = []
    for dp, _, fns in os.walk(pkg):
        for fn in fns:
            path = os.path.join(dp, fn)
            if not fn.endswith(".py") or path == owner:
                continue
            src = open(path).read()
            offenders += [f"{path}: {m.group(0)}" for m in layout.finditer(src)]
            offenders += [f"{path}: Snapshot(" for _ in re.finditer(r"\bSnapshot\(", src)]
            # the write shuffle: task sizing and partition keys
            offenders += [f"{path}: {m.group(0)}" for m in shuffle.finditer(src)]
    for mod in ("chain.py", "delta.py", os.path.join("operators", "dedup.py")):
        src = open(os.path.join(pkg, mod)).read()
        offenders += [f"{mod}: BUCKET_COL" for _ in re.finditer(r"\bBUCKET_COL\b", src)]
        # a table write's repartition; chain.py keeps settings(parallel=)'s
        offenders += [
            f"{mod}: {line.strip()}"
            for line in src.splitlines()
            if ".repartition(" in line and "_settings.parallel" not in line
        ]
    assert offenders == []

    tree = ast.parse(open(owner).read())
    def builders(name):
        return {
            fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for call in ast.walk(fn)
            if isinstance(call, ast.Call) and ast.unparse(call.func) == name
        }

    assert builders("Snapshot") == {"create"}
    assert builders("dataclasses.replace") == {"_derive"}
