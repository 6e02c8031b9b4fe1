"""End-to-end CDC correctness: deterministic feed → merge-apply replay →
final table state equals the naive Python oracle (FIXTURES.md §4), including
exactly-once idempotence, resume-from-partial, duplicate-delivery
absorption, and mid-stream schema evolution.

Mirrors the reference's delta/checkpoint test strategy
(/root/reference/tests/func/test_delta.py, tests/func/checkpoints/).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachain_spark.cdc.apply import replay_feed_dir
from datachain_spark.cdc.feed import FeedSpec, gen_events_df, gen_events_py, write_feed
from datachain_spark.cdc.normalize import normalize_text
from datachain_spark.cdc.oracle import oracle_replay
from datachain_spark.lake.table import LakeTable

SPEC = FeedSpec(n_convs=40, hot_every=1000, hot_base=60, batch_size=150)

FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


@pytest.fixture(scope="module")
def feed_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feed"))
    write_feed(spark, SPEC, d)
    return d


@pytest.fixture(scope="module")
def oracle_rows():
    # engine normalizes text with the shared scalar; oracle does the same
    return [
        (c, t, r, normalize_text(x), tool)
        for (c, t, r, x, tool) in oracle_replay(SPEC)
    ]


def final_state(spark, table, version=None):
    df = table.read(spark, version=version)
    cols = [c for c in FINAL_COLS if c in df.columns]
    rows = df.select(*cols).collect()
    out = []
    for r in rows:
        d = r.asDict()
        d.setdefault("tool", None)
        out.append((d["conv_id"], d["turn_idx"], d["role"], d["text"], d["tool"]))
    return sorted(out, key=lambda x: (x[0], x[1]))


def test_spark_feed_matches_python_spec(spark):
    py = gen_events_py(SPEC)
    got = gen_events_df(spark, SPEC).collect()
    got_t = sorted(
        (r["batch_id"], r["lsn"], r["op"], r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in got
    )
    exp_t = sorted(
        (e["batch_id"], e["lsn"], e["op"], e["conv_id"], e["turn_idx"], e["role"], e["text"], e["tool"], e["ts"].replace(tzinfo=None))
        for e in py
    )
    assert len(got_t) == len(exp_t)
    assert got_t == exp_t


def test_full_replay_matches_oracle(spark, feed_dir, oracle_rows, tmp_path):
    table, metrics = replay_feed_dir(spark, str(tmp_path / "t"), feed_dir, num_buckets=8)
    assert final_state(spark, table) == oracle_rows
    applied = [m for m in metrics if "version" in m]
    assert applied, "no batches applied"
    # lineage ledger covers every applied batch with per-partition watermarks
    rows = table.ledger_rows()
    assert {r["batch_id"] for r in rows} == {m["batch_id"] for m in applied}
    assert all(r["high_watermark_lsn"] >= 0 for r in rows)


def test_replay_is_idempotent(spark, feed_dir, oracle_rows, tmp_path):
    root = str(tmp_path / "t")
    table, _ = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    v_before = table.current_version()
    # full second replay: every batch is a ledger-skip, zero new versions
    table2, metrics2 = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    assert all("skipped" in m for m in metrics2)
    assert table2.current_version() == v_before
    assert final_state(spark, table2) == oracle_rows
    # same batches under a NEW job_id: ledger misses, but per-bucket
    # high watermarks make every event stale → no-op, no commits
    table3, metrics3 = replay_feed_dir(spark, root, feed_dir, job_id="job2", num_buckets=8)
    assert all(m.get("skipped") == "stale" for m in metrics3)
    assert table3.current_version() == v_before


def test_resume_mid_replay(spark, feed_dir, oracle_rows, tmp_path):
    """Kill/restart simulation: apply only the first k batches ("crash"),
    then run the full replay over the same table root — the final state
    must equal the uninterrupted run's."""
    root = str(tmp_path / "t")
    nb = SPEC.n_batches()
    upto = nb // 3
    table, m1 = replay_feed_dir(spark, root, feed_dir, num_buckets=8, upto_batch=upto)
    mid = final_state(spark, table)
    assert mid != oracle_rows  # genuinely partial
    table, m2 = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    skipped = [m for m in m2 if "skipped" in m]
    assert len(skipped) >= len([m for m in m1 if "version" in m])
    assert final_state(spark, table) == oracle_rows


def test_schema_evolution_mid_replay(spark, feed_dir, tmp_path):
    root = str(tmp_path / "t")
    table, metrics = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    evolved = [m for m in metrics if m.get("evolved")]
    assert len(evolved) == 1 and evolved[0]["evolved"] == ["tool"]
    # time travel: versions before the evolution point lack `tool`
    v_evolved = evolved[0]["version"]
    early = table.read(spark, version=v_evolved - 1)
    assert "tool" not in early.columns
    late = table.read(spark)
    assert "tool" in late.columns
    # old rows surface the evolved column as null (union-by-name read)
    pre_tool = late.filter("tool is null").count()
    assert pre_tool > 0


def test_version_tags_and_time_travel(spark, feed_dir, tmp_path):
    root = str(tmp_path / "t")
    table, metrics = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    applied = [m for m in metrics if "version" in m]
    v_first = applied[0]["version"]
    table.tag_version("v1.0.0", v_first)
    assert table.resolve("v1.0.0") == table.current_version()
    tagged = table.read(spark, version="v1.0.0")
    direct = table.read(spark, version=v_first)
    assert sorted(map(tuple, tagged.collect())) == sorted(map(tuple, direct.collect()))
    # versions are immutable: count of first snapshot never changes
    assert table.read(spark, version=v_first).count() == tagged.count()


def test_forced_compaction_across_schema_evolution(spark, feed_dir, oracle_rows, tmp_path):
    """Compaction triggered nearly every batch, straddling the mid-stream
    schema evolution point: resolved rewrites of pre-evolution segments
    must null-fill the evolved column (union-by-name read) and the final
    state must still equal the oracle exactly."""
    table, metrics = replay_feed_dir(
        spark, str(tmp_path / "t"), feed_dir, num_buckets=8, max_segments=1,
        compaction="inline",
    )
    assert any(m.get("compacted_version") for m in metrics if "version" in m)
    assert any(m.get("evolved") for m in metrics if "version" in m)
    assert final_state(spark, table) == oracle_rows
    # compaction is STAGGERED (worst quarter of buckets per apply), so the
    # invariant is "reduced, not unbounded": every bucket holds fewer
    # segments than the number of applied batches, and recently-compacted
    # buckets are down to a single resolved segment
    snap = table.snapshot()
    n_applied = len([m for m in metrics if "version" in m])
    assert max(len(fl) for fl in snap.buckets.values()) < n_applied
    assert any(len(fl) == 1 for fl in snap.buckets.values())


def test_ledger_survives_vacuum(spark, feed_dir, oracle_rows, tmp_path):
    """expire_versions drops old manifests, but the committed-batch range
    set lives in HEAD — exactly-once skip detection must survive vacuum."""
    root = str(tmp_path / "t")
    table, metrics = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    applied = [m["batch_id"] for m in metrics if "version" in m]
    table.expire_versions(keep_last=1)
    assert len(table.versions()) == 1
    for b in applied:
        assert table.batch_committed("replay", b)
    # a full re-replay over the vacuumed table is still a no-op
    table2, m2 = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    assert all("skipped" in m for m in m2)
    assert final_state(spark, table2) == oracle_rows


def test_crash_between_write_and_commit(spark, feed_dir, oracle_rows, tmp_path):
    """Reference continue-from-partial analog: a crash after the segment
    write but before the manifest commit must (a) leave table state
    unchanged, (b) let the retry reuse the written segment without
    recomputing, (c) converge to the oracle."""
    import os

    from datachain_spark.lake.table import LakeTable

    root = str(tmp_path / "t")
    table, m1 = replay_feed_dir(spark, root, feed_dir, num_buckets=8, upto_batch=1)
    v_before = table.current_version()

    # crash injection: commit raises AFTER the segment write happened
    orig_commit = LakeTable.commit
    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")
    LakeTable.commit = boom
    try:
        with pytest.raises(RuntimeError):
            replay_feed_dir(spark, root, feed_dir, num_buckets=8, upto_batch=2)
    finally:
        LakeTable.commit = orig_commit

    table = LakeTable(root)
    assert table.current_version() == v_before  # nothing committed
    seg_dir = table.data_dir("job=replay", f"batch={2:09d}")
    assert os.path.exists(os.path.join(seg_dir, "_SUCCESS"))  # orphan segment
    mtime = os.path.getmtime(os.path.join(seg_dir, "_SUCCESS"))

    # retry: reuses the orphan segment (no rewrite) and commits it
    table, m2 = replay_feed_dir(spark, root, feed_dir, num_buckets=8)
    assert os.path.getmtime(os.path.join(seg_dir, "_SUCCESS")) == mtime
    assert final_state(spark, table) == oracle_rows


def test_normalize_expr_equals_arrow_on_ascii(spark):
    """The codegen normalizer agrees with normalize_text on the transcript
    feed contract (ASCII text) and keeps Python out of the hot loop."""
    from datachain_spark.cdc.normalize import normalize_text, normalize_text_expr

    texts = ["  a   b\tc  ", "x\n\ny", "", "single", "  lead", "trail  ", None]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(normalize_text_expr(F.col("t")).alias("e")).collect()
    for t, r in zip(texts, out):
        assert r["e"] == normalize_text(t)


# ---------- codegen normalizer: unicode whitespace and space-run branches ----------
def test_normalize_expr_unicode_whitespace_matches_python(spark):
    from datachain_spark.cdc.normalize import normalize_text, normalize_text_expr

    # NBSP, line/para separators, ideographic space, tabs — all already
    # NFC-composed, so the expr (no NFC) must match normalize_text exactly
    samples = [
        "a b",
        " x  y ",
        "　lead and trail　",
        " mixed\t  runs \n here ",
        "plain ascii  only",
        None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["o"] for r in df.select(normalize_text_expr(F.col("t")).alias("o")).collect()]
    assert got == [normalize_text(s) for s in samples]


def test_normalize_expr_space_run_branches_match_python(spark):
    """Branch boundaries of the graded ASCII collapse paths: runs of
    exactly 2 spaces (literal replace branch), runs of 3+ (the '  +'
    regex branch), control whitespace mixed in (the \\s+ branch), and the
    trim-only path — every one must equal normalize_text byte-for-byte."""
    from datachain_spark.cdc.normalize import normalize_text, normalize_text_expr

    samples = [
        "",
        " ",
        "  ",
        "   ",
        "    ",
        "a  b",                 # single 2-run -> replace branch
        "a  b  c",              # multiple 2-runs, non-overlap replace
        "a   b",                # 3-run -> '  +' branch
        "a    b  c",            # 4-run + 2-run in one row
        "  lead and trail   ",  # runs at the edges interact with trim
        "tok tok  (rev 3)",     # the feed's update-row shape
        "a  b\tc",              # double space AND control ws -> \s+ branch
        "café  x",         # non-ASCII with 2-run -> unicode branch
        None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["o"] for r in df.select(normalize_text_expr(F.col("t")).alias("o")).collect()]
    assert got == [normalize_text(s) for s in samples]
