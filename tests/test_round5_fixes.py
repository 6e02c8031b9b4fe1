"""Round-5 regression tests: the lock-takeover CAS, persist-leak and
swallowed-drain-error ADVICE findings. The tag_version race, tombstone
resurrection, orphan-file vacuum and crash-mid-async-compaction tests live
in test_lake_table.py."""

from __future__ import annotations

import os
import threading

import pytest

from datachain_spark.lake.table import LakeTable


# ---------- ADVICE: no cached-DataFrame leak on a refused resume ----------
def test_checkpoint_locked_error_does_not_leak_cache(spark, tmp_path):
    import subprocess
    import sys

    from datachain_spark import chain as dc
    from datachain_spark.checkpoint import CheckpointLockedError

    store = str(tmp_path / "ckpt")
    ch = dc.read_values(spark, id=[1, 2, 3])

    def f(id):
        return id + 1

    # discover the namespace dir by a dry run on a sibling store
    ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    ns = os.path.join(store, os.listdir(store)[0])

    holder = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        with open(os.path.join(ns, ".resume_lock"), "w") as fh:
            fh.write(str(holder.pid))
        spark.catalog.clearCache()
        ch2 = dc.read_values(spark, id=[10, 11])
        with pytest.raises(CheckpointLockedError):
            ch2.map(f, output={"out": int}, params=["id"], checkpoint=store).count()
        # the persist() taken for the chunk loop must have been released
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        holder.kill()
        holder.wait()
        os.remove(os.path.join(ns, ".resume_lock"))


# ---------- ADVICE: stale-lock takeover is single-winner ----------
def test_stale_lock_takeover_single_winner(tmp_path):
    import subprocess
    import sys

    from datachain_spark.checkpoint import CheckpointLockedError, _NamespaceLock

    ns = str(tmp_path)
    # plant a stale lock owned by a dead pid
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(os.path.join(ns, ".resume_lock"), "w") as fh:
        fh.write(str(dead.pid))

    results: list[str] = []
    barrier = threading.Barrier(2)

    def contender():
        lock = _NamespaceLock(ns)
        barrier.wait()
        try:
            lock.acquire()
            results.append("held")
        except CheckpointLockedError:
            results.append("refused")

    th = [threading.Thread(target=contender) for _ in range(2)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    # exactly one winner — never two holders (the pre-fix unlink race)
    assert sorted(results) == ["held", "refused"]
    assert os.path.exists(os.path.join(ns, ".resume_lock"))


# ---------- ADVICE: run_stream drain errors surface on a live session ----
def test_session_stopped_probe(spark):
    from datachain_spark.cdc.stream import _session_stopped

    assert _session_stopped(spark) is False


def test_drain_compaction_error_propagates_from_run_stream(spark, tmp_path):
    """A genuine async-compaction failure at end-of-stream must raise, not
    vanish into the injected-crash suppression path."""
    from datachain_spark.cdc.feed import FeedSpec, write_feed
    from datachain_spark.cdc.stream import run_stream

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
