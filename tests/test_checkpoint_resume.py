"""Row-level UDF checkpoint resume (reference tests/func/checkpoints/
test_checkpoint_recovery.py:28-641): a crashed map()/gen() rerun processes
ONLY rows without committed output."""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import threading
from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from datachain_spark import chain as dc
from datachain_spark.checkpoint import CheckpointLockedError, _resume_lock


def _processed(log: str) -> list[int]:
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [int(x) for x in f.read().split()]


def test_map_crash_resume_processes_only_remainder(spark, tmp_path):
    ids = list(range(12))
    ch = dc.read_values(spark, id=ids, v=[float(i) for i in ids])
    store = str(tmp_path / "ckpt")
    log1, log2 = str(tmp_path / "run1.log"), str(tmp_path / "run2.log")

    # chunking is pmod(xxhash64(all cols), n_chunks) with n_chunks=4 at
    # rows=3 — compute each id's chunk so the poison sits in chunk >= 1
    # (deterministic: same hash the engine uses)
    chunk = {
        r["id"]: r["c"]
        for r in ch.df.select(
            "id", F.pmod(F.xxhash64("id", "v"), F.lit(4)).alias("c")
        ).collect()
    }
    later = [i for i in ids if chunk[i] >= 2]
    assert later, "need a poison row outside chunks 0-1"
    poison = later[0]

    def crashing(id, v, _log=log1, _poison=poison):
        if id == _poison:
            raise RuntimeError("simulated mid-map crash")
        with open(_log, "a") as f:
            f.write(f"{id}\n")
        return float(v) * 10

    with pytest.raises(Exception, match="simulated|crash|RuntimeError"):
        ch.settings(batch_size=3).map(
            crashing, output={"out": float}, params=["id", "v"], checkpoint=store,
        ).count()

    committed = {i for i in ids if chunk[i] < chunk[poison]}
    assert committed, "crash must land after at least one committed chunk"

    def healthy(id, v, _log=log2):
        with open(_log, "a") as f:
            f.write(f"{id}\n")
        return float(v) * 10

    out = ch.settings(batch_size=3).map(
        healthy, output={"out": float}, params=["id", "v"], checkpoint=store,
    )
    got = {r["id"]: r["out"] for r in out.df.collect()}
    assert got == {i: i * 10.0 for i in ids}  # full correct result
    # the resume processed ONLY rows without committed output
    run2 = set(_processed(log2))
    assert run2 == set(ids) - committed
    assert run2.isdisjoint(committed)


def test_gen_crash_resume_with_zero_output_keys(spark, tmp_path):
    ids = list(range(10))
    ch = dc.read_values(spark, id=ids)
    store = str(tmp_path / "ckpt")
    log1, log2 = str(tmp_path / "g1.log"), str(tmp_path / "g2.log")
    chunk = {
        r["id"]: r["c"]
        for r in ch.df.select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("c")).collect()
    }
    later = [i for i in ids if chunk[i] >= 2]
    poison = later[0]

    def crashing(id, _log=log1, _poison=poison):
        if id == _poison:
            raise RuntimeError("simulated crash")
        with open(_log, "a") as f:
            f.write(f"{id}\n")
        # ids divisible by 3 yield NOTHING — resume must still mark them done
        for k in range(id % 3):
            yield (id * 100 + k,)

    with pytest.raises(Exception, match="simulated|crash|RuntimeError"):
        ch.settings(batch_size=3).gen(
            crashing, output={"g": int}, params=["id"], checkpoint=store
        ).count()

    committed = {i for i in ids if chunk[i] < chunk[poison]}

    def healthy(id, _log=log2):
        with open(_log, "a") as f:
            f.write(f"{id}\n")
        for k in range(id % 3):
            yield (id * 100 + k,)

    out = ch.settings(batch_size=3).gen(
        healthy, output={"g": int}, params=["id"], checkpoint=store
    )
    expect = sorted(i * 100 + k for i in ids for k in range(i % 3))
    assert sorted(out.to_values("g")) == expect
    run2 = set(_processed(log2))
    assert run2 == set(ids) - committed
    # zero-output keys in committed chunks were NOT re-generated
    zero_committed = {i for i in committed if i % 3 == 0}
    assert zero_committed.isdisjoint(run2)


def test_checkpoint_noop_rerun_and_schema_namespace(spark, tmp_path):
    ch = dc.read_values(spark, id=[1, 2, 3])
    store = str(tmp_path / "ckpt")
    log = str(tmp_path / "n.log")

    def f(id, _log=log):
        with open(_log, "a") as fh:
            fh.write(f"{id}\n")
        return id + 1

    r1 = ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    assert sorted(r1.to_values("out")) == [2, 3, 4]
    n1 = len(_processed(log))
    # rerun: everything committed -> ZERO rows reprocessed
    r2 = ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    assert sorted(r2.to_values("out")) == [2, 3, 4]
    assert len(_processed(log)) == n1
    # a different output schema gets a fresh namespace, not a bogus resume
    r3 = ch.map(f, output={"other": int}, params=["id"], checkpoint=store)
    assert sorted(r3.to_values("other")) == [2, 3, 4]
    assert len(_processed(log)) == 2 * n1
    # chunk size is settings(batch_size=); a stray keyword is refused, not ignored
    with pytest.raises(TypeError, match="checkpoint_rows"):
        ch.map(f, output={"out": int}, params=["id"], checkpoint=store, checkpoint_rows=3)


@contextlib.contextmanager
def _lock_holder(ns: str):
    """A separate process holding the namespace's resume lock; killed on
    exit (the kernel then drops its lock)."""
    code = (
        "import fcntl, os, sys, time; fd = os.open(sys.argv[1], os.O_RDWR | os.O_CREAT); "
        "fcntl.flock(fd, fcntl.LOCK_EX); print(flush=True); time.sleep(120)"
    )
    lock_path = os.path.join(ns, ".resume_lock")
    with subprocess.Popen([sys.executable, "-c", code, lock_path], stdout=subprocess.PIPE) as holder:
        holder.stdout.readline()  # printed once the lock is held
        try:
            yield holder
        finally:
            holder.kill()


# ---------- checkpointed map: duplicates under the key ----------
def test_checkpoint_map_duplicate_rows_stay_1_to_1(spark, tmp_path):
    # ids [1,1,2] through plain map -> 3 rows; a join of K input duplicates
    # against K stored copies once produced 5 (quadratic join inflation)
    ch = dc.read_values(spark, id=[1, 1, 2])
    store = str(tmp_path / "ckpt")

    def f(id):
        return id + 1

    plain = ch.map(f, output={"out": int}, params=["id"])
    ck = ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    assert sorted(plain.to_values("out")) == [2, 2, 3]
    assert sorted(ck.to_values("out")) == [2, 2, 3]
    # and resume over the same store stays stable (no further inflation)
    ck2 = ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    assert sorted(ck2.to_values("out")) == [2, 2, 3]


def test_checkpoint_gen_duplicate_keys_processed_once(spark, tmp_path):
    # key semantics: duplicate-keyed rows are ONE unit of work for gen
    ch = dc.read_values(spark, id=[1, 1, 2])
    store = str(tmp_path / "ckpt")

    def g(id):
        yield (id * 10,)
        yield (id * 10 + 1,)

    out = ch.gen(g, output={"g": int}, params=["id"], checkpoint=store)
    assert sorted(out.to_values("g")) == [10, 11, 20, 21]


# ---------- checkpointed map: output column overwrites input ----------
def test_checkpoint_map_output_overwrites_input_column(spark, tmp_path):
    ch = dc.read_values(spark, id=[1, 2, 3], v=[1.0, 2.0, 3.0])
    store = str(tmp_path / "ckpt")

    def bump(v):
        return float(v) * 10

    plain = ch.map(bump, output={"v": float}, params=["v"])
    ck = ch.map(bump, output={"v": float}, params=["v"], checkpoint=store)
    assert sorted(plain.to_values("v")) == [10.0, 20.0, 30.0]
    assert ck.df.columns.count("v") == 1  # no ambiguous duplicate column
    assert sorted(ck.to_values("v")) == [10.0, 20.0, 30.0]


# ---------- one row path: plain and checkpointed output agree ----------
def _udf_shape(name: str):
    """(kind, fn, output, params) per output shape. Everything is defined
    locally so cloudpickle ships it to the workers by value."""

    @dataclass
    class Pair:
        lo: int
        hi: int

    @dataclass
    class Point:
        x: int
        y: int

    def gen_scalar(id):
        for k in range(id % 3):  # ids divisible by 3 yield nothing
            yield id * 10 + k

    def gen_tuple(id):
        yield (id, str(id))
        yield (-id, "neg")

    def gen_dict(id):
        yield {"a": id, "b": str(id)}

    def gen_none(id):
        return iter(())

    def gen_struct(id):
        yield Point(id, -id)

    def gen_struct_named(id):
        yield {"p": {"x": id, "y": -id}}

    def gen_struct_value(id):
        yield {"x": id, "y": -id}

    def gen_struct_named_model(id):
        yield {"p": Point(id, -id)}

    return {
        "map-scalar": ("map", lambda id: id * 2, {"out": int}, ["id"]),
        "map-dict": ("map", lambda id: {"a": id, "b": str(id)}, {"a": int, "b": str}, ["id"]),
        "map-model": ("map", lambda id: Pair(id, id + 1), {"lo": int, "hi": int}, ["id"]),
        "map-struct": ("map", lambda id: Point(id, -id), {"p": Point}, ["id"]),
        "map-struct-named": ("map", lambda id: {"p": {"x": id, "y": -id}}, {"p": Point}, ["id"]),
        "map-struct-value": ("map", lambda id: {"x": id, "y": -id}, {"p": Point}, ["id"]),
        "map-struct-named-model": ("map", lambda id: {"p": Point(id, -id)}, {"p": Point}, ["id"]),
        "map-overwrite": ("map", lambda v: v * 10, {"v": float}, ["v"]),
        "gen-scalar": ("gen", gen_scalar, {"g": int}, ["id"]),
        "gen-tuple": ("gen", gen_tuple, {"a": int, "b": str}, ["id"]),
        "gen-dict": ("gen", gen_dict, {"a": int, "b": str}, ["id"]),
        "gen-none": ("gen", gen_none, {"g": int}, ["id"]),
        "gen-struct": ("gen", gen_struct, {"p": Point}, ["id"]),
        "gen-struct-named": ("gen", gen_struct_named, {"p": Point}, ["id"]),
        "gen-struct-value": ("gen", gen_struct_value, {"p": Point}, ["id"]),
        "gen-struct-named-model": ("gen", gen_struct_named_model, {"p": Point}, ["id"]),
    }[name]


@pytest.mark.parametrize(
    "shape",
    ["map-scalar", "map-dict", "map-model", "map-struct", "map-struct-named",
     "map-struct-value", "map-overwrite", "gen-scalar", "gen-tuple", "gen-dict",
     "gen-none", "gen-struct", "gen-struct-named", "gen-struct-value"],
)
def test_checkpoint_output_matches_plain(spark, tmp_path, shape):
    kind, fn, output, params = _udf_shape(shape)
    ch = dc.read_values(spark, id=list(range(8)), v=[float(i) for i in range(8)])
    udf = getattr(ch, kind)
    plain = udf(fn, output=output, params=params)
    ck = udf(fn, output=output, params=params, checkpoint=str(tmp_path / "ckpt"))
    assert ck.df.columns == plain.df.columns
    rows = sorted(map(tuple, plain.collect()))
    assert sorted(map(tuple, ck.collect())) == rows
    assert (len(rows) == 0) == (shape == "gen-none")


@pytest.mark.parametrize("form", ["", "-named", "-value", "-named-model"])
def test_map_and_gen_store_a_struct_output_alike(spark, form):
    """One output rule for a single struct-typed column: map's return value
    and gen's yielded item — a model instance, a dict holding the column's
    name (its value a dict or a model instance), or a dict that is the
    value — store the same struct."""
    ch = dc.read_values(spark, id=[1, 2, 3])
    got = []
    for kind in ("map", "gen"):
        _, fn, output, params = _udf_shape(f"{kind}-struct{form}")
        out = getattr(ch, kind)(fn, output=output, params=params)
        got.append(sorted((r.p.x, r.p.y) for r in out.df.select("p").collect()))
    assert got == [[(1, -1), (2, -2), (3, -3)]] * 2


def test_checkpoint_map_honors_parallel(spark, tmp_path):
    """settings(parallel=) sizes the checkpointed chunk jobs exactly like
    the plain map stage."""
    ch = dc.read_values(spark, id=list(range(60))).settings(parallel=3)

    def logged(log):
        def f(id, _log=log):
            from pyspark import TaskContext

            with open(_log, "a") as fh:
                fh.write(f"{TaskContext.get().partitionId()}\n")
            return id

        return f

    plain_log, ck_log = str(tmp_path / "plain.log"), str(tmp_path / "ck.log")
    ch.map(logged(plain_log), output={"out": int}, params=["id"]).collect()
    ch.map(
        logged(ck_log), output={"out": int}, params=["id"], checkpoint=str(tmp_path / "ckpt")
    ).collect()
    assert set(_processed(plain_log)) == {0, 1, 2}
    assert set(_processed(ck_log)) == set(_processed(plain_log))


# ---------- concurrent-resume lock ----------
def test_checkpoint_concurrent_resume_refused_and_stale_takeover(spark, tmp_path):
    ch = dc.read_values(spark, id=[1, 2, 3])
    store = str(tmp_path / "ckpt")

    def f(id):
        return id + 1

    # pre-compute the namespace by running once (also commits everything)
    ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    ns = os.path.join(store, os.listdir(store)[0])

    # a LIVE process holds the lock -> a fresh (uncommitted) resume refuses
    with _lock_holder(ns):
        # same store+schema but remaining work: new input rows
        ch2 = dc.read_values(spark, id=[7, 8])
        with pytest.raises(CheckpointLockedError):
            ch2.map(f, output={"out": int}, params=["id"], checkpoint=store).count()
        # fully-committed inputs never need the lock (read-only resume)
        again = ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
        assert sorted(again.to_values("out")) == [2, 3, 4]

    # the holder is DEAD now -> its lock is gone and work proceeds
    out = dc.read_values(spark, id=[7, 8]).map(
        f, output={"out": int}, params=["id"], checkpoint=store
    )
    assert sorted(out.to_values("out")) == [8, 9]
    with _resume_lock(ns):  # released: a second acquire succeeds
        pass


def test_namespace_lock_unit(tmp_path):
    ns = str(tmp_path)
    with _resume_lock(ns):
        with pytest.raises(CheckpointLockedError):
            with _resume_lock(ns):
                pass
    with _resume_lock(ns):  # free after release
        pass


def test_checkpoint_locked_error_does_not_leak_cache(spark, tmp_path):
    store = str(tmp_path / "ckpt")
    ch = dc.read_values(spark, id=[1, 2, 3])

    def f(id):
        return id + 1

    # discover the namespace dir by a dry run on a sibling store
    ch.map(f, output={"out": int}, params=["id"], checkpoint=store)
    ns = os.path.join(store, os.listdir(store)[0])

    with _lock_holder(ns):
        spark.catalog.clearCache()
        ch2 = dc.read_values(spark, id=[10, 11])
        with pytest.raises(CheckpointLockedError):
            ch2.map(f, output={"out": int}, params=["id"], checkpoint=store).count()
        # the persist() taken for the chunk loop must have been released
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stale_lock_takeover_single_winner(tmp_path):
    ns = str(tmp_path)
    with _lock_holder(ns):
        pass  # the holder died: its lock file stays behind

    # more contending threads than cores, all released at once
    n = 8
    results: list[str] = []
    start, tried = threading.Barrier(n, timeout=60), threading.Barrier(n, timeout=60)

    def contender():
        start.wait()
        try:
            with _resume_lock(ns):
                results.append("held")
                tried.wait()  # hold until every other contender has tried
        except CheckpointLockedError:
            results.append("refused")
            tried.wait()

    th = [threading.Thread(target=contender) for _ in range(n)]
    for x in th:
        x.start()
    for x in th:
        x.join(timeout=120)
    assert not any(x.is_alive() for x in th)
    # exactly one winner — never two holders
    assert sorted(results) == ["held"] + ["refused"] * (n - 1)
    assert os.path.exists(os.path.join(ns, ".resume_lock"))
