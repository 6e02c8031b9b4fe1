"""Row-level UDF checkpoint resume for long map/gen stages.

The reference resumes a crashed `.map()`/`.gen()` mid-stage, reprocessing
only input rows that have no persisted output yet (reference
query/dataset.py:1221-1360, 1439-1457; tests/func/checkpoints/
test_checkpoint_recovery.py:28-641 — partial UDF output tables keyed by
row). Spark's native recovery unit is the task, so a crashed *job* loses
everything since the last committed write; this module restores the
reference's behavior Spark-first:

- Every input row gets a deterministic content key (xxhash64 of the key
  columns, or of all input columns when none are given).
- The remaining work is processed in CHUNKS of ~`rows_per_commit` rows;
  each chunk is one distributed mapInPandas job whose output lands in its
  own `commit=<uuid>` parquet directory — the `_SUCCESS` marker is the
  atomic commit point, exactly like the lake's segment writes
  (`LakeTable.segment_files`).
- A chunk's files carry one row per OUTPUT row plus an explicit
  zero-output marker row per input key that produced nothing (`__n_out=0`)
  — so "processed" is recorded even for silent keys and a gen() that
  filters everything still resumes correctly.
- On rerun, done keys = the keys present in committed chunk dirs; the
  input is anti-joined against them and only the remainder runs. A crash
  between chunk jobs loses at most one uncommitted chunk (its dir has no
  `_SUCCESS` and is ignored and overwritten-safe: fresh uuid per attempt).

The store is namespaced by a fingerprint of (output schema, params, key
columns): changing the UDF signature starts a fresh checkpoint rather
than resuming into mismatched output (the reference hashes the UDF for
the same reason).

Key semantics: the checkpoint key IDENTIFIES A UNIT OF WORK. Input rows
that are duplicates under the key are processed ONCE and (for map) each
receives the single stored output — the key columns must therefore
functionally determine the UDF's inputs (trivially true for the default
all-columns key; an explicit `checkpoint_on` that does not is a caller
contract violation, same as the reference's row-id keys). The key is a
64-bit xxhash64: at multi-billion-row scale hash collisions silently
merge two distinct work units (~6e-8 collision odds at 1e9 distinct
keys) — pass an explicit unique-id column as `checkpoint_on` when exact
identity matters at that scale. Both the UDF and everything upstream of
it must be deterministic (resume re-derives keys from the source).

Scale shape: the driver loop is over CHUNK JOBS, never rows; every step —
key hashing, anti-join, UDF, commit write — is a distributed DataFrame
op. The anti-join shuffles only key hashes (8 bytes/row); chunk selection
is a pmod filter on the same hash, so resume cost is O(remaining), not
O(done). The keyed input and the remaining set are persist()ed for the
duration of the chunk loop, so the source is scanned once — not once per
chunk (500 rescans of a 100M-row input at the default chunk size
otherwise).

Each chunk job is the caller's own UDF stage (`udf.row_runner`, the same
Arrow batch loop as the plain map/gen path, with the chunk repartitioned by
the same `settings(parallel=)`); this module only adds the key and `__n_out`
columns to its rows.

Concurrent resumes of one store are refused by an exclusive, non-blocking
`flock` on `<ns>/.resume_lock`, held for the chunk loop (two resumers would
run the same chunks twice; results would still dedupe by key, but the work
and the commit dirs would not). The kernel releases the lock when its
holder exits or dies, so a crash leaves nothing stale behind; the lock is
per open file, so two threads of one process exclude each other too. A
fully committed rerun takes no lock. The lock is only as good as the file
system's `flock` (local disks: exact).
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import math
import os
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KEY_COL = "__ckpt_key"
NOUT_COL = "__n_out"


def _fingerprint(out_schema: T.StructType, use: list[str], key_cols: list[str]) -> str:
    blob = json.dumps(
        {"schema": out_schema.jsonValue(), "params": use, "keys": key_cols}, sort_keys=True
    )
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def _committed_dirs(store_ns: str) -> list[str]:
    if not os.path.isdir(store_ns):
        return []
    return sorted(
        os.path.join(store_ns, d)
        for d in os.listdir(store_ns)
        if d.startswith("commit=")
        and os.path.exists(os.path.join(store_ns, d, "_SUCCESS"))
    )


class CheckpointLockedError(RuntimeError):
    """Another resumer holds this checkpoint namespace."""


@contextlib.contextmanager
def _resume_lock(ns: str) -> Iterator[None]:
    """Single-resumer guard (see the module docstring): an exclusive,
    non-blocking flock on `<ns>/.resume_lock`. The lock belongs to this
    open file description, so threads of one process exclude each other.
    The file is never unlinked — a racer that opened the old inode would
    then lock a different file than the next opener."""
    fd = os.open(os.path.join(ns, ".resume_lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise CheckpointLockedError(
                f"checkpoint namespace {ns} is being resumed by another process "
                "or thread; concurrent resumes of one store duplicate work"
            ) from None
        yield
    finally:
        os.close(fd)  # releases the lock


def checkpointed_udf(
    df: DataFrame,
    run: Callable,
    out_struct: T.StructType,
    store: str,
    use: list[str],
    key_cols: list[str] | None,
    rows_per_commit: int,
    is_gen: bool,
) -> DataFrame:
    """Run a per-row UDF with row-level resume; returns the output rows
    (map: out columns appended to the input via a KEY join; gen: out
    columns only). `run(df, emit, schema) -> DataFrame` is the caller's
    UDF stage (udf.row_runner over its sized input); `emit(pdf, outs)`
    here shapes each batch's per-row output tuples into keyed store rows."""
    import pandas as pd

    spark = df.sparkSession
    keys = list(key_cols) if key_cols else list(df.columns)
    keyed = df.withColumn(KEY_COL, F.xxhash64(*[F.col(c) for c in keys]))
    ns = os.path.join(store, _fingerprint(out_struct, use, keys))
    os.makedirs(ns, exist_ok=True)

    store_schema = T.StructType(
        [T.StructField(KEY_COL, T.LongType(), False)]
        + [T.StructField(f.name, f.dataType, True) for f in out_struct.fields]
        + [T.StructField(NOUT_COL, T.IntegerType(), False)]
    )
    nulls = (None,) * len(out_struct.fields)

    def emit(pdf, outs):
        rows = []
        for key, out in zip(pdf[KEY_COL].tolist(), outs):
            # no output -> an explicit zero-output marker: the key is DONE
            rows.extend([(key, *o, len(out)) for o in out] or [(key, *nulls, 0)])
        return pd.DataFrame(rows, columns=store_schema.names)

    def load_store() -> DataFrame:
        dirs = _committed_dirs(ns)
        if not dirs:
            return spark.createDataFrame([], store_schema)
        return spark.read.schema(store_schema).parquet(*dirs)

    done = load_store().select(KEY_COL).distinct()
    # duplicates under the key are ONE unit of work (see module docstring):
    # process each key once, whichever duplicate row carries it
    remaining = keyed.join(done, KEY_COL, "left_anti").dropDuplicates([KEY_COL])
    # persist for the chunk loop: the source is scanned ONCE, not once per
    # chunk job (and a non-deterministic upstream can't shift keys mid-loop);
    # the count below materializes the cache and decides the chunking
    remaining = remaining.persist()
    try:
        n_remaining = remaining.count()
        if n_remaining:  # a fully committed resume takes no lock
            n_chunks = max(1, math.ceil(n_remaining / rows_per_commit))
            with _resume_lock(ns):
                for i in range(n_chunks):
                    chunk = remaining.filter(F.pmod(F.col(KEY_COL), F.lit(n_chunks)) == i)
                    commit_dir = os.path.join(ns, f"commit={uuid.uuid4().hex[:12]}")
                    # parquet job commit (_SUCCESS) is the atomic checkpoint point
                    run(chunk, emit, store_schema).write.mode("overwrite").parquet(commit_dir)
    finally:
        # unpersist on EVERY exit — a CheckpointLockedError or a failed
        # chunk job must not leak the cached DataFrame for the session
        remaining.unpersist()

    produced = load_store().filter(F.col(NOUT_COL) > 0).drop(NOUT_COL)
    # only this input's keys (the store may hold more from wider past runs)
    produced = produced.join(keyed.select(KEY_COL).distinct(), KEY_COL, "left_semi")
    if is_gen:
        return produced.drop(KEY_COL)
    # map (1:1): ONE stored output per key — duplicate input rows under the
    # key were processed once (above) and a fn rerun of the same key (crash
    # replay of an uncommitted chunk) wrote identical rows, so keeping one
    # is exact; without this, K input duplicates joining K stored copies
    # inflated the output K^2-fold
    produced = produced.dropDuplicates([KEY_COL])
    # output columns overwrite same-named input columns (matching the
    # non-checkpoint mapInPandas path, where pdf[name] = ... replaces)
    collide = [c for c in keyed.columns if c != KEY_COL and c in set(out_struct.names)]
    return keyed.drop(*collide).join(produced, KEY_COL, "inner").drop(KEY_COL)
