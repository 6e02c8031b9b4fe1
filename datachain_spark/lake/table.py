"""LakeTable — a versioned, bucket-partitioned, merge-on-read table format.

An Iceberg-style snapshot store built from scratch (no Iceberg jars are
available in this environment): every commit writes an immutable JSON
manifest listing the parquet segment files of each hash bucket; linking
the manifest into `versions/` is the atomic commit point.

Write path = **merge-on-read** (Iceberg MOR semantics): a CDC batch
APPENDS one segment per touched bucket containing upsert after-images and
delete tombstones, each stamped with its event LSN — apply cost is
O(batch), never O(table) (copy-on-write would rewrite every touched
bucket per batch: quadratic over a bulk replay, measured 3x slower even
at 2M events). Read path resolves last-writer-wins per key with a
row_number window over `_lsn` within each bucket (a key's history lives
in exactly one bucket, so resolution never crosses bucket boundaries).
`compact()` rewrites multi-segment buckets to a single resolved segment —
amortized, like Iceberg data compaction — after which reads are
window-free again (a bucket needs resolution exactly when its files span
more than one write unit: `Snapshot.dirty`).

Write shuffle: `layout` is the one shuffle of every table write, and each
write task holds whole buckets. The TASK count is sized from the input's
bytes before any job runs (`write_tasks`): a small microbatch is written
by a few tasks, an input of `n_parts * WRITE_TASK_TARGET_BYTES` or more by
one task per bucket, whatever the session's parallelism. A bucket's task
is its rank among the written buckets mod that count, placed exactly, so a
compaction of 8 scattered buckets stays balanced. `last_writer_wins` runs
inside that partitioning: LWW and the write share one exchange.

Exactly-once append: `append` is the one batch commit protocol, used by
cdc.apply_batch and by incremental_dedup's fingerprint registry. It
writes the batch's unit `job=<job>/batch=<n>`, or reuses it when an
earlier attempt wrote it and crashed before its commit. It then reads
per-bucket rows, tombstones, the high-watermark LSN and candidate-column
non-null counts from the new files' parquet footers (no Spark job),
evolves the schema by the candidate columns that carry data, commits with
the batch's ledger row, and runs the staggered compaction (inline, async
or off). A caller checks `batch_committed` first, so a committed batch is
skipped before any work.

File layout: `LakeTable.write_segment` is the only writer of data files.
Each call writes one WRITE UNIT, a directory under `data/` named for its
writer: `job=<job>/batch=<n>` (`append`), `compact=<v>` (compaction),
`save=<v>` (Chain.save) and `delta=<v>` (delta_update). Inside a unit,
rows sit in `__bucket=<b>/*.parquet`; a snapshot maps each bucket to its
table-relative file paths. Every version after the first is derived from
a source snapshot by one helper (`_derive`).

This reproduces the reference's dataset-versioning pillar
(/root/reference/src/datachain/dataset.py:240-360 — per-version physical
tables; /root/reference/src/datachain/catalog/catalog.py:796-890 — version
creation) Spark-first: a version here is a snapshot manifest + tag instead
of a full table copy, and schema evolution is union-by-name with null
backfill on read (parquet readers fill missing columns with null when given
an explicit schema), mirroring Iceberg semantics rather than the reference's
SchemaDriftError (/root/reference/src/datachain/delta.py:58-97).

Scale notes (100 TB / 1000 executors):
- Data paths are listed in the manifest, so reads never list directories
  (and never start Spark's parallel file-listing job: see the listing
  threshold in session.get_spark).
- Bucket pruning: reads of K of B buckets scan only those buckets' files.
- Apply is O(batch); compaction is O(dirty-bucket data), amortized across
  batches and parallel over buckets; each is one shuffle.
- Manifests are O(B * segments-per-bucket) JSON — driver-side metadata,
  the same regime as Iceberg manifest lists. `expire_versions` bounds
  history; compaction bounds segments-per-bucket.
- Buckets are assigned by pmod(xxhash64(key), B): deterministic across
  cluster sizes and restarts.
- The exactly-once ledger is carried IN the snapshot as a per-job set of
  committed batch-id ranges (contiguous runs collapse to [lo, hi] pairs),
  so `batch_committed` is an O(1) driver-side dict lookup instead of an
  O(versions) manifest scan — and it survives `expire_versions`.

Durability assumption: the atomic commit point is POSIX `link(2)` of the
fully written, fsynced manifest into `versions/` (`_write_manifest`; plus
`os.listdir` for version discovery). Unlike rename(2), link(2) fails if
the version exists, so two committers cannot both claim one. It is
atomic-and-visible on local disks, NFS, and HDFS-like stores. On S3-style
object stores this protocol needs a real catalog (conditional PUT /
compare-and-swap, as Iceberg's catalog layer provides); the table format
itself — immutable manifests + immutable data files — ports unchanged.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark import semver
from datachain_spark.frames import input_bytes, local_frame

# Internal per-row metadata columns: LSN of the producing event, and the
# delete-tombstone marker (merge-on-read).
LSN_COL = "_lsn"
DELETED_COL = "_deleted"
META_FIELDS = [
    T.StructField(LSN_COL, T.LongType(), True),
    T.StructField(DELETED_COL, T.BooleanType(), True),
]
# Column holding a row's bucket id in a frame handed to write_segment; the
# write turns it into the `__bucket=<b>` directory level, not a file column.
BUCKET_COL = "__bucket"

# Input bytes per write task (write_tasks). Measured at local[4] on a
# 4-core VM, applying 0.27-1.36 MB of cdc_replay-shaped parquet into 32
# buckets at 1-32 write tasks (72 applies): a write task costs 16 ms of
# executor CPU fixed (12 ms of it deserializing the task) plus 0.15 s per
# MB of input, so fixed and per-byte cost break even at ~105 KB. 256 KiB,
# ~2.5x that, keeps the fixed part under ~30% of a task's CPU. At 268 KB
# (one microbatch) the apply's process CPU fell 1.06 -> 0.48 s and its
# wall time 0.46 -> 0.31 s going from 32 tasks to 2; one task used the
# least CPU (0.36 s) but the most wall time (0.42 s).
WRITE_TASK_TARGET_BYTES = 256 * 1024


def write_tasks(n_parts: int, nbytes: int | None) -> int:
    """Task count of a write stage of `n_parts` buckets: the smallest
    divisor P of n_parts with P * WRITE_TASK_TARGET_BYTES >= nbytes, so
    every task holds whole buckets (the bucket of rank r -> task r mod P)
    and a bucket is still one file. `n_parts` when the size is unknown or
    large."""
    if nbytes is None:
        return n_parts
    fits = (p for p in range(1, n_parts) if p * WRITE_TASK_TARGET_BYTES >= nbytes)
    return next((p for p in fits if n_parts % p == 0), n_parts)


# A row's write task in a `layout` frame (write_segment drops it).
TASK_COL = "__task"
# n -> integer literals k_p with pmod(murmur3(k_p), n) == p
_PKEY_CACHE: dict[int, list[int]] = {}


def _perfect_partition_keys(spark: SparkSession, n: int) -> list[int]:
    """Keys k_p with pmod(hash(k_p), n) == p (F.hash IS the partitioner's
    Murmur3), so a row keyed k_p lands in partition p. Hashing 64 combo ids
    into 64 partitions instead is balls-in-bins — measured: 21 partitions
    empty, one holding 4 combos, a visible share of the 8->32 scaling gap.
    Searched 64n candidates at a time over a driver-local frame (no Spark
    job; a residue stays unhit with probability ~e^-64), cached per n."""
    if n not in _PKEY_CACHE:
        found: dict[int, int] = {}
        lo = 0
        while len(found) < n:
            ks = local_frame(
                spark, T.StructType([T.StructField("k", T.IntegerType())]),
                {"k": list(range(lo, lo + 64 * n))},
            )
            for k, p in ks.select("k", F.pmod(F.hash("k"), F.lit(n))).collect():
                found.setdefault(p, k)
            lo += 64 * n
        _PKEY_CACHE[n] = [found[p] for p in range(n)]
    return _PKEY_CACHE[n]


def place(df: DataFrame, task: str, n: int) -> DataFrame:
    """`df` hash-partitioned into n partitions with each row in partition
    `task` exactly (`task`: a SQL int expression in [0, n)), through the
    row's perfect partition key in `TASK_COL`. One parsed F.expr string:
    an F.array(*[F.lit(k) x n]) form cost ~36ms of py4j round trips at 64
    partitions."""
    keys = ",".join(map(str, _perfect_partition_keys(df.sparkSession, n)))
    key = F.expr(f"element_at(array({keys}), {task} + 1)")
    return df.withColumn(TASK_COL, key).repartition(n, TASK_COL)


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
    table_root: str, files: dict[int, list[str]], cand_cols: list[str]
) -> dict[int, dict[str, Any]]:
    """Per-bucket {n, n_del, hwm, cand} of a segment's files (bucket ->
    table-relative paths, as LakeTable.write_segment returns them) from
    parquet footer metadata — driver-side, parallel over files (footer reads
    release the GIL in pyarrow). At 10^10 scale this is O(files) footer
    reads of the just-written segment (page-cache-hot), the same trick
    Iceberg uses for its manifest column stats; on a real cluster the
    equivalent is a tiny stats job or Iceberg's write-time metrics."""
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


def _add_committed(committed: dict[str, list[list[int]]], job_id: str, batch_id: int) -> None:
    """Fold one committed batch id into a job's merged [lo, hi] range list
    (kept sorted; adjacent ranges coalesce, so in-order replay stays at one
    range per job)."""
    rs = committed.setdefault(job_id, [])
    rs.append([batch_id, batch_id])
    rs.sort()
    merged: list[list[int]] = []
    for lo, hi in rs:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    committed[job_id] = merged


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: str
    num_buckets: int
    key_cols: list[str]
    buckets: dict[int, list[str]]  # bucket -> relative parquet segment paths
    watermarks: dict[int, int]  # bucket -> high-watermark LSN applied
    tag: str | None = None
    ledger: dict[str, Any] | None = None  # commit-manifest row (exactly-once)
    # job_id -> merged [lo, hi] committed-batch ranges (exactly-once lookup)
    committed: dict[str, list[list[int]]] = field(default_factory=dict)
    props: dict[str, Any] = field(default_factory=dict)
    created_at: float = 0.0

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    @property
    def dirty(self) -> dict[int, bool]:
        """Bucket -> needs LWW resolution on read: its files span more than
        one write unit (a path's part before `/__bucket=`; a path without
        one is its own unit). A unit holds at most one row per key, so a
        single-unit bucket needs only its tombstones filtered."""
        return {
            b: len({p.split("/__bucket=")[0] for p in fl}) > 1 for b, fl in self.buckets.items()
        }

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema_json,
                "num_buckets": self.num_buckets,
                "key_cols": self.key_cols,
                "buckets": {str(k): v for k, v in self.buckets.items()},
                "watermarks": {str(k): v for k, v in self.watermarks.items()},
                "tag": self.tag,
                "ledger": self.ledger,
                "committed": self.committed,
                "props": self.props,
                "created_at": self.created_at,
            },
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, s: str) -> "Snapshot":
        d = json.loads(s)
        return cls(
            version=d["version"],
            parent=d["parent"],
            schema_json=d["schema"],
            num_buckets=d["num_buckets"],
            key_cols=d.get("key_cols", []),
            buckets={int(k): v for k, v in d["buckets"].items()},
            watermarks={int(k): v for k, v in d.get("watermarks", {}).items()},
            tag=d.get("tag"),
            ledger=d.get("ledger"),
            committed=d.get("committed") or {},
            props=d.get("props") or {},
            created_at=d.get("created_at", 0.0),
        )


class LakeTable:
    """One versioned table rooted at a directory."""

    def __init__(self, root: str):
        self.root = root
        self._snap_cache: dict[int, Snapshot] = {}
        # serializes manifest commits (the compaction worker thread and the
        # apply thread both commit); Spark job submission itself is
        # thread-safe and stays OUTSIDE the lock
        self._commit_lock = threading.Lock()
        self._compact_pool: ThreadPoolExecutor | None = None
        self._compact_future: Future | None = None

    # ---------- paths ----------
    def _versions_dir(self) -> str:
        return os.path.join(self.root, "versions")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._versions_dir(), f"v{version:012d}.json")

    def data_dir(self, *parts: str) -> str:
        return os.path.join(self.root, "data", *parts)

    # ---------- lifecycle ----------
    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
        bloom_filter_cols: list[str] | None = None,
        bloom_filter_ndv: int = 100_000,
    ) -> "LakeTable":
        """`bloom_filter_cols` turns on parquet bloom filters for those
        columns in every segment/compaction write (Delta's
        delta.bloomFilter analog): point lookups (read_keys) then skip
        row groups even where min/max stats are useless — a high-NDV key
        inside an unsorted bucket is exactly that case. `bloom_filter_ndv`
        sizes the filter per row group (~1.25 bytes/key at 1% fpp; the
        parquet-mr default of 1M NDV would bloat small segments)."""
        t = LakeTable(root)
        os.makedirs(t._versions_dir(), exist_ok=True)
        os.makedirs(t.data_dir(), exist_ok=True)
        props: dict[str, Any] = {}
        if bloom_filter_cols:
            # `table.*` props are inherited by every later commit (like the
            # `dataset.*` metadata) — the write config must survive applies
            props["table.bloom_filter_cols"] = list(bloom_filter_cols)
            props["table.bloom_filter_ndv"] = int(bloom_filter_ndv)
        snap = Snapshot(
            version=0,
            parent=None,
            schema_json=json.dumps(schema.jsonValue()),
            num_buckets=num_buckets,
            key_cols=list(key_cols),
            buckets={},
            watermarks={},
            created_at=time.time(),
            props=props,
        )
        t._write_manifest(snap)
        return t

    def parquet_write_options(self) -> dict[str, str]:
        """Per-column parquet writer options every data write (segment
        append, compaction rewrite) must apply — currently the bloom
        filter settings from create(bloom_filter_cols=...). Reads are
        zero-config: parquet-mr consults the filter automatically for
        pushed equality predicates."""
        props = self.snapshot().props
        cols = props.get("table.bloom_filter_cols") or []
        ndv = str(props.get("table.bloom_filter_ndv", 100_000))
        opts: dict[str, str] = {}
        for c in cols:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = ndv
        return opts

    # ---------- data files ----------
    def layout(self, df: DataFrame, buckets: list[int] | None = None) -> DataFrame:
        """The table's write shuffle (module docstring): `df` with its rows'
        `BUCKET_COL` (kept if the caller set it) and `TASK_COL`, hash-
        partitioned so each write task holds whole buckets. `buckets` are
        the buckets being written (default: all); a bucket's task is its
        rank among them mod the task count. A table without key columns is
        one bucket, 0, written with no shuffle."""
        snap = self.snapshot()
        if not snap.key_cols:
            return df.withColumn(BUCKET_COL, F.lit(0))
        if BUCKET_COL not in df.columns:
            df = df.withColumn(BUCKET_COL, self.bucket_expr())
        sel = range(snap.num_buckets) if buckets is None else sorted(buckets)
        rank = {b: i for i, b in enumerate(sel)}
        n = write_tasks(len(rank), input_bytes(df))
        tasks = ",".join(str(rank.get(b, 0) % n) for b in range(snap.num_buckets))
        return place(df, f"element_at(array({tasks}), {BUCKET_COL} + 1)", n)

    def last_writer_wins(self, df: DataFrame) -> DataFrame:
        """Each key's latest row of a `layout` frame: sort each partition by
        key, then `_lsn` descending (nulls last, as `_resolve`), and keep
        the first row of each key. A key's copies share a task and the
        window partitions by `TASK_COL`, so this adds no exchange."""
        keys = self.snapshot().key_cols
        key = F.struct(*[F.col(c) for c in keys])
        w = Window.partitionBy(TASK_COL).orderBy(*[F.col(c) for c in keys], F.col(LSN_COL).desc())
        prev = F.lag(key).over(w)
        first = df.withColumn("__first", prev.isNull() | (prev != key))
        return first.filter("__first").drop("__first")

    def write_segment(self, df: DataFrame, unit: str) -> dict[int, list[str]]:
        """Write `df` as the write unit `data/<unit>` and return its files,
        bucket -> table-relative parquet paths (module docstring). Each row's
        bucket id comes from its `BUCKET_COL` column; `layout` partitions
        `df` into the write's tasks (one task writes one file per bucket it
        holds). Overwrites an earlier, uncommitted attempt."""
        (
            df.drop(TASK_COL)
            .write.mode("overwrite")
            .options(**self.parquet_write_options())
            .partitionBy(BUCKET_COL)
            .parquet(self.data_dir(unit))
        )
        files = self.segment_files(unit)
        if files is None:  # the session turned Spark's _SUCCESS marker off
            raise RuntimeError(f"the parquet write of {unit} left no _SUCCESS marker")
        return files

    def segment_files(self, unit: str) -> dict[int, list[str]] | None:
        """Files of a finished write unit as write_segment returns them
        (buckets without files are left out), or None if `unit` holds no
        finished write: Spark's job commit writes `_SUCCESS` last, so a unit
        without it was never written or its writer crashed mid-write."""
        unit_dir = self.data_dir(unit)
        if not os.path.exists(os.path.join(unit_dir, "_SUCCESS")):
            return None
        files: dict[int, list[str]] = {}
        for entry in os.listdir(unit_dir):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            bdir = os.path.join(unit_dir, entry)
            fl = sorted(
                os.path.relpath(os.path.join(bdir, f), self.root)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            )
            if fl:
                files[int(entry.split("=", 1)[1])] = fl
        return files

    @staticmethod
    def exists(root: str) -> bool:
        d = os.path.join(root, "versions")
        return os.path.isdir(d) and any(f.endswith(".json") for f in os.listdir(d))

    # ---------- versions ----------
    def versions(self) -> list[int]:
        d = self._versions_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no versions in {self.root}")
        return vs[-1]

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v not in self._snap_cache:
            with open(self._manifest_path(v)) as f:
                self._snap_cache[v] = Snapshot.from_json(f.read())
        return self._snap_cache[v]

    def resolve(self, version: int | str | None = None, as_of=None) -> int:
        """The snapshot id a version argument names: None is HEAD; an int or
        digit string is that id; a specifier (">=1.0,<2", "~=1.2";
        `semver.matches`) is the highest matching semver tag; any other
        string is the newest live version with that tag ("1.2.0" and
        "v1.2.0" are one tag). `as_of` is timestamp time travel."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            return self.version_at(as_of)
        if version is None:
            return self.current_version()
        if isinstance(version, int) or version.isdecimal():
            return int(version)
        if semver.is_specifier(version):
            hits = [
                (p, v)
                for v, t in self.tags()
                if (p := semver.parse_tag(t)) and semver.matches(t, version)
            ]
            if not hits:
                raise KeyError(f"no version of {self.root} matches specifier {version!r}")
            return max(hits)[1]
        hits = self._tagged(version)
        if not hits:
            raise KeyError(f"tag {version!r} not found in {self.root}")
        return hits[-1]

    def tags(self) -> list[tuple[int, str]]:
        """(version, tag) of every live tagged version, oldest first."""
        return [(v, t) for v in self.versions() if (t := self.snapshot(v).tag)]

    def _tagged(self, tag: str) -> list[int]:
        """Live versions carrying `tag`: two semver tags are one tag when
        their values are equal, a free-form tag matches exactly."""
        key = semver.parse_tag(tag) or tag
        return [v for v, t in self.tags() if (semver.parse_tag(t) or t) == key]

    def _refuse_taken(self, tag: str | None) -> None:
        if tag is not None and (taken := self._tagged(tag)):
            raise ValueError(f"tag {tag!r} is already on version {taken[-1]} of {self.root}")

    def next_tag(self, update_version: str = "patch") -> str:
        """The highest live semver tag ("1.2.3" or "v1.2.3") bumped by
        `update_version` (major/minor/patch), as "v<major>.<minor>.<patch>";
        "v1.0.0" when no version carries a semver tag."""
        if update_version not in ("major", "minor", "patch"):
            raise ValueError(f"update_version must be major/minor/patch, got {update_version!r}")
        parsed = [p for _, t in self.tags() if (p := semver.parse_tag(t))]
        if not parsed:
            return "v1.0.0"
        major, minor, patch = max(parsed)
        bumped = {
            "major": (major + 1, 0, 0),
            "minor": (major, minor + 1, 0),
            "patch": (major, minor, patch + 1),
        }[update_version]
        return "v" + semver.create(*bumped)

    def version_at(self, ts) -> int:
        """Timestamp time travel (Delta's TIMESTAMP AS OF / Iceberg's
        snapshot-at): the latest version whose commit time is <= ts.
        Accepts an epoch float, a datetime, or an ISO-8601 string (naive
        strings are taken as UTC, matching the commit clock). Raises if ts
        predates the table. O(versions) manifest metadata, no Spark job."""
        import datetime as _dt

        if isinstance(ts, str):
            parsed = _dt.datetime.fromisoformat(ts)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt.timezone.utc)
            ts = parsed.timestamp()
        elif isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        best = None
        for v in self.versions():
            if self.snapshot(v).created_at <= ts:
                best = v
            else:
                break
        if best is None:
            raise KeyError(f"no version at or before ts={ts} in {self.root}")
        return best

    def _write_manifest(self, snap: Snapshot) -> None:
        """Atomic commit: full write to tmp + fsync, then `os.link` into
        place. link(2) — unlike rename(2) — FAILS if the target exists, so
        the version-number claim itself is atomic: two committers racing
        for version N+1 (e.g. a tag commit vs an async-compaction commit
        from another process) get one winner and one loud FileExistsError
        instead of a silently clobbered manifest."""
        path = self._manifest_path(snap.version)
        tmp = path + f".tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise FileExistsError(f"version {snap.version} already committed") from None
        finally:
            os.remove(tmp)
        self._snap_cache[snap.version] = snap

    # ---------- schema / buckets ----------
    @property
    def schema(self) -> T.StructType:
        return self.snapshot().schema

    @property
    def num_buckets(self) -> int:
        return self.snapshot().num_buckets

    def bucket_expr(self, *key_cols: str) -> Column:
        """Deterministic bucket id — stable across cluster sizes/restarts.
        Defaults to the table's first key column (bucket(conv_id) layout)."""
        cols = key_cols or tuple(self.snapshot().key_cols[:1])
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(self.num_buckets)).cast("int")

    # ---------- read ----------
    def _files(self, snap: Snapshot, buckets: list[int] | None = None) -> list[str]:
        sel = snap.buckets if buckets is None else {b: snap.buckets.get(b, []) for b in buckets}
        return [os.path.join(self.root, p) for fl in sel.values() for p in fl]

    @staticmethod
    def _read_schema(snap: Snapshot) -> T.StructType:
        """A snapshot's data files as read: the payload schema plus the
        per-row metadata columns (explicit, so pre-evolution files surface
        later-added columns as null)."""
        return T.StructType(list(snap.schema.fields) + META_FIELDS)

    @staticmethod
    def _with_change_type(df: DataFrame) -> DataFrame:
        """Changelog rows: the tombstone marker becomes `_change_type`."""
        is_delete = F.coalesce(F.col(DELETED_COL), F.lit(False))
        return df.withColumn(
            "_change_type", F.when(is_delete, F.lit("delete")).otherwise(F.lit("upsert"))
        ).drop(DELETED_COL)

    def _read_raw(
        self,
        spark: SparkSession,
        snap: Snapshot,
        buckets: list[int] | None,
    ) -> DataFrame:
        read_schema = self._read_schema(snap)
        files = self._files(snap, buckets)
        if not files:
            return local_frame(spark, read_schema)
        return spark.read.schema(read_schema).parquet(*files)

    def _resolve(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Merge-on-read LWW resolution for reads of dirty buckets: latest
        `_lsn` per key wins; tombstones drop. A key's segments all live in
        one bucket, so the window shuffle is bucket-local data, never
        cross-key."""
        w = Window.partitionBy(*key_cols).orderBy(F.col(LSN_COL).desc())
        keep = (F.col("__rn") == 1) & ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        return df.withColumn("__rn", F.row_number().over(w)).filter(keep).drop("__rn")

    def read(
        self,
        spark: SparkSession,
        version: int | str | None = None,
        buckets: list[int] | None = None,
        with_meta: bool = False,
        as_of=None,
    ) -> DataFrame:
        """Read the snapshot `resolve(version, as_of)` names (a snapshot id,
        a tag, a semver specifier or timestamp time travel; HEAD by
        default), optionally bucket-pruned.

        The explicit schema makes old files (pre-evolution) surface added
        columns as null — Iceberg-style union-by-name on read. Dirty
        buckets (`Snapshot.dirty`) get LWW resolution; single-unit buckets
        scan straight through (no window)."""
        snap = self.snapshot(self.resolve(version, as_of))
        sel = sorted(snap.buckets) if buckets is None else buckets
        needs_lww = snap.dirty
        dirty = [b for b in sel if needs_lww.get(b)]
        clean = [b for b in sel if not needs_lww.get(b)]
        parts = []
        if clean:
            # clean (compacted) buckets are LWW-resolved but MAY carry
            # retained tombstones (compact(retain_tombstones=True)) — a
            # cheap codegen filter, no window needed
            parts.append(
                self._read_raw(spark, snap, clean).filter(
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                )
            )
        if dirty:
            parts.append(self._resolve(self._read_raw(spark, snap, dirty), snap.key_cols))
        if not parts:
            df = self._read_raw(spark, snap, [])
        else:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        if not with_meta:
            df = df.drop(LSN_COL, DELETED_COL)
        return df

    def buckets_for(self, spark: SparkSession, values: list) -> dict:
        """Bucket id per bucketing-key value (the table buckets on its
        first key column). Evaluates the SAME JVM xxhash64 expression the
        writer used — no Python reimplementation to drift — over a
        driver-local Arrow frame, so it runs no Spark job.
        O(len(values)) driver metadata."""
        kcol = self.snapshot().key_cols[0]
        ktype = next(f.dataType for f in self.snapshot().schema.fields if f.name == kcol)
        df = local_frame(spark, T.StructType([T.StructField(kcol, ktype)]), {kcol: list(values)})
        rows = df.select(F.col(kcol), self.bucket_expr().alias("__b")).collect()
        return {r[kcol]: int(r["__b"]) for r in rows}

    def read_keys(
        self,
        spark: SparkSession,
        values: list,
        version: int | str | None = None,
        with_meta: bool = False,
        as_of=None,
    ) -> DataFrame:
        """Point lookups at table scale: resolve the values' buckets
        driver-side (no job), read ONLY those buckets (1/num_buckets of the
        table per distinct key), and push the key equality into the scan —
        with a zorder_by compaction layout the parquet row-group stats
        prune inside the bucket too, so a one-conversation read touches a
        handful of row groups out of 100 TB.

        Lookups key on the FIRST key column only (the bucketing column);
        for a composite-key table the result is every row whose first key
        component matches — filter the remaining components on the
        returned frame."""
        if not values:
            raise ValueError("read_keys needs at least one key value")
        kcol = self.snapshot().key_cols[0]
        bmap = self.buckets_for(spark, values)
        df = self.read(
            spark,
            version=version,
            buckets=sorted(set(bmap.values())),
            with_meta=with_meta,
            as_of=as_of,
        )
        cond = (
            F.col(kcol) == F.lit(values[0])
            if len(values) == 1
            else F.col(kcol).isin(list(values))
        )
        return df.filter(cond)

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        until_version: int | None = None,
    ) -> DataFrame:
        """Changelog read (Delta Change Data Feed / Iceberg incremental-scan
        analog; the reference's nearest surface is whole-dataset diff,
        src/datachain/diff/__init__.py:117-184, which rescans BOTH sides):
        the row-level changes committed in versions (since, until], straight
        from the segment files those commits ADDED — manifest set-difference
        picks the files driver-side (O(files) metadata, no data diff), so
        the scan cost is proportional to the CHANGES, never the table.

        Each row carries `_change_type` ('upsert'/'delete'),
        `_commit_version`, and `_lsn`. Rows are the committed segment rows:
        per batch, the within-batch LWW winner per key (the apply fuses
        batch dedup into the write). Compaction commits rewrite existing
        rows without logical change and are excluded (props marker);
        tag/metadata-only commits add no files and contribute nothing.
        Incremental consumers chain: next call's `since` = this call's
        `until`. Raises KeyError if a manifest in range was expired."""
        until = self.current_version() if until_version is None else until_version
        if not 0 <= since_version <= until:
            raise ValueError(
                f"need 0 <= since ({since_version}) <= until ({until})"
            )
        parts: list[DataFrame] = []
        for v in range(since_version + 1, until + 1):
            try:
                snap = self.snapshot(v)
                prev = self.snapshot(v - 1)
            except FileNotFoundError as e:  # expired manifest
                raise KeyError(
                    f"version {v} manifest missing (expired?); cannot "
                    f"reconstruct changes for ({since_version}, {until}]"
                ) from e
            if snap.props.get("compaction"):
                continue
            prev_files = {b: set(fl) for b, fl in prev.buckets.items()}
            added = [
                os.path.join(self.root, p)
                for b, fl in snap.buckets.items()
                for p in fl
                if p not in prev_files.get(b, set())
            ]
            if not added:
                continue
            parts.append(
                spark.read.schema(self._read_schema(snap))
                .parquet(*added)
                .withColumn("_commit_version", F.lit(v).cast("int"))
            )
        if not parts:
            schema = T.StructType(
                list(self._read_schema(self.snapshot(until)).fields)
                + [T.StructField("_commit_version", T.IntegerType(), False)]
            )
            out = local_frame(spark, schema)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
        return self._with_change_type(out)

    def stream_changes(
        self,
        spark: SparkSession,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """CDC-out: the table's changelog as a STREAMING DataFrame (Delta
        CDF readStream analog) — downstream consumers subscribe to every
        upsert/delete the appliers commit, instead of re-diffing snapshots.

        Built on Spark's file-streaming source over the segment layout:
        the `job=*/batch=*/__bucket=*` glob picks up the appended change
        segments as they land and NEVER the `compact=*` rewrites, so
        compaction is invisible. The source's processed-file log gives
        exactly-once PER SEGMENT FILE; rows carry `_change_type` and
        `_lsn` (commit-version attribution needs the manifest and is a
        batch-read concern — use read_changes for audited ranges).

        Delivery contract (r5 ADVICE): this is AT-LEAST-ONCE with possible
        phantoms, weaker than read_changes. Because the glob bypasses the
        manifest, a segment written by an apply attempt that crashes AFTER
        its files land but BEFORE the manifest commit is still emitted
        (a phantom: the recovering applier reuses the same files, so the
        rows are usually committed eventually, but a permanently abandoned
        attempt's rows are not), and an overwrite-retry that renames part
        files can double-emit rows. Downstream consumers must be LWW-
        idempotent on (key, _lsn) — the same absorption rule every reader
        of this table already applies. For committed-only audited reads,
        poll read_changes over committed version ranges instead.
        Pre-evolution files surface later-added columns as NULL via the
        explicit read schema, which is pinned at stream START: restart
        the stream to pick up newer columns."""
        reader = spark.readStream.schema(self._read_schema(self.snapshot()))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        out = reader.parquet(self.data_dir("job=*", "batch=*", f"{BUCKET_COL}=*"))
        return self._with_change_type(out)

    # ---------- commit ----------
    def _derive(
        self, src: Snapshot, props: dict[str, Any] | None = None, **fields: Any
    ) -> Snapshot:
        """The next version (HEAD + 1) as a child of `src`: `src`'s content,
        its committed-batch set and its `dataset.*`/`table.*` props (the
        reference keeps a dataset's description/attrs on the dataset record,
        not the version, dataset.py:423-424; `table.*` is the write config),
        then `props` on top (a key mapped to None is removed). Per-commit
        props such as {"compaction": True}, the tag and the ledger row are
        not inherited; `fields` sets them and any other field. Callers hold
        the commit lock."""
        inherited = {k: v for k, v in src.props.items() if k.startswith(("dataset.", "table."))}
        for k, v in (props or {}).items():
            if v is None:
                inherited.pop(k, None)
            else:
                inherited[k] = v
        base: dict[str, Any] = {
            "version": self.current_version() + 1,
            "parent": src.version,
            "buckets": dict(src.buckets),
            "watermarks": dict(src.watermarks),
            "tag": None,
            "ledger": None,
            "committed": {j: [list(r) for r in rs] for j, rs in src.committed.items()},
            "props": inherited,
            "created_at": time.time(),
        }
        return dataclasses.replace(src, **{**base, **fields})

    def commit(
        self,
        append_bucket_files: dict[int, list[str]] | None = None,
        replace_bucket_files: dict[int, list[str]] | None = None,
        compacted_from: dict[int, list[str]] | None = None,
        schema: T.StructType | None = None,
        watermark_updates: dict[int, int] | None = None,
        ledger: dict[str, Any] | None = None,
        tag: str | None = None,
        props: dict[str, Any] | None = None,
    ) -> int:
        """Commit a new version. `append_bucket_files` adds MOR segments;
        `replace_bucket_files` swaps a bucket's segment list (compaction).
        With `compacted_from` (the exact input files the compaction
        resolved), only THOSE files are replaced: segments appended to the
        bucket after the compaction read survive as residuals (so the
        bucket stays dirty) — this is what makes compaction safe to run
        CONCURRENTLY with appends (Iceberg's rewrite-files validation, done
        set-wise here). Without it the swap is whole-list. Untouched buckets inherit the
        parent's files. Paths are relative to the table root. Commits, and
        the refusal of a `tag` a live version carries, hold the commit lock."""
        with self._commit_lock:
            self._refuse_taken(tag)
            snap = self._derive(self.snapshot(), props=props, tag=tag, ledger=ledger)
            if schema:
                snap.schema_json = json.dumps(schema.jsonValue())
            buckets = snap.buckets
            for b, fl in (append_bucket_files or {}).items():
                buckets[b] = buckets.get(b, []) + list(fl)
            for b, fl in (replace_bucket_files or {}).items():
                if compacted_from is not None and b in compacted_from:
                    eaten = set(compacted_from[b])
                    residual = [p for p in buckets.get(b, []) if p not in eaten]
                    buckets[b] = list(fl) + residual
                else:
                    buckets[b] = list(fl)
            for b, lsn in (watermark_updates or {}).items():
                snap.watermarks[b] = max(lsn, snap.watermarks.get(b, -1))
            if ledger is not None and "job_id" in ledger and "batch_id" in ledger:
                _add_committed(snap.committed, str(ledger["job_id"]), int(ledger["batch_id"]))
            self._write_manifest(snap)
            return snap.version

    def overwrite(
        self, df: DataFrame, writer: str, tag: str | None = None, props: dict | None = None
    ) -> int:
        """Commit `df` as the table's whole content (Chain.save,
        delta_update): one `layout` write as the unit `<writer>=<version>`,
        then every bucket is replaced and the schema becomes `df`'s. A taken
        `tag` is refused before any file is written."""
        self._refuse_taken(tag)
        unit = f"{writer}={self.current_version() + 1}"
        replace: dict[int, list[str]] = {b: [] for b in range(self.num_buckets)}
        replace.update(self.write_segment(self.layout(df), unit))
        return self.commit(replace_bucket_files=replace, schema=df.schema, tag=tag, props=props)

    def tag_version(self, tag: str, version: int | None = None) -> int:
        """Create a tagged (semver) alias version — a metadata-only commit,
        mirroring the reference's dataset version registration
        (/root/reference/src/datachain/dataset.py:419-448). Serialized
        under the commit lock like every other commit: a tag racing a
        concurrent apply/async-compaction commit must not both read the
        same HEAD and claim the same version number. Tagging an older
        version makes its content HEAD again. A tag that a live version
        already carries is refused."""
        with self._commit_lock:
            self._refuse_taken(tag)
            snap = self._derive(self.snapshot(version), tag=tag)
            self._write_manifest(snap)
            return snap.version

    def edit_props(self, updates: dict[str, Any]) -> int:
        """Metadata-only commit updating dataset-level props (the storage
        behind edit_dataset — reference catalog.py:1560-1582 update_dataset
        with description/attrs). A key mapped to None is REMOVED; all other
        `dataset.*` keys are inherited. The commit is untagged, so a tag
        stays on the one version it names, and a HEAD read after an edit
        reports the snapshot id as its `.version`."""
        return self.commit(props=updates)

    # ---------- compaction ----------
    def compact(
        self,
        spark: SparkSession,
        max_segments: int = 8,
        max_buckets: int | None = None,
        retain_tombstones: bool = True,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Rewrite buckets with more than `max_segments` segments into
        resolved (LWW) segments. `max_buckets` staggers the work — only the
        worst offenders per call — so a steady append workload (every batch
        touches every bucket) pays a smooth, bounded compaction tax per
        batch instead of a periodic full-table rewrite. Parallel over
        buckets, in one shuffle: `layout` places each rewritten bucket on
        one write task and `last_writer_wins` resolves it there, so the
        bucket is one file. Returns the new version, or None if nothing
        needed compaction.

        `retain_tombstones=True` (default) keeps each deleted key's WINNING
        tombstone row (`_deleted`, `_lsn`) in the compacted output instead
        of erasing it: under unordered delivery a redelivered stale upsert
        (lsn below the delete) appended AFTER compaction must still lose
        LWW to the delete — erasing the tombstone would resurrect the key
        (Cassandra keeps tombstones for gc_grace for the same reason).
        Reads filter retained tombstones with a codegen predicate, so
        clean-bucket scans stay window-free. Pass False only when the
        writer guarantees no event at-or-below the bucket watermark can
        ever be appended (e.g. the `lsn_ordered=True` replay path, whose
        per-bucket high-watermark filter drops redeliveries pre-write) —
        then tombstones are garbage the moment they are compacted.

        `zorder_by` clusters each rewritten bucket's rows on the Morton
        curve of the given columns (operators/zorder.py — Delta's OPTIMIZE
        ZORDER analog), so parquet row-group min/max stats prune reads
        filtered on ANY of those columns (e.g. `["conv_id", "ts"]` serves
        both one-conversation reads and time-window scans). Bounds come
        from a column-pruned aggregate over the PRE-resolve raw scan —
        a superset, so the bounds cover the resolved rows without running
        the LWW window twice."""
        snap = self.snapshot()
        todo = [b for b, fl in snap.buckets.items() if len(fl) > max_segments]
        if not todo:
            return None
        if max_buckets is not None and len(todo) > max_buckets:
            todo = sorted(todo, key=lambda b: -len(snap.buckets[b]))[:max_buckets]
        raw = self._read_raw(spark, snap, todo)
        # one exchange: a bucket is one combo, so it is one task and one file
        out = self.last_writer_wins(self.layout(raw, buckets=todo))
        if not retain_tombstones:
            out = out.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if zorder_by:
            from datachain_spark.operators.zorder import zorder_code

            out = (
                out.withColumn("__z", zorder_code(out, zorder_by, stats_df=raw))
                .sortWithinPartitions(BUCKET_COL, "__z")
                .drop("__z")
            )
        # a bucket whose rows all resolved away keeps no files
        replace: dict[int, list[str]] = {b: [] for b in todo}
        replace.update(self.write_segment(out, f"compact={snap.version + 1}"))
        # compacted_from = the exact input files this pass resolved: a
        # commit that lands between our snapshot read and this commit may
        # have appended NEW segments to `todo` buckets — those survive as
        # residuals and the bucket stays dirty (concurrent-append safety)
        return self.commit(
            replace_bucket_files=replace,
            compacted_from={b: list(snap.buckets[b]) for b in todo},
            props={"compaction": True},
        )

    def compact_async(
        self,
        spark: SparkSession,
        max_segments: int = 8,
        max_buckets: int | None = None,
        retain_tombstones: bool = True,
    ) -> bool:
        """Submit one compact() pass to the table's background worker and
        return immediately — the batch-apply loop stops paying the
        compaction jobs' driver submission gaps inside its measured window
        (they overlap the NEXT batch's scan/shuffle stages instead; at 32
        cores those gaps were a visible share of the residual per-batch
        serial cost). Safe because commit() is lock-serialized and the
        compaction commit replaces only its `compacted_from` inputs.

        One pass in flight at a time: if the previous pass is still
        running, this call is a no-op returning False (compaction is
        amortized — skipping a turn just leaves the work for the next
        call). A finished pass's error is re-raised here or in
        drain_compaction()."""
        if self._compact_future is not None:
            if not self._compact_future.done():
                return False
            self._compact_future.result()  # surface any error
        if self._compact_pool is None:
            self._compact_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix=f"compact-{os.path.basename(self.root)}"
            )
        self._compact_future = self._compact_pool.submit(
            self.compact, spark, max_segments, max_buckets, retain_tombstones
        )
        return True

    def drain_compaction(self) -> int | None:
        """Wait for the in-flight async compaction (if any); returns its
        committed version (None if none ran/needed). Call at end-of-replay
        or before shutdown."""
        fut, self._compact_future = self._compact_future, None
        return fut.result() if fut is not None else None

    # ---------- exactly-once append and ledger ----------
    def append(
        self,
        spark: SparkSession,
        segment: DataFrame,
        job_id: str,
        batch_id: int,
        new_fields: Sequence[T.StructField] = (),
        compaction: str = "inline",
        max_segments: int = 8,
        retain_tombstones: bool = True,
    ) -> dict[str, Any]:
        """Append one batch exactly once (module docstring) and return its
        lineage metrics, which the commit also stores as the batch's ledger
        row. `segment` is the batch laid out by `layout`, with `_lsn` and
        `_deleted`; the caller has checked `batch_committed`. `new_fields`
        are columns the table lacks: the schema gains those the written rows
        carry data in. A batch that writes no row commits nothing and
        returns {"skipped": "stale"}.

        compaction='inline' runs one staggered compaction pass before
        returning: at most a quarter of the buckets, most segments first,
        so the compaction tax per batch is bounded and smooth instead of a
        periodic full rewrite. 'async' hands that pass to the background
        worker so it overlaps the next batch (call drain_compaction() when
        the feed drains); 'off' skips it (the caller compacts on its own
        schedule). `retain_tombstones` is compact()'s."""
        # a crash after the write but before the commit leaves the finished
        # unit: reuse it (the reference's continue-from-partial,
        # query/dataset.py:1221-1360, at segment granularity); its inputs
        # are the same because the table never advanced
        unit = f"job={job_id}/batch={batch_id:09d}"
        files = self.segment_files(unit)
        if files is None:
            files = self.write_segment(segment, unit)
        # lineage and evolution from the footers, no Spark job: rows =
        # num_rows, hwm = max(_lsn), deletes and candidate-column data =
        # non-null counts
        stats = _segment_footer_stats(self.root, files, [f.name for f in new_fields])
        if not stats:
            return {"batch_id": batch_id, "skipped": "stale"}
        evolved = [f for f in new_fields if any(s["cand"][f.name] for s in stats.values())]
        rows_in = sum(s["n"] for s in stats.values())
        rows_deleted = sum(s["n_del"] for s in stats.values())
        counts = {
            "rows_in": rows_in,
            "rows_upserted": rows_in - rows_deleted,
            "rows_deleted": rows_deleted,
        }
        ledger = {
            "job_id": job_id,
            "batch_id": batch_id,
            **counts,
            "committed_at": time.time(),
            "partitions": [
                {"partition_id": int(b), "high_watermark_lsn": int(s["hwm"])}
                for b, s in sorted(stats.items())
            ],
        }
        version = self.commit(
            append_bucket_files=files,
            schema=T.StructType(self.schema.fields + evolved) if evolved else None,
            watermark_updates={b: s["hwm"] for b, s in stats.items()},
            ledger=ledger,
        )
        policy = {
            "max_segments": max_segments,
            "max_buckets": max(1, self.num_buckets // 4),
            "retain_tombstones": retain_tombstones,
        }
        out = {
            "batch_id": batch_id,
            "version": version,
            **counts,
            "buckets_touched": len(stats),
            "evolved": [f.name for f in evolved],
            "compacted_version": None,
        }
        if compaction == "async":
            out["compaction_submitted"] = self.compact_async(spark, **policy)
        elif compaction != "off":
            out["compacted_version"] = self.compact(spark, **policy)
        return out

    # ---------- exactly-once ledger ----------
    def batch_committed(self, job_id: str, batch_id: int) -> bool:
        """Has (job_id, batch_id) already been applied? O(1): the HEAD
        snapshot carries the committed-batch range set per job (contiguous
        replays collapse to a single [lo, hi] pair, so the manifest cost is
        O(gaps), not O(batches) — bounded over a 10^10-event replay)."""
        for lo, hi in self.snapshot().committed.get(job_id, []):
            if lo <= batch_id <= hi:
                return True
        return False

    def ledger_rows(self) -> list[dict[str, Any]]:
        """Flattened commit-manifest rows (one per partition per batch) —
        the lineage/metrics surface, mirroring the reference's checkpoint
        events (/root/reference/src/datachain/checkpoint_event.py:1-101)."""
        rows: list[dict[str, Any]] = []
        for v in self.versions():
            led = self.snapshot(v).ledger
            if not led:
                continue
            for p in led.get("partitions", []):
                rows.append(
                    {
                        "job_id": led["job_id"],
                        "batch_id": led["batch_id"],
                        "partition_id": p["partition_id"],
                        "high_watermark_lsn": p["high_watermark_lsn"],
                        "rows_in": led.get("rows_in", 0),
                        "rows_upserted": led.get("rows_upserted", 0),
                        "rows_deleted": led.get("rows_deleted", 0),
                        "committed_at": led.get("committed_at"),
                        "version": v,
                    }
                )
        return rows

    def ledger_df(self, spark: SparkSession) -> DataFrame:
        """The commit manifest as a queryable DataFrame (FIXTURES.md §3
        schema): one row per (batch, partition) with high-watermark LSN and
        lineage counts — the reference's checkpoint-events surface
        (/root/reference/src/datachain/checkpoint_event.py) as a table."""
        schema = T.StructType(
            [
                T.StructField("job_id", T.StringType(), False),
                T.StructField("batch_id", T.LongType(), False),
                T.StructField("partition_id", T.IntegerType(), False),
                T.StructField("high_watermark_lsn", T.LongType(), False),
                T.StructField("rows_in", T.LongType(), True),
                T.StructField("rows_upserted", T.LongType(), True),
                T.StructField("rows_deleted", T.LongType(), True),
                T.StructField("committed_at", T.TimestampType(), True),
                T.StructField("version", T.LongType(), False),
            ]
        )
        import datetime

        rows = []
        for r in self.ledger_rows():
            rows.append(
                (
                    r["job_id"],
                    int(r["batch_id"]),
                    int(r["partition_id"]),
                    int(r["high_watermark_lsn"]),
                    int(r["rows_in"]),
                    int(r["rows_upserted"]),
                    int(r["rows_deleted"]),
                    datetime.datetime.fromtimestamp(r["committed_at"], datetime.timezone.utc)
                    if r.get("committed_at")
                    else None,
                    int(r["version"]),
                )
            )
        return spark.createDataFrame(rows, schema)

    def remove_orphans(self, older_than: float = 3600.0) -> int:
        """Vacuum data files referenced by NO version manifest — the
        Iceberg `remove_orphan_files` analog. A crash after a write but
        before its manifest commit leaves a complete write unit that no
        snapshot references; `expire_versions` never touches those (it only
        deletes files referenced by dropped versions), so without this they
        accumulate forever.

        The unit of vacuuming is a WRITE UNIT directory (module docstring:
        one `data/job=<j>/batch=<b>` segment dir, or any other top-level
        `data/<unit>` dir such as `compact=<v>` or `save=<v>`): a unit is
        orphaned iff no file under it appears in any retained manifest.
        Units whose newest file is younger than `older_than` seconds are
        kept — they may belong to an in-flight write racing this vacuum
        (same safety window as Iceberg's `older_than`). An uncommitted
        `job=/batch=` unit that `append` could still reuse (its batch is
        NOT in the ledger) is also deleted once past the window — the retry
        rewrites it, which is always correct.

        Returns the number of files removed."""
        import shutil

        live = self._referenced(self.versions())
        cutoff = time.time() - older_than
        units: list[str] = []
        data_root = self.data_dir()
        for entry in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            full = os.path.join(data_root, entry)
            if not os.path.isdir(full):
                continue
            if entry.startswith("job="):
                units.extend(
                    os.path.join(full, b)
                    for b in sorted(os.listdir(full))
                    if os.path.isdir(os.path.join(full, b))
                )
            else:
                units.append(full)
        removed = 0
        for unit in units:
            files = [
                os.path.join(dp, fn)
                for dp, _, fns in os.walk(unit)
                for fn in fns
            ]
            if any(os.path.relpath(f, self.root) in live for f in files):
                continue  # unit has committed data — never touch it
            try:
                newest = max((os.path.getmtime(f) for f in files), default=os.path.getmtime(unit))
            except FileNotFoundError:  # pragma: no cover - concurrent cleanup
                continue
            if newest > cutoff:
                continue  # possibly in-flight
            shutil.rmtree(unit, ignore_errors=True)
            removed += len(files)
        # prune now-empty job= parents
        for entry in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            full = os.path.join(data_root, entry)
            if entry.startswith("job=") and os.path.isdir(full) and not os.listdir(full):
                try:
                    os.rmdir(full)
                except OSError:  # pragma: no cover
                    pass
        return removed

    def _referenced(self, versions: list[int]) -> set[str]:
        """Every data file (table-relative) the given versions list."""
        return {p for v in versions for fl in self.snapshot(v).buckets.values() for p in fl}

    def _drop_versions(self, drop: list[int]) -> int:
        """Remove the manifests of `drop`, then every data file they list
        that no other version references: a crash in between leaves only
        orphans for `remove_orphans`, never a live manifest listing a
        missing file. Returns data files removed."""
        live = self._referenced([v for v in self.versions() if v not in drop])
        dead = self._referenced(drop) - live
        for v in drop:
            os.remove(self._manifest_path(v))
            self._snap_cache.pop(v, None)
        removed = 0
        for p in sorted(dead):
            fp = os.path.join(self.root, p)
            if os.path.exists(fp):
                os.remove(fp)
                removed += 1
        return removed

    def drop_version(self, version: int) -> int:
        """Remove ONE version's manifest plus any data files referenced by
        no surviving version (the reference's delete-a-dataset-version,
        lib/dc/datasets.py:307-383). Manifests are self-contained (each
        snapshot lists its full bucket file set), so dropping a mid-chain
        version never corrupts later ones; dropping HEAD rewinds the table
        to its parent. The last remaining version cannot be dropped —
        delete the dataset instead. Returns data files removed."""
        with self._commit_lock:
            vs = self.versions()
            if version not in vs:
                raise KeyError(f"version {version} not found in {self.root}")
            if len(vs) == 1:
                raise ValueError(
                    "cannot drop the only version; use delete_dataset(force=True)"
                )
            return self._drop_versions([version])

    def expire_versions(self, keep_last: int = 10) -> int:
        """Vacuum: drop manifests (and data files referenced by no kept
        version) older than the last `keep_last` versions. `keep_last` must
        be >= 1 — HEAD (and the files it references) is always retained."""
        if keep_last < 1:
            raise ValueError("expire_versions requires keep_last >= 1 (HEAD must survive)")
        return self._drop_versions(self.versions()[:-keep_last])
