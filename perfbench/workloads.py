"""The two workloads. Each drives the public API from one thread in a
closed loop: the next call is issued only after the previous one returns.

cdc_replay        a transcript feed replayed into a fresh LakeTable: its
                  insert history in one bulk apply, then its update and
                  delete batches one at a time, each followed by a ledger
                  re-offer, a point read, a changelog read and a full scan
curation_queries  passes over the 27 headline queries through a noop sink,
                  on the seed-42 sf0.01 test tables
"""

from __future__ import annotations

import functools
import math
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import datachain_spark.cdc.apply as apply_mod
from datachain_spark.cdc.apply import KEY_COLS, transcripts_schema_v1
from datachain_spark.cdc.feed import FeedSpec, feed_batch_dirs, write_feed
from datachain_spark.cdc.stream import event_stream_schema
from datachain_spark.lake.table import LakeTable
from pyspark.sql import types as T

import oracle
from layers import HEADLINE

NUM_BUCKETS = 32
# A bucket is compacted once it holds more than MAX_SEGMENTS segments. The
# bulk apply leaves one segment per bucket, so compaction starts with the
# second tail batch and never runs during the bulk apply.
MAX_SEGMENTS = 2
# (conversations, events per batch, files per feed batch): about 49k events
# in 5 insert, 2 update and 1 delete batch, plus a trailing batch of
# duplicates ("full"); about 7k events in the same layout ("smoke")
FEED_SIZES = {"full": (2500, 7000, 4), "smoke": (250, 1000, 2)}
WARM_THREADS = 4  # concurrent queries in the curation warm-up passes
CDC_KINDS = ["bulk", "apply", "point", "changes", "scan"]


def _host_cpu() -> list[int]:
    """The host-wide `cpu` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_cpu_s() -> float:
    """User plus system CPU time of this process and every process under it
    (the driver JVM, PySpark's Python workers), exited children included."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while the directory was listed
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(map(int, fields[11:15]))  # utime stime cutime cstime

    def ours(pid: int) -> bool:
        while pid > 1 and pid != os.getpid():
            pid = parent.get(pid, 0)
        return pid == os.getpid()

    return sum(t for pid, t in ticks.items() if ours(pid)) / os.sysconf("SC_CLK_TCK")


class BypassError(RuntimeError):
    """A workload stopped isolating the layer it was built for."""


class Run:
    """Samples, counters and the deadline of one benchmark run."""

    def __init__(self, spark, tracer, rng, work: str, seconds: float, scale: str, t0: float):
        self.spark, self.tracer, self.rng, self.t0 = spark, tracer, rng, t0
        self.work, self.seconds, self.scale = work, seconds, scale
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.gen_s = 0.0
        self.first_timed: float | None = None
        self.window = (0.0, 0.0)  # wall-clock bounds of the measured loop
        self._cpu_at_start: list[int] = []
        self.report: list[tuple[str, float, str, int]] = []  # (name, value, unit, n)
        self.shapes: list[dict] = []
        self._lock = threading.Lock()  # the curation warm-up counts from several threads

    def reset(self) -> None:
        """Drop what the warm-up recorded; the feed's own counts stay."""
        self.samples.clear()
        self.shapes.clear()
        for k in [k for k in self.counts if not k.startswith("feed.")]:
            del self.counts[k]

    def start_window(self) -> float:
        self.log("measuring")
        self._cpu_at_start = _host_cpu()
        self.first_timed = time.monotonic()
        self.window = (time.time(), 0.0)
        return self.first_timed + self.seconds

    def end_window(self) -> None:
        self.window = (self.window[0], time.time())
        # CPU time the hypervisor gave to other guests during the window: on
        # a shared host it, not the program, sets most of the run-to-run spread
        d = [b - a for a, b in zip(self._cpu_at_start, _host_cpu())]
        self.report.append(("host_steal_share", d[7] / max(1, sum(d)), "ratio", 1))
        self.log("verifying")

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def call(self, kind: str, fn, *args, record: bool = True, **kwargs):
        """One closed-loop call into the public API, timed as `kind`."""
        self.attempt()
        with self.tracer.span(f"op.{kind}", top=True):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        if record:
            self.samples[kind].append(dt)
        return out

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.monotonic() - self.t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            self.errors.append(msg)

    def figures(self, throughput: float, unit: str, kinds: list[str], cpus: list[float]) -> dict:
        """The figures every workload returns: `cpu_s`, the median CPU time
        of one unit of work (an episode or a pass), is the judged one; the
        wall-clock throughput and the geomean over `kinds` of each kind's
        median latency are reported beside it (see README, Measured)."""
        geo = math.exp(statistics.fmean(math.log(statistics.median(self.samples[k])) for k in kinds))
        self.report += [
            ("throughput_per_s", throughput, unit, len(cpus)),
            ("op_geomean_s", geo, "s", len(cpus)),
        ]
        return {"cpu_s": statistics.median(cpus), "throughput_per_s": throughput, "op_geomean_s": geo}

    def note_shape(self, table: LakeTable) -> None:
        snap = table.snapshot()
        segs = [len(v) for v in snap.buckets.values()] or [0]
        self.shapes.append({
            "max": max(segs),
            "mean": statistics.fmean(segs),
            "dirty": sum(1 for b in snap.buckets if snap.dirty.get(b)) / NUM_BUCKETS,
        })


# ---------------------------------------------------------------------------
# cdc_replay
# ---------------------------------------------------------------------------
def feed_spec(n_convs: int, batch_events: int, rng) -> FeedSpec:
    """A `tools/bench_cdc.py:bench_spec`-shaped feed (text_scale=25, one hot
    conversation of 2000-3600 turns per 1000). The seed moves n_convs and
    hot_base by up to 1%; FEED_SIZES are chosen so that the batch layout
    (batches per phase, hot conversations) is the same at both ends of that
    range."""
    return FeedSpec(
        n_convs=int(n_convs * rng.uniform(0.99, 1.01)),
        hot_every=1000,
        hot_base=int(2000 * rng.uniform(0.99, 1.01)),
        batch_size=batch_events,
        text_scale=25,
    )


def _make_feed(run: Run) -> dict:
    n_convs, batch_events, files = FEED_SIZES[run.scale]
    spec = feed_spec(n_convs, batch_events, run.rng)
    d = os.path.join(run.work, "feed")
    t0 = time.perf_counter()
    write_feed(run.spark, spec, d, files_per_batch=files)
    run.gen_s = time.perf_counter() - t0
    batches = feed_batch_dirs(d)
    v2 = event_stream_schema()
    v1 = T.StructType([f for f in v2.fields if f.name != "tool"])
    feed = {"dir": d, "spec": spec}
    feed["frames"] = [
        (b, run.spark.read.schema(v1 if f"{os.sep}v1{os.sep}" in bd else v2).parquet(bd))
        for b, bd in batches
    ]
    files_of = {b: [os.path.join(bd, f) for f in os.listdir(bd) if f.endswith(".parquet")]
                for b, bd in batches}
    feed["sizes"] = {b: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
                     for b, fs in files_of.items()}
    run.counts["feed.events"] = sum(feed["sizes"].values())
    run.counts["feed.batches"] = len(batches)
    run.counts["feed.bytes"] = sum(os.path.getsize(f) for fs in files_of.values() for f in fs)
    run.log(f"feed: {run.counts['feed.events']:.0f} events in {len(batches)} batches")
    return feed


def _apply(run: Run, kind: str, table: LakeTable, frame, batch_id: int, events: int,
           record: bool) -> dict:
    out = run.call(
        kind, apply_mod.apply_batch, run.spark, table, frame, "bench", batch_id,
        max_segments=MAX_SEGMENTS, lsn_ordered=True, compaction="async", record=record,
    )
    run.counts["apply.calls"] += 1
    run.counts["apply.events_offered"] += events
    run.counts["apply.rows_in"] += out.get("rows_in", 0)
    run.counts["apply.rows_deleted"] += out.get("rows_deleted", 0)
    run.counts["apply.evolved_batches"] += bool(out.get("evolved"))
    return out


def _data_bytes(table: LakeTable) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(table.data_dir())
        for f in fs
        if f.endswith(".parquet")
    )


def _hot_and_cold(run: Run, spec) -> list[str]:
    """One hot conversation (thousands of turns) and one ordinary one."""
    hot = run.rng.randrange(0, spec.n_convs, spec.hot_every)
    cold = hot
    while cold % spec.hot_every == 0:
        cold = run.rng.randrange(spec.n_convs)
    return [f"conv-{hot:08d}", f"conv-{cold:08d}"]


def cdc_replay(run: Run) -> dict:
    feed = _make_feed(run)
    spec = feed["spec"]
    # the trailing batch holds only redelivered duplicates of the one before
    # it; under lsn_ordered replay it applies as a no-op, so it is left out
    # (the final-table check still replays it in DuckDB)
    frames = [(b, f) for b, f in feed["frames"] if b < spec.n_batches() - 1]
    n_bulk = spec.spans()[0]  # the insert-phase batches
    bulk, tail = frames[:n_bulk], frames[n_bulk:]
    bulk_df = functools.reduce(
        lambda x, y: x.unionByName(y, allowMissingColumns=True), [f for _, f in bulk]
    )
    bulk_events = sum(feed["sizes"][b] for b, _ in bulk)
    points: list[tuple[int, list[str], list[tuple]]] = []
    # per changelog read: (since, until, the batches it covers, rows read)
    changes: list[list[tuple[int, int, tuple[int, ...], int]]] = []
    scanned: list[int] = []

    def cycle(table: LakeTable, b: int, frame, prev: tuple[int, int] | None, record: bool):
        """Apply one microbatch, re-offer it, then read: point, changelog, scan.
        `prev` is (version before, batch id) of the previous microbatch."""
        before = table.current_version()
        out = _apply(run, "apply", table, frame, b, feed["sizes"][b], record)
        again = run.call("ledger", apply_mod.apply_batch, run.spark, table, frame, "bench", b,
                         max_segments=MAX_SEGMENTS, lsn_ordered=True, compaction="async",
                         record=record)
        run.counts["apply.skipped_ledger"] += again.get("skipped") == "ledger"
        if again.get("skipped") != "ledger":
            run.fail(f"re-offered batch {b} was not skipped by the ledger: {again}")
        keys = _hot_and_cold(run, spec)
        rows = run.call("point", lambda: table.read_keys(run.spark, keys).collect(), record=record)
        run.counts["read.point.rows"] += len(rows)
        points.append((b, keys, oracle.point_rows(rows)))
        # the changelog of the last two applies; compaction commits add none
        since, covers = (prev[0], (prev[1], b)) if prev else (before, (b,))
        n = run.call("changes", lambda: table.read_changes(run.spark, since).count(), record=record)
        run.counts["read.changes.rows"] += n
        changes[-1].append((since, out["version"], covers, n))
        run.note_shape(table)
        run.call("scan", lambda: table.read(run.spark).write.format("noop").mode("overwrite").save(),
                 record=record)
        scanned.append(b)
        return before, b

    def episode(root: str, record: bool) -> tuple[LakeTable, float]:
        table = LakeTable.create(root, transcripts_schema_v1(), key_cols=KEY_COLS,
                                 num_buckets=NUM_BUCKETS)
        changes.append([])
        t0 = time.perf_counter()
        _apply(run, "bulk", table, bulk_df, bulk[-1][0], bulk_events, record)
        # bypass guard: the bulk apply never compacts
        if any(len(v) > 1 for v in table.snapshot().buckets.values()) or any(
            table.snapshot(v).props.get("compaction") for v in table.versions()
        ):
            raise BypassError("the bulk apply compacted or left several segments in a bucket")
        prev = None
        for b, frame in tail:
            prev = cycle(table, b, frame, prev, record)
        run.call("drain", table.drain_compaction, record=record)
        return table, time.perf_counter() - t0

    episode(os.path.join(run.work, "warm"), record=False)  # cold: the warm-up
    run.reset()
    scanned.clear()  # the warm-up's reads are still checked below
    deadline = run.start_window()
    walls, cpus = [], []
    while time.monotonic() < deadline:
        c0 = tree_cpu_s()
        table, wall = episode(os.path.join(run.work, f"ep{len(walls)}"), record=True)
        cpus.append(tree_cpu_s() - c0)
        walls.append(wall)
        run.log(f"episode {len(walls)}: {wall:.2f}s")
    run.end_window()

    # the last table, every point read and every changelog read, against
    # the DuckDB replay of the feed
    feed_oracle = oracle.FeedOracle(feed["dir"])
    expected = oracle.expected_digest(run.spark, feed_oracle.state_arrow())
    run.attempt()
    got = oracle.digest(table.read(run.spark))
    if got != expected:
        run.fail(f"replayed table: digest {got} != expected {expected}")
    for b, keys, rows in points:
        if rows != feed_oracle.state_rows(b, keys):
            run.fail(f"point read {keys} after batch {b} differs from the feed prefix")
    # every changelog read by its row count; the last one, which spans two
    # applies, also by content
    want = {c: feed_oracle.changes_rows(c) for c in {r[2] for reads in changes for r in reads}}
    for *_, covers, n in (r for reads in changes for r in reads):
        if n != want[covers]:
            run.fail(f"read_changes over batches {covers} returned {n} rows, the feed has {want[covers]}")
    since, until, covers, _ = changes[-1][-1]
    run.attempt()
    got = oracle.digest(table.read_changes(run.spark, since, until), oracle.CHANGE_COLS)
    expected_changes = oracle.expected_digest(run.spark, feed_oracle.changes_arrow(covers), oracle.CHANGE_COLS)
    if got != expected_changes:
        run.fail(f"read_changes over batches {covers}: digest {got} != expected {expected_changes}")
    live = {b: feed_oracle.live_rows(b) for b in set(scanned)}
    run.counts["read.scan.rows"] = sum(live[b] for b in scanned)
    data = _data_bytes(table)
    run.counts["lake.write_amp"] = data / run.counts["feed.bytes"]
    run.counts["lake.bytes_per_live_row"] = data / max(1, expected[0])
    run.counts["lake.versions"] = len(table.versions())
    run.counts["lake.manifest_bytes"] = os.path.getsize(
        os.path.join(table.root, "versions", f"v{table.current_version():012d}.json")
    )
    feed_oracle.close()

    s = run.samples
    events = bulk_events + sum(feed["sizes"][b] for b, _ in tail)
    run.report += [
        ("replay_events_per_s", bulk_events / statistics.median(s["bulk"]), "events/s", len(s["bulk"])),
        ("apply_p50_s", statistics.median(s["apply"]), "s", len(s["apply"])),
        ("point_read_p50_s", statistics.median(s["point"]), "s", len(s["point"])),
        ("changes_read_p50_s", statistics.median(s["changes"]), "s", len(s["changes"])),
        ("scan_read_p50_s", statistics.median(s["scan"]), "s", len(s["scan"])),
        ("episode_s", statistics.median(walls), "s", len(walls)),
        ("feed_events", events, "events", 1),
    ]
    return run.figures(events / statistics.median(walls), "events/s", CDC_KINDS, cpus)


# ---------------------------------------------------------------------------
# curation_queries
# ---------------------------------------------------------------------------
# the seed-42 test tables the headline queries read (customer, orders,
# lineitem, events, documents, embeddings), copied byte for byte
CURATION_DATA = {"full": "sf0.01", "smoke": "sf0.001"}


def curation_dir(scale: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", CURATION_DATA[scale])


def curation_queries(run: Run, sf_dir: str, cache_dir: str) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    order = list(HEADLINE)
    run.rng.shuffle(order)

    def execute(name: str, collect: bool):
        run.attempt()
        with run.tracer.span(f"op.query.{name}", top=True):
            t = time.perf_counter()
            with run.tracer.span("query.plan"):
                df = qs[name](run.spark, sf_dir)
            plan = time.perf_counter() - t
            if collect:
                out = (list(df.columns), df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
            return out, plan, time.perf_counter() - t

    # warm-up: two passes, WARM_THREADS queries at a time. The first
    # execution of each plan is mostly driver-side compilation; its results
    # are collected and checked against the oracle after the measurement.
    # The second goes through the noop sink: after the first alone, the JIT
    # compiler is still busy in the measured pass (~60 s of CPU against ~38 s
    # for a later pass), and its CPU time spread by 16% between quiet runs,
    # against 9-12% with both. Both run in a fixed order: a seed-ordered
    # warm-up left some seeds reproducibly slower in the measured passes.
    def warm(name: str, collect: bool):
        try:
            return name, execute(name, collect)[0]
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            run.fail(f"{name}: {type(e).__name__}: {e}")
            return name, None

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        results = {n: r for n, r in pool.map(warm, HEADLINE, [True] * len(HEADLINE)) if r is not None}
        run.log("warm-up pass 1 done")
        list(pool.map(warm, HEADLINE, [False] * len(HEADLINE)))

    deadline = run.start_window()
    passes, cpus = [], []
    plan_s = 0.0
    while time.monotonic() < deadline:
        t = time.perf_counter()
        c0 = tree_cpu_s()
        for name in order:
            _, plan, dt = execute(name, collect=False)
            run.samples[name].append(dt)
            plan_s += plan
        passes.append(time.perf_counter() - t)
        cpus.append(tree_cpu_s() - c0)
        run.rng.shuffle(order)
    run.end_window()
    run.counts["query.plan_s"] = plan_s

    answers = oracle.query_answers(sf_dir, HEADLINE, cache_dir)
    for name, (cols, rows) in results.items():
        got = oracle.rows_digest(cols, rows)
        if got != answers[name]:
            run.fail(f"{name}: {got['rows']} rows, oracle {answers[name]['rows']}; digests differ")

    pass_s = statistics.median(passes)
    run.report.append(("query_pass_s", pass_s, "s", len(passes)))
    return run.figures(len(HEADLINE) / pass_s, "queries/s", HEADLINE, cpus)
