"""Spans recorded from outside the program, and Spark's own stage metrics.

A span is (name, start, end, parent, trace id, job group). The benchmark
opens a top-level span around each closed-loop call and wraps the public
LakeTable methods and `apply_batch`; nothing inside `datachain_spark/` is
changed. Spans stay in memory and are written out when the run ends.

Spark stage metrics come from the status REST API of the traced session
(the UI is enabled only in traced runs). Each top-level call runs under its
own job group, so stages are attributed to the call that caused them; jobs
without a group come from the background compaction thread.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

# LakeTable methods wrapped in traced runs (span name = "lake.<method>")
LAKE_METHODS = [
    "snapshot", "commit", "compact", "compact_async", "drain_compaction",
    "read", "read_keys", "buckets_for", "read_changes",
]


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.returns: list[tuple] = []  # (span name, wall time, args, return value)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._trace_id = 0
        self._lock = threading.Lock()  # top-level spans open from several threads

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, top: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        group = None
        trace = self.spans[stack[-1]]["trace"] if stack else None
        if top:
            with self._lock:
                self._trace_id += 1
                trace = self._trace_id
            group = f"pb-{trace}"
            self.spark.sparkContext.setJobGroup(group, name)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "trace": trace,
            "group": group,
            "thread": threading.get_ident(),
        }
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            if top:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, keep_return: bool = False) -> None:
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = original(*args, **kwargs)
            if keep_return:
                tracer.returns.append((name, time.time(), args, out))
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        """Wrap the CDC and lake entry points (also in the curation run, whose
        bypass guard needs to see that none of them is called)."""
        import datachain_spark.cdc.apply as apply_mod
        from datachain_spark.lake.table import LakeTable

        self.wrap(apply_mod, "apply_batch", "cdc.apply_batch")
        for m in LAKE_METHODS:
            self.wrap(LakeTable, m, f"lake.{m}", keep_return=m in ("compact", "compact_async"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ---- span arithmetic over the measured window [lo, hi] ----
    def in_window(self, lo: float, hi: float, prefix: str = "") -> list[dict]:
        return [
            s for s in self.spans
            if s["end"] is not None and lo <= s["start"] <= hi and s["name"].startswith(prefix)
        ]

    def count(self, name: str, lo: float, hi: float) -> int:
        return sum(1 for s in self.in_window(lo, hi) if s["name"] == name)

    def busy(self, name: str, lo: float, hi: float) -> float:
        """Total time in outermost spans of `name` (a span nested in one of
        the same name, such as snapshot() inside snapshot(), counts once)."""
        total = 0.0
        for s in self.in_window(lo, hi):
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it covered by its children,
        summed per span name."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered = union_length(kids.get(i, []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"self_s": self.self_times()}) + "\n")


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------
def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Completed jobs and stages of the session, read once after the run."""

    def __init__(self, spark):
        base = spark.sparkContext.uiWebUrl
        app = self._get(f"{base}/api/v1/applications")[0]["id"]
        self.api = f"{base}/api/v1/applications/{app}"
        self.jobs = self._get(f"{self.api}/jobs")
        self.stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get(f"{self.api}/stages")
            if s.get("submissionTime") and s.get("completionTime")
        }
        by_id: dict[int, list[dict]] = {}
        for (sid, _), st in self.stages.items():
            by_id.setdefault(sid, []).append(st)
        self.stage_of_group: dict[str | None, list[dict]] = {}
        self.jobs_of_group: dict[str | None, int] = {}
        for j in self.jobs:
            g = j.get("jobGroup")
            self.jobs_of_group[g] = self.jobs_of_group.get(g, 0) + 1
            for sid in j["stageIds"]:
                self.stage_of_group.setdefault(g, []).extend(by_id.get(sid, []))

    @staticmethod
    def _get(url: str):
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    @staticmethod
    def window(st: dict) -> tuple[float, float]:
        return _ts(st["submissionTime"]), _ts(st["completionTime"])

    def in_window(self, lo: float, hi: float) -> list[dict]:
        return [st for st in self.stages.values() if lo <= self.window(st)[0] <= hi]

    def group_stage_active(self, group: str, lo: float, hi: float) -> float:
        return union_length(
            [self.window(st) for st in self.stage_of_group.get(group, [])], lo, hi
        )

    def engine_metrics(self, lo: float, hi: float) -> dict[str, float]:
        """Spark-wide work, time and data movement of stages submitted in
        the measured window [lo, hi]."""
        sts = self.in_window(lo, hi)
        jobs = [
            j for j in self.jobs
            if j.get("submissionTime") and lo <= _ts(j["submissionTime"]) <= hi
        ]
        active = union_length([self.window(st) for st in sts], lo, hi)
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(sts),
            "spark.tasks": sum(st["numTasks"] for st in sts),
            "spark.stage_active_s": active,
            "spark.driver_gap_s": (hi - lo) - active,
            "spark.executor_run_s": sum(st["executorRunTime"] for st in sts) / 1e3,
            "spark.executor_cpu_s": sum(st["executorCpuTime"] for st in sts) / 1e9,
            "spark.gc_s": sum(st["jvmGcTime"] for st in sts) / 1e3,
            "spark.shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in sts),
            "spark.shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in sts),
            "spark.spill_bytes": sum(
                st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in sts
            ),
            "spark.task_skew": 1.0,
        }
        reads = [st for st in sts if st["shuffleReadBytes"] > 0]
        if reads:
            widest = max(reads, key=lambda st: (st["numTasks"], st["shuffleReadBytes"]))
            q = self._get(
                f"{self.api}/stages/{widest['stageId']}/{widest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["spark.task_skew"] = max(q[1], 1.0) / max(q[0], 1.0)
        return out
