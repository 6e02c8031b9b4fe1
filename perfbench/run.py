#!/usr/bin/env python3
"""Benchmark of the CDC engine and the curation query surface.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20
    python3 perfbench/run.py --smoke

One process, one `get_spark(cpus=4)` session, one caller thread in a closed
loop. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
Lines before it that start with "# " name the workload's own figures with
their unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_replay", "curation_queries"]
CPUS = 4
DRIVER_MEM = "2g"


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--smoke", action="store_true", help="run every workload once at tiny sizes and check the output")
    a = ap.parse_args(argv)
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    return a


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (jvm, "self"):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(a) -> int:
    if not (os.path.isdir(os.path.join(ROOT, "datachain_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no datachain_spark package or __spark_entry__.py in {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark, the JVM and Python write goes under the run directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]

    import layers
    import workloads
    from datachain_spark.session import get_spark
    from spans import Tracer

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if a.trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "50",
        })
    spark = tracer = None
    try:
        spark = get_spark(cpus=CPUS, extra_conf=conf)
        print(f"perfbench: {time.monotonic() - T_START:7.2f}s session started", file=sys.stderr)
        tracer = Tracer(bool(a.trace), spark)
        if a.trace:
            tracer.install()
        run = workloads.Run(spark, tracer, random.Random(a.seed), work, a.seconds, a.scale, T_START)
        if a.workload == "curation_queries":
            e2e = workloads.curation_queries(run, workloads.curation_dir(a.scale), work_root)
        else:
            e2e = workloads.cdc_replay(run)
        tracer.uninstall()
        if a.trace:
            guard(a.workload, tracer)
            metrics = layers.compute(run, tracer, e2e)
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            tracer.dump(os.path.join(work_root, "traces", f"{a.workload}-{a.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": run.first_timed - T_START - run.gen_s,
                "peak_rss_mb": _peak_rss_mb(spark),
                "cpu_s": e2e["cpu_s"],
            }
    except Exception:  # noqa: BLE001 - report, then still stop the JVM
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: {time.monotonic() - T_START:7.2f}s stopped", file=sys.stderr)

    for msg in run.errors:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    for name, value, unit, n in run.report:
        print(f"# {a.workload} {name} {value!r} {unit} n={n}")
    print(f"# {a.workload} error_rate {run.failed / max(1, run.attempted)!r} ratio n={run.attempted}")
    units = layers.PER_LAYER if a.trace else E2E
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k][0]} for k, v in metrics.items()},
    }))
    return 0


# name -> (unit, better, bound)
# On a shared 4-core VM the hypervisor takes up to a quarter of the CPU time
# for minutes at a time. Wall-clock figures follow it by more than any
# allowed bound (18% stolen time: a curation pass's latency geomean +77%),
# CPU time by about a third as much (+27%), so CPU time is the judged work
# metric and throughput and latency are `# ` lines. See README, Measured.
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.2),
    "cpu_s": ("s", "lower", 0.24),
}


def guard(workload: str, tracer) -> None:
    """Fail loudly when a workload stops isolating its layer."""
    from workloads import BypassError

    if workload == "curation_queries":
        bad = [s["name"] for s in tracer.spans if s["name"].startswith(("cdc.", "lake."))]
        if bad:
            raise BypassError(f"curation_queries called into the CDC/lake layers: {sorted(set(bad))}")
    # compact_async submits a pass after every apply; one that finds a
    # bucket over the threshold returns the version it committed
    if workload == "cdc_replay":
        bulk = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == "op.bulk"]
        for name, t, _, out in tracer.returns:
            if name == "lake.compact" and out is not None and any(a <= t <= b for a, b in bulk):
                raise BypassError("a compaction committed during the bulk apply")


def _child(argv: list[str]) -> tuple[int, list[str], dict | None]:
    p = subprocess.run([sys.executable, os.path.abspath(__file__), *argv],
                       stdout=subprocess.PIPE, text=True, cwd=ROOT, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return p.returncode, lines, result


def run_all(a) -> int:
    """Every workload in turn, each in its own process."""
    rc = 0
    for w in WORKLOADS:
        code, lines, result = _child(["--workload", w, "--seed", str(a.seed), "--seconds",
                                      str(a.seconds), "--trace", str(a.trace), "--scale", a.scale])
        for line in lines[:-1]:
            print(line)
        if code or result is None:
            print(f"# {w} exited with {code}")
            rc = 1
            continue
        for k, v in result["metrics"].items():
            print(f"# {w} {k} {v['value']!r} {v['unit']}")
        print(f"# {w} correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    return rc


def smoke() -> int:
    """Each workload once per trace mode at tiny sizes; every metric named in
    BENCHMARK.json must print with its unit, and every output must check."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.monotonic()
            code, lines, result = _child(["--workload", w, "--seed", "7", "--seconds", "1",
                                          "--trace", str(trace), "--scale", "smoke"])
            problems = []
            if code or result is None:
                problems.append(f"exit code {code}, no result")
            else:
                got = {k: v.get("unit") for k, v in result["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"metrics differ from BENCHMARK.json: {set(got) ^ set(want[trace])}")
                if not result["correct"] or result["failed"] or result["attempted"] < 1:
                    problems.append(f"outputs did not check: {result}")
                if not any(line.startswith(f"# {w} ") for line in lines):
                    problems.append("no '# ' report lines")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"smoke {w} trace={trace}: {status} ({time.monotonic() - t0:.0f}s)")
            bad += bool(problems)
    return 1 if bad else 0


def main() -> int:
    a = _args()
    if a.smoke:
        return smoke()
    if a.workload == "all":
        return run_all(a)
    return run_one(a)


if __name__ == "__main__":
    sys.exit(main())
