#!/usr/bin/env python3
"""The repository benchmark: one workload per call, one JSON line out.

Usage (from the checkout root):
  python3 perfbench/run.py --workload cdc_upload --seed 1 --seconds 10 --trace 0

Builds the engine from source when needed (`build.py`), makes the
workload's inputs from the seed (`gen.py`), runs the Spark side
(`scala/perfbench/Main.scala`) in one JVM on local[<cores>], checks the
outputs and prints a human-readable summary followed, as the last line,
by `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the `end_to_end` ones of BENCHMARK.json, with `--trace 1`
the `per_layer` ones. See perfbench/README.md for what each one means.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
JVM_TIMEOUT_S = 165

# Input sizes per workload, and how many times a run repeats its set-up.
UPLOAD_TABLES, UPLOAD_ROWS, UPLOAD_SCHEDULE = 1, 150, 60
BACKFILL_ROWS, BACKFILL_EVENTS = 2_500, 25_000
WORKLOADS = {
    "cdc_upload": dict(
        setups=2,
        make=lambda seed, d: gen.gen_uploads(seed, d / "uploads", UPLOAD_TABLES, UPLOAD_ROWS, UPLOAD_SCHEDULE)),
    "cdc_backfill": dict(
        setups=2,
        make=lambda seed, d: gen.gen_backfill(seed, d / "backfill", BACKFILL_ROWS, BACKFILL_EVENTS)),
}


def tail_percentile(samples, beyond=10):
    """(p, value): the highest integer percentile p whose nearest-rank
    value has at least `beyond` samples ranked above it. With no more
    than `beyond` samples there is none, and the maximum is returned as
    p = 100."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 100, 0.0
    if n <= beyond:
        return 100, s[-1]
    p = 100 * (n - beyond) // n
    return p, s[max(1, math.ceil(p * n / 100)) - 1]


def latency(workload, samples, prefix=""):
    """The workload's median operation latency: upload start to rows
    visible in current state (cdc_upload), or one five-step backfill
    (cdc_backfill)."""
    xs = samples.get(prefix + ("freshness_s" if workload == "cdc_upload" else "backfill_s"), [])
    return statistics.median(xs) if xs else None


def end_to_end(workload, rep, peak_rss_mb):
    samples, values = rep["samples"], rep["values"]
    setups = samples.get("setup_rep_s", [])
    return {
        "latency_p50_s": latency(workload, samples),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": values["session_start_s"] + statistics.median(setups) if setups else None,
    }


def per_layer(workload, rep, names):
    samples, values = rep["samples"], rep["values"]
    out = {}
    if workload == "cdc_upload":
        fresh = samples.get("freshness_s", [])
        pct, tail = tail_percentile(fresh)
        out["upload.freshness_tail_s"] = tail
        out["upload.freshness_tail_pct"] = float(pct)
        out["upload.publish_p50_s"] = statistics.median(samples.get("publish_s", [0.0]))
        out["upload.events_per_s"] = values.get("events", 0.0) / values["measured_s"]
    out["host.calibration_s"] = min(values["calibration_start_s"], values.get("calibration_end_s", math.inf))
    out["trace.latency_p50_s"] = latency(workload, samples)
    out["single.latency_p50_s"] = latency(workload, samples, "single.") or 0.0
    # layers this workload does not exercise read 0
    return {n: out[n] if n in out else values.get(n, 0.0) for n in names}


def run_jvm(cmd, log_path, timeout):
    """Runs `cmd`, killing it after `timeout` s; returns (exit code or
    None on timeout, peak resident set size in MB)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
    killed = threading.Event()
    timer = threading.Timer(timeout, lambda: (killed.set(), p.kill()))
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)  # reaped here, not by Popen
    return (None if killed.is_set() else p.returncode), usage.ru_maxrss / 1024.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args(argv)
    cores = len(os.sched_getaffinity(0))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build.build()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        WORKLOADS[a.workload]["make"](a.seed, work / "inputs")
        gen_s = time.perf_counter() - t0
        report_path = work / "report.json"
        cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}", "-cp", build.classpath(), "perfbench.Main",
               a.workload, str(work / "inputs"), str(work), str(a.seconds), str(a.trace), str(cores),
               str(WORKLOADS[a.workload]["setups"]), str(report_path)]
        rc, rss_mb = run_jvm(cmd, work / "jvm.log", JVM_TIMEOUT_S)
        if rc != 0 or not report_path.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            print(f"perfbench: the Spark side {'timed out' if rc is None else f'exited with {rc}'}",
                  file=sys.stderr)
            return 1
        rep = json.loads(report_path.read_text())
        attempted, failed, errors = rep["attempted"], rep["failed"], rep["errors"]
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        defs = spec["per_layer"]
        metrics = per_layer(a.workload, rep, [m["name"] for m in defs])
    else:
        defs = spec["end_to_end"]
        metrics = end_to_end(a.workload, rep, rss_mb)
    missing = [m["name"] for m in defs if metrics.get(m["name"]) is None]
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    summary(a, cores, rep, metrics, defs, attempted, failed, gen_s)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in defs},
    }))
    return 0


def summary(a, cores, rep, metrics, defs, attempted, failed, gen_s):
    """Human-readable lines ahead of the JSON line."""
    samples, values = rep["samples"], rep["values"]
    print(f"# workload {a.workload} seed {a.seed} cores {cores} trace {a.trace} "
          f"ops {values.get('ops', 0):.0f} measured {values.get('measured_s', 0):.2f} s "
          f"input generation {gen_s:.2f} s (not in setup_s)")
    for m in defs:
        print(f"#   {m['name']:<48} {metrics[m['name']]:.6g} {m['unit']}")
    if a.workload == "cdc_upload" and not a.trace:
        fresh = samples.get("freshness_s", [])
        pct, tail = tail_percentile(fresh)
        events = values.get("events", 0.0)
        print(f"#   freshness_p50_s {statistics.median(fresh):.4f} s, freshness p{pct} {tail:.4f} s "
              f"({len(fresh)} uploads); publish_p50_s {statistics.median(samples['publish_s']):.4f} s "
              f"(reference 0.165 s); events_per_s {events / values['measured_s']:.1f} (reference 110)")
    print(f"#   failed_frac {failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
    print(f"#   host.calibration_s start {values.get('calibration_start_s', 0):.4f} "
          f"end {values.get('calibration_end_s', 0):.4f}")


if __name__ == "__main__":
    sys.exit(main())
