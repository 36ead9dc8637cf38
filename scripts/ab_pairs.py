#!/usr/bin/env python3
"""Alternated A/B pairs of the repository benchmark between two checkouts.

Usage:
  python3 scripts/ab_pairs.py --parent DIR --change DIR --workload cdc_upload \\
      --seeds 31-40 [--out runs.json]

For each seed, runs
  python3 perfbench/run.py --workload W --seed S --seconds T --trace 0
once in each checkout, with T the `run_seconds` of the change checkout's
BENCHMARK.json, back to back. The side that goes first alternates
by seed (parent first for the 1st, 3rd, ... seed), so slow drift of the
host does not favour one side. Each run's last stdout line is its JSON
result.

Per end-to-end metric of the change checkout's BENCHMARK.json it prints
every run, each side's median and quartiles, the parent's IQR, the
change/parent median ratio and the pairs the change won, then whether
every run reported `correct: true` with no failed operation.

A reporting tool, not a gate: the exit code is 0 unless a run itself
fails (exits non-zero or prints no JSON result), in which case it is 1.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(spec):
    """'31-35' -> [31..35]; '1,4,7' -> [1, 4, 7]; the two forms mix."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return seeds


def order(index):
    """Sides of the index-th pair in run order: parent first on even
    indexes, change first on odd ones."""
    return ("parent", "change") if index % 2 == 0 else ("change", "parent")


def quartiles(xs):
    """(q1, median, q3) with the inclusive method (linear interpolation
    between order statistics, the sample's min and max as q0 and q4)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def won(parent, change, better):
    """Pairs in which the change's value is strictly better."""
    if better == "lower":
        return sum(c < p for p, c in zip(parent, change))
    return sum(c > p for p, c in zip(parent, change))


def summarize(parent, change, better):
    """Summary of one metric over paired runs (equal-length lists)."""
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gain = pmed - cmed if better == "lower" else cmed - pmed
    return {
        "parent": {"q1": pq1, "median": pmed, "q3": pq3},
        "change": {"q1": cq1, "median": cmed, "q3": cq3},
        "parent_iqr": iqr,
        "ratio": cmed / pmed if pmed else float("nan"),
        "won": won(parent, change, better),
        "pairs": len(parent),
        "gain_exceeds_iqr": gain > iqr,
    }


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its JSON result, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(r.stderr[-2000:])
        return None


def fmt(x):
    return f"{x:.4g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 31,33,35")
    ap.add_argument("--out", help="also write every run's JSON result here")
    a = ap.parse_args(argv)

    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
    seconds = spec["run_seconds"]
    checkouts = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    failed_runs = []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        pair = {}
        for side in order(i):
            res = run_once(checkouts[side], a.workload, seed, seconds)
            if res is None:
                failed_runs.append((side, seed))
                print(f"seed {seed} {side}: run FAILED", flush=True)
                continue
            pair[side] = res
            vals = " ".join(f"{n}={fmt(res['metrics'][n]['value'])}" for n, _ in metrics)
            print(f"seed {seed} {side}: {vals} correct={res['correct']} failed={res['failed']}",
                  flush=True)
        if len(pair) == 2:  # only complete pairs enter the summary
            for side, res in pair.items():
                runs[side].append(dict(res, seed=seed))

    if a.out:
        Path(a.out).write_text(json.dumps(runs, indent=1))
    n = len(runs["parent"])
    print(f"\n{a.workload}: {n} complete pairs, seeds {[r['seed'] for r in runs['parent']]}")
    if n:
        for name, better in metrics:
            p = [r["metrics"][name]["value"] for r in runs["parent"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
            s = summarize(p, c, better)
            print(f"{name} ({better} is better)")
            for side, xs in (("parent", p), ("change", c)):
                q = s[side]
                print(f"  {side:<6} {' '.join(fmt(x) for x in xs)}")
                print(f"         median {fmt(q['median'])}  q1 {fmt(q['q1'])}  q3 {fmt(q['q3'])}")
            print(f"  parent IQR {fmt(s['parent_iqr'])}; change/parent median {s['ratio']:.3f}; "
                  f"change won {s['won']}/{s['pairs']} pairs; "
                  f"median gain exceeds parent IQR: {'yes' if s['gain_exceeds_iqr'] else 'no'}")
    done = runs["parent"] + runs["change"]
    bad = [(r["seed"], side) for side in runs for r in runs[side] if not r["correct"] or r["failed"]]
    print(f"every run correct with 0 failed operations: {'yes' if not bad else 'no'}"
          + (f" (not: {bad})" if bad else "") + f" [{len(done)} runs]")
    if failed_runs:
        print(f"runs that failed: {failed_runs}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
