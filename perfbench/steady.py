#!/usr/bin/env python3
"""Steadiness check: runs each workload on two sets of seeds on one commit,
alternating between the sets (A1, B1, A2, B2, ...) so that a change in host
load falls on both alike, and prints per end-to-end metric:

- for each set, the median, the quartiles and the interquartile spread as a
  share of the median, next to the metric's bound in BENCHMARK.json;
- the change of set B's median from set A's, in the metric's worse
  direction, against the same bound (setup_s included).

Usage (from the repository root):
  python3 perfbench/steady.py [--workloads w1,w2] [--seeds-a 101-110] [--seeds-b 201-210]
                              [--seconds N] [--trace 0|1]

`--seeds-b ''` runs one set only (for quick tuning). A set is steady enough
when every spread (setup_s excepted) stays below a third of its bound; the
two sets agree when no median moved by more than its bound in the worse
direction and the failed share of operations is the same in every run.
Exits 1 if a run failed, an output was incorrect, or the sets disagree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    if not spec:
        return []
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(w, seed, seconds, trace):
    """One benchmark run; returns (result or None, wall seconds)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if p.returncode != 0 or not p.stdout.strip():
        print(f"{w} seed {seed}: exit {p.returncode}")
        return None, wall
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench.get("workloads", [])))
    ap.add_argument("--seeds-a", default="101-110")
    ap.add_argument("--seeds-b", default="201-210")
    ap.add_argument("--seconds", type=float, default=bench.get("run_seconds", 10))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    metrics = {m["name"]: m for m in bench.get("end_to_end", [])}
    sets = {"A": seeds(a.seeds_a), "B": seeds(a.seeds_b)}
    status = 0
    for w in a.workloads.split(","):
        values = {"A": {}, "B": {}}
        shares, walls = set(), []
        order = [(k, s) for i in range(max(map(len, sets.values())))
                 for k in sets if i < len(sets[k]) for s in [sets[k][i]]]
        for k, s in order:
            r, wall = run(w, s, a.seconds, a.trace)
            walls.append(wall)
            if r is None:
                status = 1
                continue
            if not r["correct"]:
                print(f"{w} seed {s}: outputs incorrect")
                status = 1
            shares.add(f"{r['failed']}/{r['attempted']}" if r["failed"] else "0")
            for name, v in r["metrics"].items():
                values[k].setdefault(name, []).append(v["value"])
        if len(shares) > 1:
            status = 1
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed shares {sorted(shares)}")
        for name in values["A"]:
            m = metrics.get(name, {})
            b = m.get("bound")
            meds = {}
            for k in sets:
                xs = values[k].get(name, [])
                if len(xs) < 2:
                    continue
                q1, med, q3, spread = summary(xs)
                meds[k] = med
                verdict = ""
                if b is not None and name != "setup_s":
                    verdict = "ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE")
                print(f"  {name:<16} {k}  median {med:>12.4f}  q1 {q1:>12.4f}  q3 {q3:>12.4f}  "
                      f"spread {spread:7.2%}  bound {b if b is not None else '-':<5} {verdict}")
                print("        runs: " + " ".join(f"{x:.4g}" for x in xs))
            if len(meds) == 2 and meds["A"]:
                change = (meds["B"] - meds["A"]) / meds["A"]
                worse = change if m.get("better") == "lower" else -change
                verdict = "" if b is None else ("ok" if worse <= b else "SETS DISAGREE")
                if verdict == "SETS DISAGREE":
                    status = 1
                print(f"  {name:<16} B vs A  {change:+7.2%} ({worse:+.2%} worse)  bound {b} {verdict}")
        sys.stdout.flush()
    sys.exit(status)


if __name__ == "__main__":
    main()
