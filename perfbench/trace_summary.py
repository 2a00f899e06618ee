#!/usr/bin/env python3
"""Summarises a traced run's spans: per-layer self time and counts.

Usage: python3 perfbench/trace_summary.py OUT_DIR

Reads OUT_DIR/spans.jsonl (written by the traced run) and prints, for each
request kind, every layer's median and total self time (span time minus its
children's). Then it prints the run's own trace.* figures from
OUT_DIR/result.json: the traced engine time per transform, the untraced
engine-call time of the same run, their gap (tracing overhead plus
orchestration drift) and the engine time outside any layer span.
"""
import collections
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def report(out_dir, stream=sys.stdout):
    spans = load(os.path.join(out_dir, "spans.jsonl"))
    by_id = {s["id"]: s for s in spans}
    child_ns = collections.Counter()
    for s in spans:
        if s["parent"]:
            child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]

    def root_of(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s["name"]

    selfs = collections.defaultdict(list)
    for s in spans:
        own = (s["end_ns"] - s["start_ns"] - child_ns[s["id"]]) / 1e6
        selfs[(root_of(s), s["name"])].append(own)

    print(f"{'request':<18} {'layer':<18} {'count':>6} {'median ms':>10} {'total ms':>10}", file=stream)
    for (root, name), xs in sorted(selfs.items(), key=lambda kv: (kv[0][0], -sum(kv[1]))):
        print(f"{root:<18} {name:<18} {len(xs):>6} {statistics.median(xs):>10.2f} {sum(xs):>10.1f}",
              file=stream)
    with open(os.path.join(out_dir, "result.json")) as f:
        metrics = json.load(f)["metrics"]
    for name in ("trace.engine_ms", "trace.untraced_engine_ms", "trace.gap_ms", "trace.unspanned_ms"):
        if name in metrics:
            print(f"{name:<26} {metrics[name]['value']:>10.2f} ms", file=stream)


if __name__ == "__main__":
    report(sys.argv[1])
