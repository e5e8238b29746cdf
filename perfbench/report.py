#!/usr/bin/env python3
"""Summarise a traced benchmark run, layer by layer.

    python3 perfbench/report.py                   # newest trace
    python3 perfbench/report.py .bench_out/traces/<run>.json ...

For every span name it prints how often it ran, its total time, its self
time (duration minus the time its child spans cover) and the Spark jobs and
tasks attributed to it; then the run's per-layer metrics, counts included,
and `bench.trace_overhead` (traced rate / untraced rate in the same run).
"""
import glob
import json
import os
import sys


def covered(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        child = covered([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])])
        out[s["id"]] = dur - child
    return out


def summarise(trace):
    spans = trace["spans"]
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0, 0, 0])
        r[0] += 1
        r[1] += s["end_ms"] - s["start_ms"]
        r[2] += selfs[s["id"]]
        r[3] += s["jobs"]
        r[4] += s["tasks"]
    return rows


def report(path):
    with open(path) as f:
        trace = json.load(f)
    print(f"== {os.path.basename(path)}: workload {trace.get('workload')}, "
          f"seed {trace.get('seed')}")
    print(f"{'span':32} {'calls':>5} {'total s':>9} {'self s':>9} "
          f"{'jobs':>6} {'tasks':>7}")
    rows = summarise(trace)
    for name, (n, tot, slf, jobs, tasks) in sorted(rows.items(),
                                                   key=lambda kv: -kv[1][2]):
        print(f"{name:32} {n:5d} {tot / 1000:9.3f} {slf / 1000:9.3f} "
              f"{jobs:6d} {tasks:7d}")
    layers = trace.get("layers", {})
    if layers:
        print("per-layer metrics:")
        for k in sorted(layers):
            print(f"  {k:40} {layers[k]:.6g}")
        print(f"bench.trace_overhead = {layers.get('bench.trace_overhead', 0):.4f} "
              "(traced rate / untraced rate)")


def main(paths):
    if not paths:
        found = sorted(glob.glob(".bench_out/traces/*.json"), key=os.path.getmtime)
        if not found:
            sys.exit("no traces in .bench_out/traces; run with --trace 1 first")
        paths = found[-1:]
    for p in paths:
        report(p)


if __name__ == "__main__":
    main(sys.argv[1:])
