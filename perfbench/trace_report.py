#!/usr/bin/env python3
"""Summarise traced benchmark runs: per-layer self time, waiting time and
the tracing overhead, from the span dumps a `--trace 1` run writes.

    python3 perfbench/trace_report.py                      # every dump in .bench_runs/
    python3 perfbench/trace_report.py .bench_runs/trace-core7-blobs-seed1.jsonl

A span's self time is its duration minus the part of it its child spans
cover. Waiting is the time from a stage's submission (or a job's start)
until its first task launched. Figures are seconds per traced round.
"""
import glob
import json
import os
import sys
from collections import defaultdict


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def load(path):
    header, spans = {}, []
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("header"):
                header = rec
            else:
                spans.append(rec)
    return header, spans


def summarise(header, spans):
    """Per span name: (count, total ms, self ms, waiting ms)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    first_launch = defaultdict(lambda: float("inf"))
    for s in spans:
        if s["name"] == "exec.stage":
            first_launch[s["parent"]] = min(first_launch[s["parent"]], s["start"] + s["attrs"].get("wait_ms", 0.0))
    rows = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for s in spans:
        r = rows[s["name"]]
        dur = s["end"] - s["start"]
        r[0] += 1
        r[1] += dur
        r[2] += dur - covered(s["start"], s["end"], kids.get(s["id"], []))
        if s["name"] == "exec.stage":
            r[3] += s["attrs"].get("wait_ms", 0.0)
        elif s["name"] == "exec.job" and first_launch[s["id"]] != float("inf"):
            r[3] += max(0.0, first_launch[s["id"]] - s["start"])
    return rows


def report(path):
    header, spans = load(path)
    rounds = max(1, int(header.get("traced_rounds", 1)))
    rows = summarise(header, spans)
    untraced, traced = header.get("wall_s_untraced"), header.get("wall_s_traced")
    print(f"== {header.get('workload', '?')} seed {header.get('seed', '?')} "
          f"({rounds} traced rounds, {header.get('cores', '?')} cores) — {os.path.basename(path)}")
    print(f"{'span':<18}{'count':>9}{'total_s':>11}{'self_s':>11}{'wait_s':>11}   (per round)")
    order = ["op", "entry.construct", "catalyst.plan", "exec.collect", "exec.job", "exec.stage"]
    for name in order + sorted(set(rows) - set(order)):
        if name in rows:
            n, total, self_ms, wait = rows[name]
            print(f"{name:<18}{n / rounds:>9.1f}{total / 1e3 / rounds:>11.3f}{self_ms / 1e3 / rounds:>11.3f}"
                  f"{wait / 1e3 / rounds:>11.3f}")
    if untraced is not None and traced is not None:
        share = (traced - untraced) / untraced if untraced else float("nan")
        print(f"round wall: untraced {untraced:.3f} s, traced {traced:.3f} s, "
              f"tracing overhead {traced - untraced:+.3f} s ({share:+.1%})")
    print()


def main(argv):
    paths = argv or sorted(glob.glob(os.path.join(".bench_runs", "trace-*.jsonl")))
    if not paths:
        print("no trace dumps found; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        report(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
