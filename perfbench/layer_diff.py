#!/usr/bin/env python3
"""Compares two traced benchmark runs layer by layer.

    python3 perfbench/layer_diff.py <before> <after>

Each side is a trace file written by `run.py --trace 1`
(`.bench_build/work/<workload>/trace/<workload>-seed<n>.json`) or a
directory searched recursively for such files. Files are matched by
workload; when a side holds several runs of one workload, each metric is
their median. For every workload both sides share, it prints each
per-layer metric before and after, and the change as a share of before.

It also checks each side's suite split: for at least 90% of the
queries, construct + plan + exec seconds must come within 10% of the
query's wall time. The exit code is 1 when that check fails.
"""
import glob
import json
import os
import statistics
import sys

MIN_SHARE = 0.9


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.json"), recursive=True))
    runs = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        if "layers" in t and "workload" in t:
            runs.setdefault(t["workload"], []).append(t)
    if not runs:
        raise SystemExit(f"{path}: no trace files")
    return runs


def medians(traces):
    keys = sorted({k for t in traces for k in t["layers"]})
    return {k: statistics.median(t["layers"][k] for t in traces if k in t["layers"])
            for k in keys}


def split_check(label, traces):
    """Share of queries whose layers sum to within 10% of their wall."""
    ok = True
    for t in traces:
        qs = t.get("queries")
        if not qs:
            continue
        within = sum(1 for q in qs
                     if abs(q["construct_s"] + q["plan_s"] + q["exec_s"] - q["wall_s"])
                     <= 0.1 * q["wall_s"])
        share = within / len(qs)
        worst = sorted(qs, key=lambda q: q["construct_s"] + q["plan_s"] + q["exec_s"]
                       - q["wall_s"])[:3]
        status = "ok" if share >= MIN_SHARE else "FAIL"
        print(f"{label} {t['workload']} seed {t['seed']}: layers within 10% of wall "
              f"for {within}/{len(qs)} queries ({share:.0%}) {status}; most unaccounted: "
              + ", ".join(f"{q['name']} "
                          f"{q['wall_s'] - q['construct_s'] - q['plan_s'] - q['exec_s']:.3f}s"
                          for q in worst))
        ok = ok and share >= MIN_SHARE
    return ok


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) & set(after)):
        a, b = medians(before[w]), medians(after[w])
        print(f"\n== {w} ({len(before[w])} vs {len(after[w])} traced runs)")
        print(f"{'metric':32} {'before':>12} {'after':>12} {'change':>9}")
        for k in sorted(set(a) | set(b)):
            x, y = a.get(k), b.get(k)
            if x is None or y is None:
                print(f"{k:32} {x if x is not None else '-':>12} {y if y is not None else '-':>12}")
                continue
            change = f"{(y - x) / x:+.1%}" if x else ("0" if y == 0 else "new")
            print(f"{k:32} {x:12.4f} {y:12.4f} {change:>9}")
    for w in sorted(set(before) ^ set(after)):
        print(f"\n(only one side has {w})")
    print()
    ok = split_check("before", [t for ts in before.values() for t in ts])
    ok = split_check("after", [t for ts in after.values() for t in ts]) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
