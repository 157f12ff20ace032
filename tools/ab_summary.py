#!/usr/bin/env python3
"""Summarise an ab.sh JSONL file: per end-to-end metric, the median of
each side, change/parent ratio, the parent's quartile spread, and how
many pairs the change won. Also checks every run was correct with 0
failed operations.

Usage: tools/ab_summary.py <ab.jsonl>
"""
import json
import statistics
import sys

LOWER = {"run_s", "warm_run_s", "cpu_s", "setup_s"}
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bad = [r for r in runs if not r["r"] or not r["r"]["correct"] or r["r"]["failed"]]
print(f"{len(runs)} runs, {len(bad)} incorrect or with failed operations")
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["r"]["metrics"]
pairs = [p for p in by.values() if "parent" in p and "change" in p]
print(f"{len(pairs)} pairs")
print("| metric | parent median | change median | change/parent | parent IQR | change wins |")
print("|---|---|---|---|---|---|")
for m in ["run_s", "warm_run_s", "rows_per_s", "cpu_s", "setup_s"]:
    a = [p["parent"][m]["value"] for p in pairs]
    b = [p["change"][m]["value"] for p in pairs]
    q = statistics.quantiles(a, n=4)
    better = (lambda x, y: y < x) if m in LOWER else (lambda x, y: y > x)
    wins = sum(better(x, y) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    print(f"| {m} | {ma:.3f} | {mb:.3f} | {mb / ma:.3f} | {q[2] - q[0]:.3f} | {wins}/{len(pairs)} |")
