#!/usr/bin/env python3
"""Summarise an ab.sh JSONL file: per end-to-end metric, the median of
each side, change/parent ratio, the parent's quartile spread, how many
pairs the change won, and whether the median delta can be told apart
from the noise. Also checks every run was correct with 0 failed
operations.

The metrics, their direction and their bounds come from the
repository's BENCHMARK.json (`end_to_end`). The verdict per metric:
  unresolved    the parent's IQR exceeds bound x parent median: the
                runs spread too widely to judge a delta at that bound;
  within noise  |change median - parent median| <= the parent's IQR;
  better/worse  otherwise, by the metric's direction.

Usage: tools/ab_summary.py <ab.jsonl> [BENCHMARK.json]
"""
import json
import statistics
import sys
from pathlib import Path

bench = Path(sys.argv[2] if len(sys.argv) > 2
             else Path(__file__).resolve().parent.parent / "BENCHMARK.json")
metrics = json.loads(bench.read_text())["end_to_end"]
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bad = [r for r in runs if not r["r"] or not r["r"]["correct"] or r["r"]["failed"]]
print(f"{len(runs)} runs, {len(bad)} incorrect or with failed operations")
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["r"]["metrics"]
pairs = [p for p in by.values() if "parent" in p and "change" in p]
print(f"{len(pairs)} pairs")
print("| metric | parent median | change median | change/parent | parent IQR | change wins | verdict |")
print("|---|---|---|---|---|---|---|")
for spec in metrics:
    m = spec["name"]
    lower = spec["better"] == "lower"
    a = [p["parent"][m]["value"] for p in pairs]
    b = [p["change"][m]["value"] for p in pairs]
    q = statistics.quantiles(a, n=4)
    iqr = q[2] - q[0]
    better = (lambda x, y: y < x) if lower else (lambda x, y: y > x)
    wins = sum(better(x, y) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    if iqr > spec["bound"] * ma:
        verdict = "unresolved"
    elif abs(mb - ma) <= iqr:
        verdict = "within noise"
    else:
        verdict = "better" if better(ma, mb) else "worse"
    print(f"| {m} | {ma:.3f} | {mb:.3f} | {mb / ma:.3f} | {iqr:.3f} | {wins}/{len(pairs)} | {verdict} |")
