#!/usr/bin/env python3
"""Per-gate medians of a tools/gate_times.sh JSONL file: parent and change
median seconds, change/parent ratio, the parent's IQR, and a flag on
every gate whose change median is worse than the parent's by more
than the parent's IQR. Also reports any gate that errored.

Usage: tools/gate_times_summary.py <gate_times.jsonl>
"""
import json
import statistics
import sys

runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
sides = {"parent": [], "change": []}
for r in runs:
    sides[r["side"]].append(r["r"])
for side, rs in sides.items():
    errs = {k for r in rs for k in r["errors"]}
    print(f"{side}: {len(rs)} runs, errored gates: {sorted(errs) or 'none'}")
print("| gate | parent median s | change median s | change/parent | parent IQR | verdict |")
print("|---|---|---|---|---|---|")
worse = 0
for g in sorted(sides["parent"][0]["queries"]):
    a = [r["queries"][g] for r in sides["parent"]]
    b = [r["queries"][g] for r in sides["change"]]
    q = statistics.quantiles(a, n=4, method="inclusive")
    iqr = q[2] - q[0]
    ma, mb = statistics.median(a), statistics.median(b)
    verdict = "WORSE beyond parent IQR" if mb - ma > iqr else "ok"
    worse += verdict != "ok"
    print(f"| {g} | {ma:.3f} | {mb:.3f} | {mb / ma:.3f} | {iqr:.3f} | {verdict} |")
ta = statistics.median(r["value"] for r in sides["parent"])
tb = statistics.median(r["value"] for r in sides["change"])
print(f"| total | {ta:.3f} | {tb:.3f} | {tb / ta:.3f} | | |")
print(f"{worse} gate(s) worse than the parent by more than its IQR")
