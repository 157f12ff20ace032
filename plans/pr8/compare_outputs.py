#!/usr/bin/env python3
"""Compare two graft.Verify output directories table by table: same
columns, same rows in the same order.

Usage: plans/pr8/compare_outputs.py <parent-out> <change-out> q1,q2,...
"""
import sys

import duckdb

parent, change, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
con = duckdb.connect()
same = 0
for n in names:
    a = con.sql(f"SELECT * FROM '{parent}/{n}/*.parquet'")
    b = con.sql(f"SELECT * FROM '{change}/{n}/*.parquet'")
    ra, rb = a.fetchall(), b.fetchall()
    ok = a.columns == b.columns and ra == rb
    same += ok
    print(f"{'IDENTICAL' if ok else 'DIFFERENT'} {n} ({len(ra)} rows)")
print(f"== {same}/{len(names)} output tables identical row-for-row ==")
sys.exit(0 if same == len(names) else 1)
