#!/usr/bin/env python3
"""Self-check harness mimicking the driver's correctness gate.

NOT part of the shipped library (driver-side python only). Usage:
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out
"""
import glob
import json
import math
import os
import sys

import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(f)[: -len(".parquet")]
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')"
    )

with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
    oracles = json.load(fh)

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    return str(v)

def table_sig(rows, cols):
    body = sorted("|".join(canon(v) for v in row) for row in rows)
    return len(rows), tuple(sorted(cols)), hash(tuple(body))

ok = fail = skipped = 0
# Verify writes no output dir for a query that threw, so an oracled query
# without one failed; walking only the dirs that exist would skip it
for name in sorted(oracles):
    if not os.path.isdir(os.path.join(out_dir, name)):
        print(f"[FAIL-miss] {name}: no output")
        fail += 1
for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
    name = os.path.basename(qdir)
    if not os.path.isdir(qdir):
        continue
    got = con.execute(
        f"SELECT * FROM read_parquet('{qdir}/*.parquet')"
    ).fetchdf()
    got_cols = sorted(got.columns)
    got_rows = got[got_cols].values.tolist()
    if name not in oracles:
        print(f"[rows-only] {name}: rows={len(got_rows)}")
        skipped += 1
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"[FAIL-sql ] {name}: {e}")
        fail += 1
        continue
    exp_cols = sorted(exp.columns)
    exp_rows = exp[exp_cols].values.tolist()
    g, e = table_sig(got_rows, got.columns), table_sig(exp_rows, exp.columns)
    if g == e:
        print(f"[ok       ] {name}: rows={len(got_rows)}")
        ok += 1
    else:
        fail += 1
        print(f"[FAIL     ] {name}: spark(rows={g[0]}, cols={g[1]}) vs duck(rows={e[0]}, cols={e[1]})")
        if g[1] == e[1] and g[0] == e[0]:
            gs = sorted("|".join(canon(v) for v in r) for r in got_rows)
            es = sorted("|".join(canon(v) for v in r) for r in exp_rows)
            diffs = [(a, b) for a, b in zip(gs, es) if a != b][:3]
            for a, b in diffs:
                print(f"    spark: {a}\n    duck : {b}")

print(f"\n{ok} ok, {fail} fail, {skipped} rows-only")
sys.exit(1 if fail else 0)
