#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare each
SparkEntry query's parquet dump (written by `graft.Verify`) against its
DuckDB oracle SQL on the same testdata. Dev-loop only — the real gate is
driver-side. Usage: check.py <sfDir> <verifyOutDir>"""
import json, sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))


def compare(name, d):
    files = glob.glob(f"{d}/*.parquet")
    got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    got = got[sorted(got.columns)]
    if name not in oracle:
        return f"NO-ORACLE rows={len(got)}"
    exp = con.sql(oracle[name]).df()
    exp = exp[sorted(exp.columns)]
    status = []
    if list(got.columns) != list(exp.columns):
        status.append(f"COLS got={list(got.columns)} exp={list(exp.columns)}")
    if len(got) != len(exp):
        status.append(f"ROWS got={len(got)} exp={len(exp)}")
    if not status:
        import pandas as pd
        eq = True
        for c in got.columns:
            a, b = got[c], exp[c]
            try:
                same = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
            except Exception:
                same = a.astype(str).values == b.astype(str).values
            if not same.all():
                bad = (~same).nonzero()[0][:3]
                eq = False
                status.append(f"VAL col={c} rows={list(bad)} got={[a.iloc[i] for i in bad]} exp={[b.iloc[i] for i in bad]}")
        if eq:
            status = ["OK"]
    return "; ".join(status)


# Every oracle row must have a dump: Verify writes oracle entries only
# for the rows it selected, so a row that failed there is missing here.
# An error on one row (a dump DuckDB cannot read, an oracle that runs
# out of memory) fails that row and the check goes on to the next.
results = {}
for name in sorted(set(oracle) | set(os.listdir(out_dir))):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        if name in oracle:
            results[name] = "MISSING"
        continue
    try:
        results[name] = compare(name, d)
    except Exception as e:
        results[name] = f"{type(e).__name__}: {' '.join(str(e).split())}"

fails = 0
for k, v in results.items():
    mark = "PASS" if v == "OK" else ("----" if v.startswith("NO-ORACLE") else "FAIL")
    if mark == "FAIL":
        fails += 1
    print(f"{mark} {k}: {v}")
print(f"\n{len(results)} queries, {fails} failures")
sys.exit(1 if fails else 0)
