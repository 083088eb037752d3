#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then run each oracle SQL in DuckDB over the same parquet tables
and compare (columns sorted by name, rows sorted, floats rounded)."""
import json, math, sys, subprocess, glob, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "0.01"
OUT = f"/tmp/graft_verify_sf{SF}"
SFDIR = f"/root/testdata/sf{SF}"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

run_verify = "--no-verify" not in sys.argv
only = [a for a in sys.argv[2:] if not a.startswith("--")]

if run_verify:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SFDIR} {OUT}'],
        capture_output=True, text=True, cwd=ROOT)
    err_lines = [l for l in (r.stdout + r.stderr).splitlines()
                 if "[verify]" in l or "[error]" in l]
    for l in err_lines[:40]:
        print(l)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print("\n".join((r.stdout + r.stderr).splitlines()[-30:]))
        sys.exit(1)

import duckdb
import pandas as pd

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(4)
        # normalize datetimes to iso strings
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

ok = fail = 0
for name in sorted(os.listdir(OUT)):
    d = os.path.join(OUT, name)
    if not os.path.isdir(d):
        continue
    if only and name not in only:
        continue
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"MISSING OUTPUT {name}")
        fail += 1
        continue
    got = pd.read_parquet(d)
    if name not in oracle:
        print(f"rows-only   {name}: {len(got)} rows" + ("  ⚠ EMPTY" if len(got) == 0 else ""))
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"ORACLE ERROR {name}: {e}")
        fail += 1
        continue
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        print(f"SCHEMA MISMATCH {name}: got {list(g.columns)} exp {list(e.columns)}")
        fail += 1
        continue
    if len(g) != len(e):
        print(f"ROWCOUNT MISMATCH {name}: got {len(g)} exp {len(e)}")
        fail += 1
        continue
    if g.equals(e):
        ok += 1
        print(f"OK          {name} ({len(g)} rows)")
    else:
        neq = (g != e) & ~(g.isna() & e.isna())
        bad_cols = [c for c in g.columns if neq[c].any()]
        print(f"VALUE MISMATCH {name}: cols {bad_cols}")
        idx = neq.any(axis=1)
        print("got:\n", g[idx].head(3))
        print("exp:\n", e[idx].head(3))
        fail += 1

print(f"\n{ok} ok, {fail} failed")
sys.exit(1 if fail else 0)
