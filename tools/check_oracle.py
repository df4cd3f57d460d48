#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run Verify output
against DuckDB oracles and compare (column-name-sorted, row-sorted, hashed).
Usage: check_oracle.py <outDir> <sfDir> [gate,gate,...]
The optional third argument names the gates to check, as Verify's does;
without it every gate in oracle_sql.json is checked.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

outdir, sfdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if len(sys.argv) > 3:
    only = set(sys.argv[3].split(","))
    unknown = sorted(only - oracle.keys())
    if unknown:
        sys.exit(f"no oracle SQL for: {unknown}")
    oracle = {k: v for k, v in oracle.items() if k in only}

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to strings (approximating a value hash)
    def cell(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, np.floating):
            return repr(float(v))
        return str(v)
    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)

fails = []
for name in sorted(oracle):
    spark_dir = f"{outdir}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"{name}: MISSING spark output", flush=True); fails.append(name); continue
    got = pd.read_parquet(spark_dir)
    want = con.execute(oracle[name]).df()
    cg, cw = canon(got), canon(want)
    schema_ok = list(cg.columns) == list(cw.columns)
    rows_ok = len(cg) == len(cw)
    hash_ok = schema_ok and rows_ok and cg.equals(cw)
    status = "OK" if hash_ok else "FAIL"
    print(f"{name}: {status} (rows {len(cg)} vs {len(cw)}, cols {list(cg.columns)} vs {list(cw.columns)})", flush=True)
    if not hash_ok:
        fails.append(name)
        if schema_ok and rows_ok:
            diff = (cg != cw).any(axis=1)
            print("  first diffs:\n", pd.concat([cg[diff].head(3), cw[diff].head(3)], keys=["got","want"]).to_string()[:2000], flush=True)
print(f"\n{len(oracle)-len(fails)}/{len(oracle)} OK; failures: {fails}")
sys.exit(1 if fails else 0)
