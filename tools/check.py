#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run graft.Verify's
output dir against DuckDB on the same tables and diff per query.

Usage: python3 tools/check.py <sfDir> <outDir>
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
# an explicit memory cap and a spill directory: with DuckDB's default cap
# (80% of RAM) and no spill dir, a large oracle query can fail with
# `bad allocation` instead of spilling to disk
con = duckdb.connect(config={
    "memory_limit": "4GB",
    "temp_directory": os.path.join(outdir, ".duckdb_tmp"),
})
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok, bad = [], []
for name in sorted(oracle):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        bad.append((name, "NO SPARK OUTPUT")); continue
    got = pq.read_table(files[0]).to_pandas()
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        bad.append((name, f"ORACLE SQL ERROR: {e}")); continue
    # driver-style: sort columns by name
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        bad.append((name, f"COLUMNS got={list(got.columns)} exp={list(exp.columns)}")); continue
    if len(got) != len(exp):
        bad.append((name, f"ROWS got={len(got)} exp={len(exp)}")); continue
    import numpy as np
    def norm(v):
        if isinstance(v, np.ndarray): return [norm(x) for x in v.tolist()]
        if isinstance(v, (list, tuple)): return [norm(x) for x in v]
        if isinstance(v, dict): return {k: norm(x) for k, x in v.items()}
        if isinstance(v, (np.integer,)): return int(v)
        if isinstance(v, (np.floating,)): return float(v)
        if isinstance(v, float) and pd.isna(v): return None
        return None if v is None or (not isinstance(v, (list, dict)) and pd.isna(v)) else v
    try:
        for c in got.columns:
            gv, ev = got[c].tolist(), exp[c].tolist()
            for i, (g, e) in enumerate(zip(gv, ev)):
                g, e = norm(g), norm(e)
                if g != e:
                    bad.append((name, f"VALUE col={c} row={i} got={g!r} exp={e!r}"))
                    raise StopIteration
    except StopIteration:
        continue
    ok.append(name)

print(f"== OK ({len(ok)}): {' '.join(ok)}")
for name, why in bad:
    print(f"== FAIL {name}: {why}")
# queries without oracle: rows-only
no_oracle = [os.path.basename(d) for d in glob.glob(f"{outdir}/q*") if os.path.isdir(d)
             and os.path.basename(d) not in oracle]
print(f"== rows-only (no oracle): {sorted(no_oracle)}")
sys.exit(1 if bad else 0)
