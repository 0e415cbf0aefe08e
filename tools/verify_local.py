#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: compare graft.Verify
parquet dumps against DuckDB oracle results (dev tool only — the shipped
Scala library has no Python dependency)."""
import sys, os, json, glob
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    if only and name not in only:
        continue
    try:
        spark_df = pd.read_parquet(d)
    except Exception as e:
        results[name] = f"SPARK-READ-FAIL {e}"
        continue
    if name not in oracle:
        results[name] = f"ROWS-ONLY rows={len(spark_df)}" + \
            (" EMPTY!" if len(spark_df) == 0 else "")
        continue
    try:
        oracle_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE-SQL-FAIL {str(e).splitlines()[0][:160]}"
        continue
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    o = oracle_df.reindex(sorted(oracle_df.columns), axis=1)
    if list(s.columns) != list(o.columns):
        results[name] = f"SCHEMA-MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
        continue
    if len(s) != len(o):
        results[name] = f"ROWCOUNT-MISMATCH spark={len(s)} oracle={len(o)}"
        continue
    ss = s.sort_values(by=list(s.columns), ignore_index=True)
    oo = o.sort_values(by=list(o.columns), ignore_index=True)
    mismatch = None
    for c in s.columns:
        a, b = ss[c], oo[c]
        try:
            a = a.astype(object); b = b.astype(object)
        except Exception:
            pass
        neq = [(i, x, y) for i, (x, y) in enumerate(zip(a, b))
               if (x != y) and not (pd.isna(x) and pd.isna(y))]
        if neq:
            i, x, y = neq[0]
            mismatch = f"VALUE-MISMATCH col={c} n={len(neq)} first@{i}: spark={x!r} oracle={y!r} (types {type(x).__name__}/{type(y).__name__})"
            break
    results[name] = mismatch or f"OK rows={len(s)}"

ok = sum(1 for v in results.values() if v.startswith("OK"))
ro = sum(1 for v in results.values() if v.startswith("ROWS-ONLY") and "EMPTY" not in v)
for k, v in sorted(results.items()):
    flag = "  " if v.startswith("OK") or (v.startswith("ROWS-ONLY") and "EMPTY" not in v) else "**"
    print(f"{flag} {k}: {v}")
bad = len(results) - ok - ro
print(f"\n{ok} OK, {ro} rows-only-ok, {bad} bad, of {len(results)}")
# non-zero on any bad entry (mismatch, oracle/read failure, empty
# rows-only result) so a scripted before/after check can fail
sys.exit(1 if bad else 0)
