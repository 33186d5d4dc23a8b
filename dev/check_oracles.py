#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run oracle_sql.json in
DuckDB over the sf tables and compare against the Spark parquet dumps.

r16 (VERDICT r15 #2): ALSO exercises every rows-only dump (a query dir in
out_dir with no oracle SQL) through the driver's own path — load into
pandas, sort_values over every column, row-count — so a schema the
driver's comparator cannot digest (e.g. ARRAY columns -> factorize
'unhashable type: numpy.ndarray', the p_tokenize_shards r15 crash) fails
HERE before the round ships, instead of as a red driver row."""
import sys, os, json, glob, math
import duckdb, pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# usage: check_oracles.py [sf_dir] [out_dir] [query ...] — trailing query
# names (as dumped by `graft.Verify <sf_dir> <out_dir> q ...`) limit both
# loops to those names, and a named query with no output still FAILs; with
# no names the full gate runs
only = set(sys.argv[3:])

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if only:
    oracle = {k: v for k, v in oracle.items() if k in only}
fails = []
for name, sql in sorted(oracle.items()):
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fails.append(name); continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails.append(name); continue
    got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}"); fails.append(name); continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}"); fails.append(name); continue
    ok = True
    for c in exp.columns:
        a, b = exp[c], got[c]
        if a.dtype != b.dtype:
            print(f"WARN {name}.{c}: dtype exp={a.dtype} got={b.dtype}")
        try:
            same = (a.astype(object).where(pd.notnull(a), None).tolist() ==
                    b.astype(object).where(pd.notnull(b), None).tolist())
        except Exception:
            same = a.tolist() == b.tolist()
        if not same:
            bad = [(i, a.iloc[i], b.iloc[i]) for i in range(len(a))
                   if not ((pd.isnull(a.iloc[i]) and pd.isnull(b.iloc[i])) or a.iloc[i] == b.iloc[i])][:3]
            if bad:
                print(f"FAIL {name}.{c}: first diffs {bad}")
                ok = False
    if ok:
        print(f"PASS {name} ({len(exp)} rows)")
    else:
        fails.append(name)
# --- rows-only entries: drive them like the driver does -------------------
rows_only = sorted(
    (only - oracle.keys()) if only else
    (d for d in os.listdir(out_dir)
     if os.path.isdir(os.path.join(out_dir, d)) and d not in oracle))
for name in rows_only:
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: rows-only, no spark output"); fails.append(name); continue
    try:
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        got = got.reindex(sorted(got.columns), axis=1)
        got = got.sort_values(by=list(got.columns))  # the driver's crash site
        n = len(got)
    except Exception as e:
        print(f"FAIL {name}: rows-only, driver-path error: {e}")
        fails.append(name); continue
    if n == 0:
        print(f"FAIL {name}: rows-only, 0 rows"); fails.append(name)
    else:
        print(f"PASS {name} (rows-only, {n} rows)")

total = len(oracle) + len(rows_only)
print(f"\n{total-len(fails)}/{total} PASS ({len(oracle)} oracled + {len(rows_only)} rows-only)"
      + (f"; FAILS: {fails}" if fails else ""))
sys.exit(1 if fails else 0)
