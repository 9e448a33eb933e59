#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: crosscheck.py <sfDir> <verifyOutDir>

For each query dir in verifyOutDir: load spark parquet result, run the
oracle SQL from oracle_sql.json against the sfDir parquet tables, sort
columns by name, compare row-by-row (with small float tolerance off —
exact match, like a hash compare would be).
"""
import sys, os, json, glob
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
fail = 0
for name in sorted(os.listdir(out_dir)):
    qdir = os.path.join(out_dir, name)
    if not os.path.isdir(qdir):
        continue
    files = glob.glob(qdir + "/*.parquet")
    if not files:
        print(f"{name}: NO OUTPUT"); fail += 1; continue
    spark_df = con.execute(f"SELECT * FROM '{files[0]}'").fetchdf()
    if name not in oracle:
        print(f"{name}: rows-only ({len(spark_df)} rows)"); continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {str(e).splitlines()[0]}"); fail += 1; continue
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        print(f"{name}: COLUMN MISMATCH spark={list(s.columns)} duck={list(d.columns)}"); fail += 1; continue
    if len(s) != len(d):
        print(f"{name}: ROWCOUNT {len(s)} vs {len(d)}"); fail += 1; continue
    # compare stringified values row by row (order as produced)
    mismatch = None
    sv, dv = s.values.tolist(), d.values.tolist()
    for i, (a, b) in enumerate(zip(sv, dv)):
        fa = [repr(x) for x in a]
        fb = [repr(x) for x in b]
        if fa != fb:
            mismatch = (i, fa, fb); break
    # dtype check (schema parity)
    dt_s = [str(x) for x in s.dtypes]; dt_d = [str(x) for x in d.dtypes]
    if mismatch:
        i, fa, fb = mismatch
        print(f"{name}: VALUE MISMATCH at row {i}:\n  spark={fa}\n  duck ={fb}"); fail += 1
    elif dt_s != dt_d:
        print(f"{name}: ok values, DTYPE diff spark={dt_s} duck={dt_d}")
    else:
        print(f"{name}: OK ({len(s)} rows)")
# a query that failed in Verify writes no dir: count it, never skip it
for name in sorted(set(oracle) - set(os.listdir(out_dir))):
    print(f"{name}: NO OUTPUT"); fail += 1
print("FAILURES:", fail)
sys.exit(1 if fail else 0)
