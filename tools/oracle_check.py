#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB oracle compare.

Usage: oracle_check.py <spark_out_dir> <sf_dir> [query ...]
Reads <out_dir>/<q>/ parquet + <out_dir>/oracle_sql.json, registers the
sf tables as DuckDB views, runs each oracle SQL, sorts columns by name
and rows by value, and reports rows/schema/values match per query.
Exits non-zero when a query fails, when a named query has no oracle SQL,
or when no query was compared.
"""
import sys, json, glob, os
import duckdb

args = [a for a in sys.argv[1:] if not a.startswith("--json=")]
json_out = next((a[len("--json="):] for a in sys.argv[1:] if a.startswith("--json=")), None)
out_dir, sf_dir = args[0], args[1]
only = set(args[2:])
report = {}

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

fails = 0
missing = sorted(only - oracles.keys())
for q in missing:
    print(f"{q}: NOT IN oracle_sql.json"); fails += 1
    report[q] = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": None, "oracle_rows": None, "err": "no_oracle_sql"}
compared = 0
for q, sql in sorted(oracles.items()):
    if only and q not in only:
        continue
    spark_glob = glob.glob(os.path.join(out_dir, q, "*.parquet"))
    if not spark_glob:
        print(f"{q}: NO SPARK OUTPUT"); fails += 1
        report[q] = {"rows_match": None, "schema_match": None, "hash_match": None,
                     "spark_rows": None, "oracle_rows": None, "err": "no_spark_output"}
        continue
    compared += 1
    sdf = con.execute(f"SELECT * FROM read_parquet({spark_glob!r})")
    scols = sdf.description and [d[0] for d in sdf.description]
    srows = sdf.fetchall()
    try:
        odf = con.execute(sql)
        ocols = [d[0] for d in odf.description]
        orows = odf.fetchall()
    except Exception as e:
        print(f"{q}: ORACLE SQL ERROR: {e}"); fails += 1
        report[q] = {"rows_match": None, "schema_match": None, "hash_match": None,
                     "spark_rows": len(srows), "oracle_rows": None, "err": str(e)[:500]}
        continue
    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = sorted(tuple(str(r[i]) for i in order) for r in rows)
        return sorted(c for c in cols), out
    sc, sr = norm(scols, srows)
    oc, orr = norm(ocols, orows)
    ok_schema = sc == oc
    ok_rows = len(sr) == len(orr)
    ok_vals = sr == orr
    report[q] = {"rows_match": ok_rows, "schema_match": ok_schema,
                 "hash_match": ok_vals, "spark_rows": len(sr),
                 "oracle_rows": len(orr), "err": None}
    if ok_schema and ok_rows and ok_vals:
        print(f"{q}: PASS ({len(sr)} rows)")
    else:
        fails += 1
        print(f"{q}: FAIL schema={ok_schema} rows={len(sr)}/{len(orr)} vals={ok_vals}")
        if not ok_schema:
            print(f"  spark cols:  {sc}\n  oracle cols: {oc}")
        if ok_schema and not ok_vals:
            diffs = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            for a, b in diffs:
                print(f"  spark:  {a}\n  oracle: {b}")
if json_out:
    with open(json_out, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
print("COMPARED:", compared)
print("FAILURES:", fails)
# a run that compared nothing proves nothing
sys.exit(1 if fails or not compared else 0)
