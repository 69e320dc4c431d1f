#!/usr/bin/env python3
"""Cross-engine oracle for the q_text_compress row (the one driver row
DuckDB cannot mirror: SQL has no raw-DEFLATE primitive).

Recomputes every (n_bytes, deflate_len, compress_ratio) from the source
documents with CPython's zlib at the SAME parameters the engine's
DeflateLen expression uses (raw deflate: wbits=-15, Z_DEFAULT_COMPRESSION,
default strategy/memLevel) and compares row-exactly against the Spark
parquet output. Java's Deflater and CPython's zlib both bind madler zlib,
so identical parameters yield identical compressed BYTES — measured
byte-exact on this container (JDK 17 vs CPython zlib), which upgrades the
row from rows-only to an independently recomputed full-value check.

Usage: deflate_check.py <spark_out_dir> <sf_dir> [--json=OUT]
  where <spark_out_dir>/q_text_compress/*.parquet is a graft.Verify dump
  (the full surface, or `q_text_compress` named in its optional tail). Exits non-zero on any mismatch.
"""
import sys, json, glob, os, zlib
from decimal import Decimal, ROUND_HALF_UP
import duckdb


def round6_half_up(x):
    # Spark's round() is HALF_UP; Python's built-in round is banker's
    # rounding, which differs exactly at ...5 ties (e.g. 0.4453125)
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

args = [a for a in sys.argv[1:] if not a.startswith("--json=")]
json_out = next((a[len("--json="):] for a in sys.argv[1:] if a.startswith("--json=")), None)
out_dir, sf_dir = args[0], args[1]

con = duckdb.connect()
spark_glob = glob.glob(os.path.join(out_dir, "q_text_compress", "*.parquet"))
if not spark_glob:
    print("no spark output for q_text_compress under", out_dir); sys.exit(2)
rows = con.execute(
    f"SELECT doc_id, n_bytes, deflate_len, compress_ratio FROM read_parquet({spark_glob!r}) ORDER BY doc_id"
).fetchall()
docs = dict(con.execute(
    f"SELECT doc_id, text FROM read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
).fetchall())

mismatches = []
for doc_id, n_bytes, dl, ratio in rows:
    b = docs[doc_id].encode("utf-8")
    co = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
    exp_dl = len(co.compress(b) + co.flush())
    exp_ratio = round6_half_up(exp_dl / max(len(b), 1))
    if dl != exp_dl or n_bytes != len(b) or abs(ratio - exp_ratio) > 1e-9:
        mismatches.append({"doc_id": doc_id, "spark": [n_bytes, dl, ratio],
                           "zlib": [len(b), exp_dl, exp_ratio]})

report = {"sf": sf_dir, "rows": len(rows), "rows_expected": len(docs),
          "row_count_match": len(rows) == len(docs),
          "mismatches": len(mismatches), "sample": mismatches[:5],
          "params": "raw deflate wbits=-15, Z_DEFAULT_COMPRESSION, default strategy"}
print(json.dumps(report))
if json_out:
    with open(json_out, "w") as f:
        json.dump(report, f, indent=1)
sys.exit(0 if not mismatches and report["row_count_match"] else 1)
