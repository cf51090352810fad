#!/usr/bin/env python3
"""Replay the driver's DuckDB oracle compare against a graft.Verify dump.

Usage: python3 compare.py <sfDir> <verifyOutDir> [query ...]
For each query in oracle_sql.json (or the given subset): run the SQL in
DuckDB with every parquet table in sfDir registered as a view named after
the file, load the Spark-dumped parquet, sort columns by name, and compare
row count + exact ordered rows.

Exit 1 if any query fails, or has no Spark dump (a SKIP: graft.Verify logs
a failing query and writes nothing for it); the names are printed.
"""
import sys, os, json, glob
import duckdb

sf, out = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
oracle = json.load(open(os.path.join(out, "oracle_sql.json")))

con = duckdb.connect()
for p in glob.glob(os.path.join(sf, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p) else
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

def canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)

n_pass = n_fail = 0
fails, skips = [], []
for qname in sorted(oracle):
    if only and qname not in only:
        continue
    spark_dir = os.path.join(out, qname)
    if not os.path.isdir(spark_dir):
        print(f"[compare] SKIP {qname}: no spark dump")
        skips.append(qname)
        continue
    try:
        orows = con.execute(oracle[qname]).fetch_arrow_table()
        ocols = sorted(orows.column_names)
        odata = [tuple(canon(v) for v in row) for row in
                 zip(*[orows.column(c).to_pylist() for c in ocols])]
        srows = con.execute(
            f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetch_arrow_table()
        scols = sorted(srows.column_names)
        sdata = [tuple(canon(v) for v in row) for row in
                 zip(*[srows.column(c).to_pylist() for c in scols])]
        if ocols != scols:
            raise AssertionError(f"schema mismatch: oracle {ocols} vs spark {scols}")
        if len(odata) != len(sdata):
            raise AssertionError(f"row count: oracle {len(odata)} vs spark {len(sdata)}")
        if odata != sdata:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(odata, sdata)) if a != b][:3]
            raise AssertionError(f"content mismatch, first diffs: {diffs}")
        n_pass += 1
    except Exception as e:
        print(f"[compare] FAIL {qname}: {e}")
        fails.append(qname)
        n_fail += 1
print(f"[compare] PASS {n_pass}, FAIL {n_fail}, SKIP {len(skips)}")
if fails:
    print("[compare] failed:", fails)
if skips:
    print("[compare] skipped (no spark dump):", skips)
sys.exit(1 if n_fail or skips else 0)
