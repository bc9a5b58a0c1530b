#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: for each query result
dumped by graft.Verify, run the declared DuckDB oracle on the same
parquet tables and compare (columns sorted by name, values compared
exactly, with a diff preview on mismatch). Exits non-zero when any
query fails, including an oracled query Verify wrote no result for.

Usage: python3 scripts/compare.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    # pandas DataFrame -> column-name-sorted list of row tuples, NaN -> None
    df = df[sorted(df.columns)]
    def norm(v):
        if isinstance(v, float) and v != v:
            return None
        return v
    return [tuple(norm(v) for v in row)
            for row in df.itertuples(index=False, name=None)]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*"))):
        if not os.path.isdir(d):
            continue
        name = os.path.basename(d)
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = pq.ParquetDataset(files).read().to_pandas()
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(got)}"
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_ERROR {e}"
            continue
        g, e = canon(got), canon(exp)
        if sorted(got.columns) != sorted(exp.columns):
            results[name] = f"SCHEMA_MISMATCH spark={sorted(got.columns)} duck={sorted(exp.columns)}"
        elif len(g) != len(e):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(g)} duck={len(e)}"
        elif g == e:
            results[name] = f"MATCH rows={len(g)}"
        else:
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
            results[name] = f"VALUE_MISMATCH rows={len(g)} firstdiffs={bad}"
    # an oracled query with no result dir threw in Verify: it fails
    for name in set(oracle) - set(results):
        results[name] = "MISSING no result (query errored in Verify?)"
    npass = sum(1 for v in results.values() if v.startswith(("MATCH", "ROWS_ONLY")))
    for k, v in sorted(results.items()):
        flag = "PASS" if v.startswith(("MATCH", "ROWS_ONLY")) else "FAIL"
        print(f"{flag} {k}: {v}")
    print(f"== {npass}/{len(results)} pass")
    return npass == len(results)

if __name__ == "__main__":
    sys.exit(0 if main(sys.argv[1], sys.argv[2]) else 1)
