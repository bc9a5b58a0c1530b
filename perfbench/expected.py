#!/usr/bin/env python3
"""Panel output check: computes each panel query's expected output anew
by running its declared oracle SQL in DuckDB over the same parquet
tables, and compares it exactly with the output the program wrote,
with the table list and row normalisation of scripts/compare.py
(columns sorted by name, rows in order, NaN read as null).

Usage: python3 perfbench/expected.py <data_dir> <outputs_dir> [--save DIR]

<outputs_dir> holds one parquet directory per query plus
oracle_sql.json (query name -> SQL), as the benchmark's panel runs
write them. --save also writes each expected result to DIR/<query>.parquet.
Prints one line per query and exits non-zero if any query fails.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "scripts"))
from compare import TABLES, canon  # noqa: E402


def check(data_dir, out_dir, save=None):
    """Query name -> "MATCH rows=N" or a description of the failure."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for q, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            verdicts[q] = "NO_OUTPUT"
            continue
        got = pq.ParquetDataset(files).read().to_pandas()
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # the oracle itself failed
            verdicts[q] = f"ORACLE_ERROR {e}"
            continue
        if save:
            os.makedirs(save, exist_ok=True)
            con.execute(f"COPY ({sql}) TO '{os.path.join(save, q)}.parquet' "
                        "(FORMAT parquet)")
        g, e = canon(got), canon(exp)
        if sorted(got.columns) != sorted(exp.columns):
            verdicts[q] = (f"SCHEMA_MISMATCH got={sorted(got.columns)} "
                           f"want={sorted(exp.columns)}")
        elif g != e:
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:2]
            verdicts[q] = f"VALUE_MISMATCH rows={len(g)}/{len(e)} first={bad}"
        else:
            verdicts[q] = f"MATCH rows={len(g)}"
    con.close()
    return verdicts


if __name__ == "__main__":
    a = sys.argv[1:]
    save = a[a.index("--save") + 1] if "--save" in a else None
    v = check(a[0], a[1], save)
    for q, s in v.items():
        print(f"{'PASS' if s.startswith('MATCH') else 'FAIL'} {q}: {s}")
    sys.exit(0 if all(s.startswith("MATCH") for s in v.values()) else 1)
