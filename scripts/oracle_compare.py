#!/usr/bin/env python3
"""Compare a graft.Verify output directory against the DuckDB oracle.

    python3 scripts/oracle_compare.py <verify_out_dir> <sf_dir>

Every `<sf_dir>/<table>.parquet` becomes a DuckDB view; each query in
`<verify_out_dir>/oracle_sql.json` runs there and its result is compared
with the query's parquet output: same shape, and the same values per
column once both sides have their columns sorted by name and their rows
sorted by every column (values compared as strings). Prints one line per
query (`<name> MATCH`, `<name> MISMATCH` with the heads of both sides,
or `<name> MISSING` when the query wrote no output), then a total.
Rows-only queries have no oracle entry and are skipped (counted in the
total). Exits 1 on any mismatch or missing output.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd


def normalized(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def same(oracle, spark):
    return oracle.shape == spark.shape and list(oracle.columns) == list(spark.columns) and all(
        (oracle[c].astype(str).values == spark[c].astype(str).values).all()
        for c in oracle.columns)


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    counts = {"MATCH": 0, "MISMATCH": 0, "MISSING": 0}
    for name in sorted(oracle_sql):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            counts["MISSING"] += 1
            print(name, "MISSING")
            continue
        oracle = normalized(con.execute(oracle_sql[name]).df())
        spark = normalized(pd.concat([pd.read_parquet(f) for f in sorted(files)],
                                     ignore_index=True))
        if same(oracle, spark):
            counts["MATCH"] += 1
            print(name, "MATCH")
        else:
            counts["MISMATCH"] += 1
            print(name, f"MISMATCH\n{oracle.head()}\n{spark.head()}")
    rows_only = sum(1 for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d)) and d not in oracle_sql)
    print("TOTAL " + " ".join(f"{k} {v}" for k, v in counts.items()) +
          f" ROWS_ONLY_SKIPPED {rows_only}")
    return 1 if counts["MISMATCH"] or counts["MISSING"] else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
