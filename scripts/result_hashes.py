#!/usr/bin/env python3
"""Order-insensitive result hashes of a graft.Verify output directory.

    python3 scripts/result_hashes.py <verify_out_dir> > hashes.json

One entry per query directory: row count and a SHA-256 over the sorted
column names and types plus the sorted per-row digests, so two runs that
return the same rows in a different order or partitioning hash equal.
Comparing two such files (`diff`) shows which queries changed results.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def query_hash(qdir):
    table = pq.ParquetDataset(glob.glob(os.path.join(qdir, "*.parquet"))).read()
    names = sorted(table.column_names)
    table = table.select(names)
    schema = ",".join(f"{n}:{table.schema.field(n).type}" for n in names)
    rows = sorted(hashlib.sha256(repr(r).encode()).digest()
                  for r in zip(*(table.column(n).to_pylist() for n in names)))
    h = hashlib.sha256(schema.encode())
    for r in rows:
        h.update(r)
    return {"rows": table.num_rows, "sha256": h.hexdigest()}


def main(out_dir):
    queries = sorted(d for d in os.listdir(out_dir)
                     if os.path.isdir(os.path.join(out_dir, d)))
    json.dump({q: query_hash(os.path.join(out_dir, q)) for q in queries},
              sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
