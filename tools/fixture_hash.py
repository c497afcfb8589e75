#!/usr/bin/env python3
"""Order-independent content hash of each parquet table in a fixture dir.

For every `<table>.parquet` (a file or a Spark output directory) under
the given directory, prints one line: the table name, its row count,
`bit_xor(hash(t))` and `sum(hash(t)::hugeint)` over DuckDB's per-row
hash. Neither aggregate depends on row order or file split, so a
fixture regenerated with a different partitioning hashes equal iff it
holds the same rows (up to hash collisions).

Usage: python3 tools/fixture_hash.py <dir>
"""
import os
import sys

import duckdb


def scan(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    root = sys.argv[1]
    con = duckdb.connect()
    for name in sorted(os.listdir(root)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(root, name)
        rows, xor, total = con.sql(
            "SELECT count(*), bit_xor(hash(t)), sum(hash(t)::hugeint) "
            f"FROM read_parquet('{scan(path)}') t").fetchone()
        print(f"{name[:-len('.parquet')]}\t{rows}\t{xor}\t{total}")


if __name__ == "__main__":
    main()
