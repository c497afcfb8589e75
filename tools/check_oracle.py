#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs graft.Verify (Spark) to dump each query's result parquet +
oracle_sql.json, then executes each oracle SQL in DuckDB over the same
parquet tables and compares: row count, column names, and exact values
(columns sorted by name, rows sorted by all columns).

Usage: python3 tools/check_oracle.py [sfDir] [--skip-verify] [--only=q01,q02]
"""
import json
import math
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify"
# the checkout this script lives in (tools/..), whichever copy runs it
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


ONLY = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")),
            None)


def run_verify():
    names = f" {ONLY}" if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}{names}'],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        tail = r.stdout.splitlines()[-60:]
        print("\n".join(tail), file=sys.stderr)
        sys.exit(f"graft.Verify failed in {REPO} (exit {r.returncode})")


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [names[i] for i in order], out


def main():
    if "--skip-verify" not in sys.argv:
        print(f"running graft.Verify on {SF_DIR} ...")
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        pdir = f"{OUT}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            spark_tbl = pq.read_table(pdir)
            duck = con.execute(sql)
            dnames = [d[0] for d in duck.description]
            drows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        snames = spark_tbl.column_names
        # column-major -> row-major (NOTE: an earlier revision also ran a
        # per-row generator that re-materialized every column per row —
        # O(rows^2 * cols), minutes per 17k-row gate; keep it dead)
        cols = [c.to_pylist() for c in spark_tbl.columns]
        srows = list(zip(*cols)) if cols else []
        sn, sr = canon(snames, srows)
        dn, dr = canon(dnames, drows)
        if sn != dn:
            print(f"FAIL {name}: columns spark={sn} duck={dn}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; "
                  f"first at {i}:\n  spark={a}\n  duck ={b}\n  cols={sn}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(sr)} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
