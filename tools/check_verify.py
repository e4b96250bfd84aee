#!/usr/bin/env python3
"""Dev-only mirror of the driver's DuckDB oracle compare.

Runs after `tools/run.sh graft.Verify <sfdir> <outdir>`: for every
query dump in <outdir>, executes the matching oracle_sql.json entry in
DuckDB over the same testdata tables and compares (rows, columns,
values). Not part of the shipped library. With SPARK_GRAFT_QUERIES set
(a comma-separated list, as graft.Verify reads it), only the listed
entries count as expected dumps.

Usage: python3 tools/check_verify.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json
import math
import os
import sys

import duckdb


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Values are engineered to be bit-identical; repr for diagnosis.
        return repr(v)
    if v is None:
        return "NULL"
    return str(v)


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = 0
    failures = []
    for name in sorted(os.listdir(outdir)):
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}")
            n_fail += 1
            failures.append(name)
            continue
        g = [tuple(canon(v) for v in row) for row in got[gc].itertuples(index=False)]
        e = [tuple(canon(v) for v in row) for row in exp[ec].itertuples(index=False)]
        g.sort()
        e.sort()
        if len(g) != len(e):
            print(f"FAIL {name}: rowcount {len(g)} != {len(e)}")
            n_fail += 1
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(g, e) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(g)} rows differ; first: ")
            print(f"   got {bad[0][0]}")
            print(f"   exp {bad[0][1]}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    wanted = os.environ.get("SPARK_GRAFT_QUERIES")
    if wanted is not None:
        wanted = {q.strip() for q in wanted.split(",") if q.strip()}
    missing = [k for k in oracle
               if (wanted is None or k in wanted)
               and not os.path.isdir(os.path.join(outdir, k))]
    for k in missing:
        print(f"FAIL {k}: no parquet dump (query threw in Verify?)")
        n_fail += 1
        failures.append(k)
    print(f"\n{n_pass} pass, {n_fail} fail" + (f": {failures}" if failures else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
