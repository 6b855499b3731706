#!/usr/bin/env python3
"""Dev-time emulation of the driver's DuckDB correctness gate.

Usage: python3 dev/check.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name>/ parquet result and oracle_sql.json, runs the
oracle in DuckDB against the sfDir tables, and compares values with
columns sorted by name (mirroring the driver's described compare).
NOT part of the shipped library — developer tooling only.
"""
import json
import math
import shutil
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # a spill directory lets the large oracles (x11 at sf0.01) page to
    # disk instead of failing with "failed to pin block"
    spill = tempfile.mkdtemp(prefix="check-duckdb-")
    try:
        sys.exit(run(sf_dir, out_dir, spill))
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def run(sf_dir, out_dir, spill):
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{spill}'")
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = got_rel.columns
            got = canon(got_rel.fetchall(), got_cols)
            exp_rel = con.sql(sql)
            exp_cols = exp_rel.columns
            exp = canon(exp_rel.fetchall(), exp_cols)
        except Exception as e:
            print(f"FAIL {name}: error {str(e)[:200]}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
        elif got != exp:
            diff = [(g, e) for g, e in zip(got, exp) if g != e]
            print(f"FAIL {name}: {len(got)} vs {len(exp)} rows; "
                  f"first diffs: {diff[:3]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    con.close()
    return 1 if n_fail else 0


if __name__ == "__main__":
    main()
