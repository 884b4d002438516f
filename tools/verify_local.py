#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/verify_local.py <sfDir> <outDir>

For each query: loads the Spark parquet result, runs the oracle SQL in
DuckDB over views named after the testdata tables, sorts columns by name,
sorts rows, compares cell-by-cell with exact equality. Queries without
oracle SQL get a rows>0 check (the driver's weaker path). An oracle key with
no result dir (the row failed in Verify) is reported as FAIL MISSING and
counted; any failure makes the exit status non-zero.
"""
import glob
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        try:
            spark_rel = con.sql(f"SELECT * FROM '{qdir}*.parquet'")
            spark_cols = sorted(spark_rel.columns)
            spark_rows = con.execute(
                f"SELECT {', '.join(spark_cols)} FROM '{qdir}*.parquet'").fetchall()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(spark_rows)} rows)" if spark_rows else "FAIL rows=0"
            continue
        try:
            o_rel = con.sql(oracles[name])
            o_cols = sorted(o_rel.columns)
            o_rows = con.execute(
                f"SELECT {', '.join(o_cols)} FROM ({oracles[name]}) oq").fetchall()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e).splitlines()[0][:160]}"
            continue
        if spark_cols != o_cols:
            results[name] = f"SCHEMA-MISMATCH spark={spark_cols} oracle={o_cols}"
            continue
        def key(row):
            return tuple((c is None, str(c)) for c in row)
        a = sorted([tuple(norm_cell(c) for c in r) for r in spark_rows], key=key)
        b = sorted([tuple(norm_cell(c) for c in r) for r in o_rows], key=key)
        if len(a) != len(b):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(a)} oracle={len(b)}"
        elif a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            results[name] = f"VALUE-MISMATCH e.g. {diffs}"
        else:
            results[name] = f"OK ({len(a)} rows)"

    # Verify writes no result dir for a row that threw; without this such a
    # row would silently drop out of the n/N count.
    for name in oracles:
        if name not in results:
            results[name] = "MISSING (no result dir)"

    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "rows-only")))
    for k in sorted(results):
        flag = "PASS" if results[k].startswith(("OK", "rows-only")) else "FAIL"
        print(f"{flag}  {k}: {results[k]}")
    print(f"\n{n_ok}/{len(results)} green")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
