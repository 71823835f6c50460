#!/usr/bin/env python3
"""Record the DuckDB-oracle hashes the catalog_iterative workload checks.

Usage (from the repository root; needs duckdb):

    python3 perfbench/record_oracle.py

Dumps the oracle SQL of the workload's queries from the graft catalog
(perfbench.OracleSql), runs each in DuckDB over perfbench/fixture and writes
perfbench/expected/catalog_hashes.json, hashed like tools/check_oracle.py.
Re-run only when the fixture or the query list changes; benchmark runs never
execute the oracles.
"""
import json
import os
import subprocess
import sys
import time

import duckdb

import run

FIXTURE = os.path.join(run.HERE, "fixture")
OUT = os.path.join(run.HERE, "expected", "catalog_hashes.json")


def main():
    run.ensure_built()
    sql_file = os.path.join(run.build_dir(), "oracle_sql.json")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    subprocess.run(["java", "-cp", f"{run.classes_dir()}{os.pathsep}{spark_jars}",
                    "perfbench.OracleSql", sql_file], check=True)
    with open(sql_file) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(FIXTURE)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(FIXTURE, f)}'")
    hashes, rows = {}, {}
    for q, sql in oracles.items():
        t0 = time.time()
        df = run.canon(con.execute(sql).df())
        hashes[q], rows[q] = run.table_hash(df), len(df)
        print(f"{q}: {rows[q]} rows, hash {hashes[q]}, oracle {time.time() - t0:.1f} s")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump({"fixture": "perfbench/fixture (the sf0.01 test tables the queries read)",
                   "hashing": "tools/check_oracle.py canon + table_hash",
                   "hashes": hashes, "rows": rows}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
