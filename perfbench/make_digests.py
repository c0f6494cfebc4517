#!/usr/bin/env python3
"""Derive perfbench/digests.json from the DuckDB oracle.

    python3 perfbench/make_digests.py

Run from the root of a checkout. For every query of a named workload, runs
its `SparkEntry.oracleSql` text on the sf0.1 tables in DuckDB and stores the
digest run.py compares Spark's result with (columns sorted, rows sorted,
floats at 9 significant digits, as in tools/check.py).
"""
import json
import os
import subprocess

import duckdb

import run
from check import TABLES  # importable once run has put tools/ on the path


def main():
    classpath = run.build()
    sql_file = os.path.join(run.OUT, "oracle_sql.json")
    subprocess.run(run.java_cmd(classpath, run.OUT, "perfbench.Oracles", [sql_file]),
                   check=True)
    oracles = json.load(open(sql_file))
    data = run.data_dir()
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests = {name: run.digest(con.sql(sql).df()) for name, sql in oracles.items()}
    with open(os.path.join(run.BENCH, "digests.json"), "w") as fh:
        json.dump({"data": "sf0.1", "queries": digests}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(digests)} digests written")


if __name__ == "__main__":
    main()
