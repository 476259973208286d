#!/usr/bin/env python3
"""Runs the DuckDB oracle SQL for the benchmark's queries.

Usage: oracle.py <out_dir> <data_dir>

<out_dir>/oracle_sql.json maps query name -> SQL. Every <data_dir>/*.parquet
file is registered as a view named after the file. Each query's result is
written by DuckDB itself to <out_dir>/<name>.parquet (no pandas round trip,
so column types stay DuckDB's); the harness compares it with Spark's
result. Prints one line per query; exits 1 if any query fails to run.
"""
import glob
import json
import os
import sys

import duckdb


def main():
    out_dir, data_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, '*.parquet')):
        name = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, 'oracle_sql.json')) as f:
        oracle = json.load(f)
    failed = 0
    for name, sql in sorted(oracle.items()):
        target = os.path.join(out_dir, f'{name}.parquet')
        try:
            con.execute(f"COPY ({sql}) TO '{target}' (FORMAT PARQUET)")
            print(f"RAN {name}")
        except Exception as e:  # the harness counts the query as failed
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failed += 1
    sys.exit(1 if failed else 0)


if __name__ == '__main__':
    main()
