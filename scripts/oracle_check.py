#!/usr/bin/env python3
"""Local oracle compare (dev tool, mirrors the driver's gate):

    python3 scripts/oracle_check.py <verifyOutDir> <sfDir> [query...]

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
the sfDir parquet tables and compares rows/schema/values against the
Spark parquet dumps in <verifyOutDir>/<query>/. Columns are sorted by
name and rows by all columns before the value compare, like the driver.
A query with no Spark dump (Verify writes none when the query fails) is
skipped, or counted as a failure when it was named on the command line.
"""
import duckdb
import glob
import json
import os
import sys

import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    outdir, sfdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sqls = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in glob.glob(os.path.join(sfdir, "*.parquet")):
        name = os.path.basename(t).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    failures = 0
    for name in sorted(only - sqls.keys()):
        print(f"{name}: FAILED (no oracle SQL)")
        failures += 1
    for name, sql in sorted(sqls.items()):
        if only and name not in only:
            continue
        spark_glob = os.path.join(outdir, name, "*.parquet")
        if not glob.glob(spark_glob):
            # Verify writes no dump for a query that failed; a query
            # named on the command line must not pass unchecked
            if name in only:
                print(f"{name}: FAILED (no spark dump)")
                failures += 1
            else:
                print(f"{name}: SKIP (no spark dump)")
            continue
        spark = canon(con.execute(
            f"SELECT * FROM read_parquet('{spark_glob}')").df())
        try:
            oracle = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        rows = len(spark) == len(oracle)
        schema = list(spark.columns) == list(oracle.columns)
        if rows and schema:
            try:
                pd.testing.assert_frame_equal(
                    spark, oracle, check_dtype=False, check_exact=True)
                print(f"{name}: OK ({len(spark)} rows)")
                continue
            except AssertionError as e:
                print(f"{name}: VALUE MISMATCH: {str(e)[:400]}")
        else:
            print(f"{name}: rows {len(spark)} vs {len(oracle)}, "
                  f"cols {list(spark.columns)} vs {list(oracle.columns)}")
        failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
