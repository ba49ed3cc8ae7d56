#!/usr/bin/env python3
"""Cross-check of the stored batch digests (`expected_digests.json`)
against the program's DuckDB oracle SQL (`SparkEntry.oracleSql`, read
after a batch pass, because fitted queries register their oracle only
then) over the batch tables. Run it once after regenerating
the digests:

    python3 perfbench/oracle_check.py

Exits 0 when every query's oracle result has the stored row count and
digest.
"""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def main() -> int:
    import duckdb
    build.build()
    tables = run.BATCH_TABLES
    d = os.path.join(build.BUILD, "oracle")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    sqls = run.harness("batch_cold", d, time.time() + run.RUN_LIMIT_S, sfDir=tables,
                       cores=run.cores(), queries=",".join(run.BATCH_QUERIES))["oracle_sql"]
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(tables, f)}')")
    want = run.expected_digests()
    bad = 0
    for q in run.BATCH_QUERIES:
        got = list(checks.digest_frame(con.execute(sqls[q]).df()))
        ok = got == want.get(q)
        bad += not ok
        print(f"{q}: {'OK' if ok else 'MISMATCH'} oracle {got} stored {want.get(q)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
