#!/usr/bin/env python3
"""Cross-check the suite's golden digests against DuckDB.

For every registered query that has an equivalent SQL oracle
(graft.SparkEntry.oracleSql), run the oracle in DuckDB over the same
fixtures and compare its digest (digest.py) with the golden digest in
golden/suite_sf0.01.json. Prints one line per mismatch and a summary.

    python3 perfbench/crosscheck_duckdb.py
"""

import json
import os
import shutil
import sys

import duckdb

import digest
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    run.build()
    work = os.path.join(run.HERE, ".work", f"oracle-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    oracle_path = os.path.join(work, "oracle.json")
    try:
        run.java("oracle-sql", work, {"out": oracle_path}, os.path.join(work, "oracle.log"), 300)
        with open(oracle_path) as f:
            oracle = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.SUITE_GOLDEN) as f:
        golden = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.SUITE_DATA, t + '.parquet')}'")
    agree, mismatched = [], []
    for name, sql in sorted(oracle.items()):
        try:
            cur = con.execute(sql)
            got = digest.digest([d[0] for d in cur.description], cur.fetchall())
        except Exception as e:  # an oracle DuckDB cannot run is reported, not fatal
            got = f"error: {str(e).splitlines()[0]}"
        if got == golden.get(name):
            agree.append(name)
        else:
            mismatched.append(name)
            print(f"{name}: golden {golden.get(name)}, duckdb {got}")
    print(f"{len(agree)} of {len(oracle)} oracle queries agree with the golden digests")
    return 0 if not mismatched else 1


if __name__ == "__main__":
    sys.exit(main())
