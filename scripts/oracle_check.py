#!/usr/bin/env python3
"""Check graft.Verify's output against the DuckDB oracle.

    python3 scripts/oracle_check.py <verify_out> <sf_dir>

`graft.Verify <sf_dir> <verify_out>` writes each registered query's rows
to `<verify_out>/<name>/*.parquet` and every oracle SQL string to
`<verify_out>/oracle_sql.json`. This script runs each oracle in DuckDB
over the ten fixture tables of `<sf_dir>` and compares its rows with
graft's: columns are matched by name (sorted), rows are sorted, array
and struct cells are compared as strings, other numbers to a relative
1e-5 (absolute 1e-8). It prints one line per mismatching query and a
summary, and exits 1 if any query mismatches.
"""

import datetime
import decimal
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """A comparable form of one DuckDB value."""
    if isinstance(v, (list, tuple, dict)):
        return str(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def order_key(row):
    """Sorts rows of mixed cells: nulls, then numbers, then the rest."""
    def k(v):
        if v is None:
            return (0, 0, "")
        if isinstance(v, (int, float)):
            return (1, -math.inf if v != v else v, "")
        return (2, 0, str(v))
    return tuple(k(v) for v in row)


def same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a != a or b != b:
            return a != a and b != b
        return math.isclose(a, b, rel_tol=1e-5, abs_tol=1e-8)
    return a == b


def fetch(con, sql):
    """Column names and rows of `sql` (the connection is its own cursor,
    so each result is fetched before the next query runs)."""
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def rows(cols, data):
    """Rows with columns in name order, normalised and sorted."""
    perm = [cols.index(n) for n in sorted(cols)]
    return sorted((tuple(cell(r[i]) for i in perm) for r in data), key=order_key)


def compare(con, name, sql, out_dir):
    part_dir = os.path.join(out_dir, name)
    if not os.path.isdir(part_dir):
        return "no graft output"
    g_cols, g_data = fetch(con, f"SELECT * FROM '{part_dir}/*.parquet'")
    try:
        o_cols, o_data = fetch(con, sql)
    except duckdb.Error as e:
        return f"oracle failed: {str(e).splitlines()[0]}"
    if sorted(g_cols) != sorted(o_cols):
        return f"columns {sorted(g_cols)} vs oracle {sorted(o_cols)}"
    names = sorted(g_cols)
    g, o = rows(g_cols, g_data), rows(o_cols, o_data)
    if len(g) != len(o):
        return f"{len(g)} rows vs oracle {len(o)}"
    for i, (gr, orow) in enumerate(zip(g, o)):
        for c, gv, ov in zip(names, gr, orow):
            if not same(gv, ov):
                return f"row {i} column {c}: {gv!r} vs oracle {ov!r}"
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    out_dir, sf_dir = argv[1], argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")
    bad = 0
    for name, sql in sorted(oracle.items()):
        why = compare(con, name, sql, out_dir)
        if why is not None:
            bad += 1
            print(f"MISMATCH {name}: {why}")
    print(f"{len(oracle) - bad}/{len(oracle)} queries agree with the oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
