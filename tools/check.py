#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark result; a <name>.FAILED
marker left by a query that threw is reported as its FAIL reason), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir
parquet tables, and compares: columns sorted by name, rows sorted,
values compared exactly (floats bit-for-bit, NaN==NaN).
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t))
    return [colnames[i] for i in order], out


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = Path(out_dir) / name
        marker = Path(out_dir) / f"{name}.FAILED"
        if marker.exists():
            print(f"FAIL {name}: query failed: {marker.read_text().strip()}")
            n_fail += 1
            continue
        if not res_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        files = list(res_dir.glob("*.parquet"))
        tbl = pq.read_table(files[0]) if len(files) == 1 else pq.read_table(res_dir)
        spark_cols = tbl.column_names
        spark_rows = [tuple(r.values()) for r in tbl.to_pylist()]
        try:
            cur = con.execute(sql)
            duck_cols = [d[0] for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        sc, sr = canon(spark_rows, spark_cols)
        dc, dr = canon(duck_rows, duck_cols)
        if sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duck={dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: row count spark={len(sr)} duck={len(dr)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(sr, dr)):
            ca = tuple(comparable(x) for x in a)
            cb = tuple(comparable(x) for x in b)
            if ca != cb:
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} differs\n  spark={bad[1]}\n  duck ={bad[2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


def comparable(v):
    # datetimes from pyarrow (us) vs duckdb (datetime) compare fine via ==
    # but normalize Decimal vs float and date/datetime reprs via str
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return v


if __name__ == "__main__":
    main()
