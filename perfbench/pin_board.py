#!/usr/bin/env python3
"""Recompute the query board's pins from the DuckDB oracle.

    python3 perfbench/pin_board.py

For each board query, runs its oracle SQL (SparkEntry.oracleSql, dumped
by the benchmark's Main) in DuckDB over perfbench/data/sf0.1 and records
the row count and an order-insensitive hash in perfbench/board_pins.json.
The hash is defined in Board.fingerprint (Scala) and `fingerprint` here:
columns in name order, each value in a canonical text form, each row's
text hashed with SHA-256, the first 8 bytes summed modulo 2^64.
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402  (build + classpath)

DATA = HERE / "data" / "sf0.1"


def num(d):
    if math.isnan(d):
        return "n:nan"
    if math.isinf(d):
        return "n:inf" if d > 0 else "n:-inf"
    if d == math.floor(d) and abs(d) < 2.0 ** 53:
        return f"n:{int(d)}"
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    return "d:" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def two(i):
    return f"{i:02d}"


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"n:{int(v)}"
        return num(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        base = (f"{v.year}-{two(v.month)}-{two(v.day)} "
                f"{two(v.hour)}:{two(v.minute)}:{two(v.second)}")
        return "t:" + (base if v.microsecond == 0 else f"{base}.{v.microsecond:06d}")
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat()
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            items = zip(v["key"], v["value"])  # DuckDB MAP as key/value lists
            return "{" + ",".join(sorted(canon(k) + "=" + canon(x) for k, x in items)) + "}"
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?:" + str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\u0001".join(canon(r[i]) for i in order)
        h = hashlib.sha256(text.encode("utf-8")).digest()
        total = (total + struct.unpack(">q", h[:8])[0]) % (1 << 64)
    return len(rows), format(total, "016x")


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        dump = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-cp", classpath, "perfbench.Main",
                        "--dump-oracle", str(dump)], check=True)
        oracle = json.loads(dump.read_text())
    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    pins = {}
    for name, sql in oracle.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        n, h = fingerprint(cols, cur.fetchall())
        pins[name] = {"rows": n, "hash": h}
        print(f"{name}: {n} rows, {h}", file=sys.stderr)
    (HERE / "board_pins.json").write_text(json.dumps(pins, indent=1) + "\n")


if __name__ == "__main__":
    main()
