#!/usr/bin/env python3
"""Compute the analytics_suite expected answers from DuckDB.

    python3 perfbench/tools/make_expected.py

For each query of the analytics list, runs its `SparkEntry.oracleSql`
in DuckDB over perfbench/data/sf0.1 (tables as views, as
tools/parity_check.py does) and writes the row count and the
order-insensitive hash that graftbench.Fingerprint computes on the
Spark side, each value after its column's type kind, to
perfbench/expected/analytics_sf0.1.json.
"""
import datetime
import decimal
import hashlib
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402  (the benchmark's build)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIGITS = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
SEP = "\u001f"


def number(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def canon(v):
    """Graftbench.Fingerprint.canon, value for value."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return number(DIGITS.create_decimal_from_float(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return "<" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v)) + ">"
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def kind(t):
    """Graftbench.Fingerprint.kind: tools/parity_check.py's type kinds."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    return "other"


def fingerprint(table):
    names = sorted(table.column_names)
    kinds = [kind(table.schema.field(n).type) for n in names]
    cols = [table.column(n).to_pylist() for n in names]
    total = 0
    for row in zip(*cols):
        text = SEP.join(k + ":" + canon(x) for k, x in zip(kinds, row))
        d = hashlib.md5(text.encode()).digest()
        total += int.from_bytes(d[:8], "big")
    return {"rows": table.num_rows, "hash": format(total % (1 << 64), "016x")}


def main():
    cp = run.build()
    out = subprocess.run(["java", "-cp", cp, "graftbench.OracleDump"],
                         capture_output=True, text=True, check=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    data = HERE / "data" / "sf0.1"
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for q, sql in oracle.items():
        expected[q] = fingerprint(con.sql(sql).fetch_arrow_table())
        print(q, expected[q], file=sys.stderr)
    dest = HERE / "expected" / "analytics_sf0.1.json"
    dest.write_text(json.dumps(expected, indent=1) + "\n")


if __name__ == "__main__":
    main()
