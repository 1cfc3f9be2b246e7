"""Cross-checks the recorded entry fingerprints (perfbench/expected.txt)
against DuckDB: every recorded entry that has an oracle in
`SparkEntry.oracleSql` is run by DuckDB over the same tables, and its row
count and fingerprint must equal the recording. Run from the repo root:

    python3 perfbench/oracle_check.py

The fingerprint is the one perfbench/src/perfbench/Check.scala computes:
rows are rendered with their values in column-name order, non-integer
numbers rounded to 9 significant digits, and the first 8 bytes of each
row's MD5 are summed modulo 2^64.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dec(d):
    if d == 0:
        return "0"
    return format(CTX.plus(d).normalize(CTX), "f")


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return "0" if v == 0 else dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + v.hex()
    if isinstance(v, dict):
        return "(" + "|".join(canon(v[k]) for k in sorted(v)) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    acc = 0
    for r in rows:
        text = "(" + "|".join(canon(r[i]) for i in order) + ")"
        acc += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    return len(rows), "%016x" % (acc % (1 << 64))


def main():
    expected = {}
    for line in open(os.path.join(HERE, "expected.txt")):
        if line.strip() and not line.startswith("#"):
            name, rows, h = line.split()
            expected[name] = (int(rows), h)
    cp = build.build()
    with tempfile.NamedTemporaryFile(suffix=".json", dir=build.BUILD) as f:
        subprocess.run(["java", "-cp", cp, "perfbench.Oracles", f.name], check=True)
        oracles = json.load(open(f.name))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(HERE, 'data', t)}.parquet'")
    bad = checked = 0
    for name in sorted(expected):
        if name not in oracles:
            print(f"skip {name} (no oracle)")
            continue
        cur = con.execute(oracles[name])
        got = fingerprint([d[0] for d in cur.description], cur.fetchall())
        checked += 1
        if got == expected[name]:
            print(f"ok   {name} rows={got[0]}")
        else:
            bad += 1
            print(f"FAIL {name}: duckdb rows={got[0]} hash={got[1]}, "
                  f"recorded rows={expected[name][0]} hash={expected[name][1]}")
    print(f"{checked} checked against DuckDB, {bad} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
