#!/usr/bin/env python3
"""Regenerate graftbench/expected/etl_hot.json from the DuckDB oracle.

Usage (from the repository root):
    python3 graftbench/tools/oracle_digests.py <scratch-dir>

Writes the oracle SQL of every checked query (SparkEntry.oracleSql, through
the harness's --oracle-sql mode) into <scratch-dir>, runs it in DuckDB over
the benchmark's test tables (graftbench/data/sf0.001), and stores each
result's digest. The digest encoding mirrors
graftbench/src/main/scala/graftbench/Digest.scala;
tools/test_oracle_digests.py and HarnessSpec pin the two to the same literals.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EPOCH = datetime.datetime(1970, 1, 1)


def float_text(x):
    if x != x:
        return "fnan"
    if x in (float("inf"), float("-inf")):
        return "f+inf" if x > 0 else "f-inf"
    if x == int(x) and abs(x) < 1e15:
        return "n%d" % int(x)
    bits = struct.unpack("<q", struct.pack("<d", float(format(x, ".9g"))))[0]
    return "f" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def micros(ts):
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = ts - EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "n%d" % v
    if isinstance(v, float):
        return float_text(v)
    if isinstance(v, decimal.Decimal):
        return float_text(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        return "t%d" % micros(v)
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "?" + str(v)


def row_hash(cells):
    h = hashlib.md5("\u0001".join(cells).encode()).digest()
    return struct.unpack(">q", h[:8])[0]


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash([value(r[i]) for i in order])) & 0xFFFFFFFFFFFFFFFF
        n += 1
    header = hashlib.md5("\u0001".join(columns[i] for i in order).encode()).hexdigest()[:8]
    return "%d:%s:%016x" % (n, header, total)


def main():
    import duckdb

    scratch = os.path.abspath(sys.argv[1])
    os.makedirs(scratch, exist_ok=True)
    sql_path = os.path.join(scratch, "oracle_sql.json")
    cp = run.build(run.source_stamp())
    cmd = ["java", "-cp", cp, "graftbench.Main", "--oracle-sql", sql_path]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    with open(sql_path) as fh:
        oracle = json.load(fh)
    out = {}
    for name, sql in sorted(oracle.items()):
        rows = con.execute(sql).fetchall()
        out[name] = digest([d[0] for d in con.description], rows)
    path = os.path.join(run.HERE, "expected", "etl_hot.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} digests to {path}")


if __name__ == "__main__":
    main()
