#!/usr/bin/env python3
"""Take the golden result digests of the benchmarked queries, once.

    python3 perfbench/goldens.py

Asks the repository (SparkEntry.oracleSql) for each benchmarked query's
DuckDB oracle SQL, runs it with DuckDB over the fixture in
perfbench/fixtures/sf0.01, and writes perfbench/goldens.json. The digest
is the one perfbench/src/main/scala/perfbench/Digest.scala computes over
Spark's result: columns sorted by name, row order kept, integers in
decimal, floating and decimal values as the bits of their IEEE double,
strings escaped, dates as epoch days and timestamps as epoch microseconds.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import struct
import sys

import duckdb

import run

FIXTURE = os.path.join(run.BENCH, "fixtures", "sf0.01")
OUT = os.path.join(run.BENCH, "goldens.json")
SPECIAL = set("\\|,:[](){}")
EPOCH = datetime.datetime(1970, 1, 1)


def escape(s):
    return "".join("\\n" if c == "\n" else "\\" + c if c in SPECIAL else c for c in s)


def double(x):
    if x == 0:
        return "d0"
    return "d" + str(struct.unpack("<q", struct.pack("<d", x))[0])


def micros(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = t - EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return double(float(v))
    if isinstance(v, str):
        return "s" + escape(v)
    if isinstance(v, datetime.datetime):
        return "t" + str(micros(v))
    if isinstance(v, datetime.date):
        return "D" + str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):  # a STRUCT: fields in declared order
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    raise TypeError(f"no canonical digest form for {type(v).__name__}")


def digest(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256()
    n = 0
    for row in cur.fetchall():
        h.update(("|".join(value(row[i]) for i in order) + "\n").encode("utf-8"))
        n += 1
    return {"rows": n, "sha256": h.hexdigest()}


def main():
    cp, _ = run.classpath()
    os.makedirs(run.BUILD, exist_ok=True)
    dump = os.path.join(run.BUILD, "oracle_sql.json")
    rc, _ = run.run_group(run.java_cmd(cp, run.BUILD, [
        "--dump-oracles", dump, "--root", run.ROOT]), 170, cwd=run.ROOT)
    if rc != 0:
        sys.exit(f"oracle dump failed (exit {rc})")
    with open(dump) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(FIXTURE, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    goldens = {q: digest(con, sql) for q, sql in sorted(oracles.items())}
    with open(OUT, "w") as f:
        f.write("{\n" + ",\n".join(f'  "{q}": {json.dumps(d)}' for q, d in goldens.items())
                + "\n}\n")
    print(f"wrote {len(goldens)} goldens to {os.path.relpath(OUT, run.ROOT)}")


if __name__ == "__main__":
    main()
