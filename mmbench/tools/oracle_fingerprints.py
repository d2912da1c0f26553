#!/usr/bin/env python3
"""Takes the stored query_batch fingerprints from the DuckDB oracle.

Usage, from the repository root, after one benchmark build:
    python3 mmbench/tools/oracle_fingerprints.py

It has the benchmark write the query_batch tables and the oracle SQL of
each checked query (`SparkEntry.oracleSql`), runs that SQL in DuckDB over
the same parquet files, and writes the order-insensitive fingerprints to
mmbench/expected/query_batch.json. It also compares them with the
program's own fingerprints and exits 1 if any differ. The fingerprint is
the one in src/main/scala/mmbench/Fingerprint.scala.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the benchmark's launcher: build and java command)

TABLES = "customer orders lineitem events documents embeddings".split()
MOD = 1 << 64


def kind_value(v):
    if isinstance(v, bool):
        return "bool", decimal.Decimal(int(v))
    if isinstance(v, (int, float, decimal.Decimal)):
        return "num", decimal.Decimal(repr(v)) if isinstance(v, float) else decimal.Decimal(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return "num", decimal.Decimal(delta.days * 86400 + delta.seconds) + decimal.Decimal(delta.microseconds) / 1000000
    if isinstance(v, datetime.date):
        return "num", decimal.Decimal((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, str):
        return "str", decimal.Decimal(int.from_bytes(hashlib.md5(v.encode()).digest()[:8], "big"))
    return "other", decimal.Decimal(0)


def fingerprint(names, rows):
    cols = {}
    for i, name in enumerate(names):
        n, kind, total = 0, "none", decimal.Decimal(0)
        for r in rows:
            if r[i] is not None:
                kind, v = kind_value(r[i])
                n += 1
                total += v
        if kind == "str":
            total = decimal.Decimal(int(total) % MOD)
        cols[name.lower()] = [n, kind, format(total, "f")]
    return {"rows": len(rows), "cols": dict(sorted(cols.items()))}


def differs(want, got):
    if want["rows"] != got["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if set(want["cols"]) != set(got["cols"]):
        return f"columns {sorted(got['cols'])} != {sorted(want['cols'])}"
    for c, (n, kind, value) in want["cols"].items():
        gn, gkind, gvalue = got["cols"][c]
        if gn != n or (n and gkind != kind):
            return f"column {c}: {got['cols'][c]} != {want['cols'][c]}"
        a, b = decimal.Decimal(value), decimal.Decimal(gvalue)
        if n and (a != b if kind == "str" else abs(a - b) > max(abs(a), abs(b)) * decimal.Decimal("1e-6") + decimal.Decimal("1e-6")):
            return f"column {c}: {gvalue} != {value}"
    return None


def main():
    root = os.path.dirname(BENCH)
    out = os.path.join(root, ".bench_build", "oracle")
    cmd = run.java_command(root, run.build(root), os.path.join(root, ".bench_build", "work-oracle"))
    subprocess.run(cmd + ["--dump", out], cwd=root, check=True, stdout=sys.stderr)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out, "spark_fingerprints.json")) as f:
        spark = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet/*.parquet')")
    expected, bad = {}, 0
    for name, sql in sorted(oracles.items()):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        expected[name] = fingerprint(names, cur.fetchall())
        err = differs(expected[name], spark[name])
        print(f"{'FAIL' if err else 'PASS'} {name} ({expected[name]['rows']} rows){': ' + err if err else ''}")
        bad += bool(err)
    with open(os.path.join(BENCH, "expected", "query_batch.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
