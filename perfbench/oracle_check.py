#!/usr/bin/env python3
"""Cross-checks expected.json against the DuckDB oracle of each query.

    python3 perfbench/run.py --workload loops --seed <v> --seconds 1 --dump <dir>
    python3 perfbench/oracle_check.py <dir> <workload> <variant>

The dump holds the seeded inputs (<dir>/inputs), Spark's result of every
query (<dir>/results/<query>) and the oracle SQL kept next to each query in
the engine (<dir>/oracle/<query>.sql). For each query this prints the row
count and order-insensitive digest of (a) the oracle, (b) Spark's result and
(c) expected.json, and PASS when all three agree. Needs the duckdb module.
The digest is the one graft.perfbench.Digest computes.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings")


def render(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        d = decimal.Decimal(v)
        return "0" if d == 0 else format(d.normalize(CTX), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat() + "Z"
    return str(v)


def digest(rows):
    total = 0
    for r in rows:
        h = hashlib.sha256("\u0001".join(render(v) for v in r).encode()).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
    return f"{total % (1 << 64):016x}"


def main():
    dump, workload, variant = sys.argv[1], sys.argv[2], sys.argv[3]
    spec = json.load(open(os.path.join(HERE, "expected.json")))[workload]
    (sf_key,) = spec.keys()
    expected = spec[sf_key][variant]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{dump}/inputs/{t}.parquet/*.parquet')")
    ok = True
    for q, want in sorted(expected.items()):
        spark_rows = con.execute(
            f"SELECT * FROM read_parquet('{dump}/results/{q}/*.parquet')").fetchall()
        got = (len(spark_rows), digest(spark_rows))
        sql_path = os.path.join(dump, "oracle", f"{q}.sql")
        if os.path.exists(sql_path):
            try:
                rows = con.execute(open(sql_path).read()).fetchall()
                oracle = (len(rows), digest(rows))
            except duckdb.Error as e:
                oracle = ("error", str(e).splitlines()[0])
        else:
            oracle = ("none", "")
        same = got == (want["rows"], want["digest"]) and oracle == got
        ok &= same
        print(f"{'PASS' if same else 'FAIL'} {q}: expected {want['rows']}/{want['digest']} "
              f"spark {got[0]}/{got[1]} oracle {oracle[0]}/{oracle[1]}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
