#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]

Reads each <out>/<name> parquet (Spark result), runs the matching SQL
from <out>/oracle_sql.json in DuckDB over the sf parquet tables, and
compares: column names (sorted), row count, and values (rows sorted,
exact equality; tiny report of first diffs). A FAIL line carries the
error Verify recorded for that entry in <out>/verify_status.jsonl.
"""
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    return (type(v).__name__, str(v))


def main():
    out, sf = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    verify_errors = {}
    if os.path.exists(f"{out}/verify_status.jsonl"):
        for line in open(f"{out}/verify_status.jsonl"):
            st = json.loads(line)
            if st["status"] != "ok":
                # first line only: one FAIL line per entry; the full
                # message stays in the jsonl
                verify_errors[st["name"]] = (st["error"] or "").split("\n")[0]
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue

        def fail(msg):
            err = verify_errors.get(name)
            print(f"FAIL {msg}" + (f" [verify: {err}]" if err else ""))

        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            scols = sorted(spark_rel.columns)
            sdata = con.sql(
                f"SELECT {', '.join(scols)} FROM spark_rel"
            ).fetchall()
            duck_rel = con.sql(sql)
            dcols = sorted(duck_rel.columns)
            ddata = con.execute(
                f"SELECT {', '.join(dcols)} FROM ({sql}) t"
            ).fetchall()
        except Exception as e:
            fail(f"{name}: error {e}")
            n_fail += 1
            continue
        if scols != dcols:
            fail(f"{name}: columns spark={scols} duck={dcols}")
            n_fail += 1
            continue
        srows = sorted([tuple(canon(v) for v in r) for r in sdata])
        drows = sorted([tuple(canon(v) for v in r) for r in ddata])
        if len(srows) != len(drows):
            fail(f"{name}: rowcount spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            continue
        diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
        if diffs:
            fail(f"{name}: {len(diffs)} differing rows; first: spark={diffs[0][0]} duck={diffs[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
