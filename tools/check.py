#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]
       python3 tools/check.py <verify_out_dir> <sf_dir> --against <other_out> [query ...]

Reads each <out>/<name> parquet (Spark result), runs the matching SQL
from <out>/oracle_sql.json in DuckDB over the sf parquet tables, and
compares: column names (sorted), row count, and values (rows sorted,
exact equality; tiny report of first diffs). A FAIL line carries the
error Verify recorded for that entry in <out>/verify_status.jsonl.

With --against, no oracle runs: each entry dumped in either Verify
output dir is compared with the other dir's dump of the same entry —
column names (in order), row count, and the sorted canonical rows —
one PASS/FAIL line per entry. This is the "row-identical to another
build" check for a refactor: run Verify on both builds at the same sf,
then compare the two output dirs. It also compares the per-entry Spark
job counts the two verify_status.jsonl files record: each entry whose
count differs gets a `JOBS <name> <other's jobs> -> <out's jobs>` line,
and the summary counts them. The exit status reflects rows only.
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


def read_dump(con, out, name):
    """(column names, rows) of one entry's parquet dump in a Verify dir."""
    rel = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
    return rel.columns, rel.fetchall()


def canon_rows(rows):
    return sorted(tuple(canon(v) for v in r) for r in rows)


def dumped(out):
    return {e.name for e in os.scandir(out) if e.is_dir()}


def statuses(out):
    """name -> status record of one Verify dir's verify_status.jsonl."""
    path = f"{out}/verify_status.jsonl"
    if not os.path.exists(path):
        return {}
    return {st["name"]: st for st in map(json.loads, open(path))}


def against(out, other, only):
    con = duckdb.connect()
    n_pass = n_fail = 0
    for name in sorted(dumped(out) | dumped(other)):
        if only and name not in only:
            continue
        try:
            acols, arows = read_dump(con, out, name)
            bcols, brows = read_dump(con, other, name)
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            n_fail += 1
            continue
        arows, brows = canon_rows(arows), canon_rows(brows)
        if acols != bcols:
            msg = f"columns {acols} vs {bcols}"
        elif len(arows) != len(brows):
            msg = f"rowcount {len(arows)} vs {len(brows)}"
        else:
            diffs = [(a, b) for a, b in zip(arows, brows) if a != b]
            msg = (f"{len(diffs)} differing rows; first: {diffs[0][0]} vs {diffs[0][1]}"
                   if diffs else None)
        if msg:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(arows)} rows, identical)")
            n_pass += 1
    ajobs, bjobs = statuses(out), statuses(other)
    n_jobs = 0
    for name in sorted(ajobs.keys() & bjobs.keys()):
        if only and name not in only:
            continue
        a, b = ajobs[name].get("jobs"), bjobs[name].get("jobs")
        if a != b:
            print(f"JOBS {name} {b} -> {a}")
            n_jobs += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_jobs} job counts differ ==")
    sys.exit(1 if n_fail else 0)


def main():
    args = sys.argv[1:]
    other = None
    if "--against" in args:
        i = args.index("--against")
        other = args[i + 1]
        del args[i:i + 2]
    out, sf = args[0], args[1]
    only = set(args[2:])
    if other is not None:
        return against(out, other, only)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    # first line only: one FAIL line per entry; the full message stays
    # in the jsonl
    verify_errors = {name: (st["error"] or "").split("\n")[0]
                     for name, st in statuses(out).items() if st["status"] != "ok"}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue

        def fail(msg):
            err = verify_errors.get(name)
            print(f"FAIL {msg}" + (f" [verify: {err}]" if err else ""))

        try:
            scols, sdata = read_dump(con, out, name)
            # rows in sorted-column order, to line up with the oracle's
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            scols = [scols[i] for i in order]
            sdata = [tuple(r[i] for i in order) for r in sdata]
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
        srows = canon_rows(sdata)
        drows = canon_rows(ddata)
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
