"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
(same parquet tables), compares row count, sorted-by-name schema, and an
order-insensitive value hash. Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from datetime import datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from time_series_loader_spark.session import TABLES, get_spark


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # match a reasonable driver normalization: repr of rounded float
        return repr(round(v, 6))
    if isinstance(v, Decimal):
        return repr(round(float(v), 6))
    if isinstance(v, datetime):
        return v.isoformat()
    return repr(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        # a run that names no real slot would check nothing and pass
        print(f"unknown slot name(s): {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:32s} rows={len(srows):6d} (rows-only, no oracle) {t_spark:5.1f}s")
            continue
        t0 = time.time()
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        t_duck = time.time() - t0
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            hs = value_hash(scols, [tuple(r) for r in srows])
            hd = value_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(_norm(r[i]) for i in order_s) for r in srows)
                ld = sorted("|".join(_norm(r[i]) for i in order_d) for r in drows)
                diff = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diff:
                    print(f"    spark : {a}\n    duckdb: {b}")
        checked += 1
        status = "OK " if not problems else "FAIL"
        print(f"{name:32s} {status} rows={len(srows):6d} spark={t_spark:5.1f}s duck={t_duck:5.1f}s "
              + ("; ".join(problems)))
        if problems:
            failures.append(name)
    print(f"\nchecked {checked} slot(s) against the oracle")
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
