"""Full oracle gate under a PERTURBED Spark session.

The round-5 driver flake was environment-sensitive: the driver's
session (different core count → different defaultParallelism → different
unkeyed bucketing, exchange counts, and float-merge orders) disagreed
with local runs that all passed. After the round-6 hardening removed
every partition-order-dependent float path, this probe CLOSES the
hypothesis empirically: run all 50 slots on a deliberately-odd session
(5 cores, 7 shuffle partitions vs the standard 32/32) and require the
same hashes DuckDB produces.

Usage: python tools/perturbed_gate.py [sf_dir] [master] [shuffle_parts]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from time_series_loader_spark.session import TABLES, get_spark
from tools.oracle_check import value_hash


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    master = sys.argv[2] if len(sys.argv) > 2 else "local[5]"
    parts = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    spark = get_spark("perturbed-gate", master=master, shuffle_partitions=parts)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    fails = []
    checked = 0
    for name, fn in qs.items():
        if name not in oracles:  # rows-only slots (env_fingerprint)
            n = fn(spark, sf_dir).count()
            print(f"{name:32s} SKIP (rows-only) rows={n}")
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        drows = cur.fetchall()
        ok = (
            len(srows) == len(drows)
            and value_hash(sdf.columns, srows)
            == value_hash([d[0] for d in cur.description], drows)
        )
        checked += 1
        print(f"{name:32s} {'OK' if ok else 'FAIL'} rows={len(srows)}")
        if not ok:
            fails.append(name)
    print(f"checked {checked} slot(s) against the oracle")
    if fails:
        print("FAILURES:", fails)
        return 1
    print(f"all {checked} checked slots match under {master} / {parts} partitions")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
