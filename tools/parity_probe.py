"""Full-precision cross-engine diff for one oracle slot.

The driver gate compares at 6dp; this probe compares at FULL float
precision (repr of the raw double) to expose the values that differ
between the JVM and DuckDB BEFORE rounding masks them — the
round-5 directive's root-cause instrument for the two flaky slots
(`continuity_stats`, `tfidf_top3`). Usage:

    python tools/parity_probe.py [sf_dir] query [query ...]

Prints, per query: the count of full-precision-identical rows, every
row pair that differs, and for float cells the absolute delta and the
distance of each value to its nearest 6dp floor(x*1e6+0.5) boundary
(a tiny distance = a rounding flip waiting to happen on ulp drift).
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from time_series_loader_spark.session import TABLES, get_spark


def _full(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.isoformat()
    return repr(v)


def _boundary_dist(v: float) -> float:
    """Distance from v*1e6+0.5 to the nearest integer — how close the
    6dp half-up floor is to flipping."""
    x = v * 1e6 + 0.5
    return abs(x - round(x))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("parity-probe")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    any_diff = False
    for name in names:
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()

        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
        ls = sorted(
            (tuple(r[i] for i in order_s) for r in srows),
            key=lambda t: tuple(_full(v) for v in t),
        )
        ld = sorted(
            (tuple(r[i] for i in order_d) for r in drows),
            key=lambda t: tuple(_full(v) for v in t),
        )
        cols = [scols[i] for i in order_s]
        same = 0
        diffs = []
        for a, b in zip(ls, ld):
            if tuple(map(_full, a)) == tuple(map(_full, b)):
                same += 1
            else:
                diffs.append((a, b))
        rowcount_mismatch = len(ls) != len(ld)
        print(f"== {name}: {same}/{len(ls)} rows full-precision identical; "
              f"{len(diffs)} differ (rowcount s={len(ls)} d={len(ld)}"
              + (" — ROWCOUNT MISMATCH" if rowcount_mismatch else "") + ")")
        if rowcount_mismatch:
            # the unmatched tail rows ARE the divergence — show them
            longer, tag = (ls, "spark-only") if len(ls) > len(ld) else (ld, "duckdb-only")
            for extra in longer[min(len(ls), len(ld)):][:10]:
                print(f"  {tag}: {[_full(v) for v in extra]}")
        for a, b in diffs[:40]:
            print(f"  spark : {[_full(v) for v in a]}")
            print(f"  duckdb: {[_full(v) for v in b]}")
            for c, va, vb in zip(cols, a, b):
                fa = float(va) if isinstance(va, (float, Decimal)) else None
                fb = float(vb) if isinstance(vb, (float, Decimal)) else None
                if fa is not None and fb is not None and _full(va) != _full(vb):
                    print(f"    {c}: delta={fa-fb!r} "
                          f"b6(s)={_boundary_dist(fa):.3e} b6(d)={_boundary_dist(fb):.3e}")
        # near-boundary audit even when everything matches: any float within
        # 1e-9 of a 6dp boundary is a flip risk under cross-engine ulp drift
        risky = 0
        for a in ls:
            for v in a:
                if isinstance(v, float) and not math.isnan(v) and _boundary_dist(v) < 1e-9:
                    risky += 1
        print(f"   near-boundary floats (<1e-9 from a 6dp flip): {risky}")
        if diffs or rowcount_mismatch:
            any_diff = True
    return 1 if any_diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
