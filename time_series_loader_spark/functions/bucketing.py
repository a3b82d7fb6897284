"""Deterministic value-based time bucketing — the one home of the
unkeyed time-order policy.

Unkeyed ordered operators (diff, rate, time-weighted mean, fills,
interpolation, EWM, as-of) run on the reference's one global timeline. A
plain ``Window.orderBy(ts)`` funnels that timeline through ONE partition.
Instead every such operator goes through this module:

1. :func:`time_buckets` assigns each row a bucket id ``_pid`` that is a
   PURE FUNCTION of its timestamp (no sampling — repeated evaluations of
   the subtree always agree): ``num_buckets`` equal time ranges over the
   data's [min, max] span, defaulting to the session's
   ``defaultParallelism``. Degenerate input (empty, zero span, or a single
   bucket) returns ``None`` and the caller falls back to its
   single-partition window, which is tiny by definition.
2. The operator runs its window per bucket (hash-partitioned on ``_pid``).
3. Bucket boundaries are stitched with a carry table: one row per bucket
   (tens to thousands), built from a map-side-combined per-bucket
   aggregate over the PRE-window frame (computing it from the windowed
   frame would force the expensive sort to evaluate twice), prefix-scanned
   and broadcast-joined back on ``_pid``.

:func:`shift_in_time` is the whole scheme for the common case — the
previous (or next) row's value — where the carry is the neighbouring
bucket's edge value and the scan is a ``lag``/``lead`` over the tiny
bucket-edge frame. :func:`nearest_present` is the whole scheme for the
nearest NON-NULL value before and/or after each row, with the run length
from it: ffill/bfill, time interpolation and the as-of join call it, and
its one carry table is scanned on the driver. EWM, a decay recursion
rather than a neighbour, is the only operator that calls
:func:`time_buckets` and scans a carry of its own.

r7 note: the bucket id is computed in INTEGER microseconds. Results are
provably bucketing-invariant (the boundary-carry stitch; certified by the
perturbed-session gate), so a float here could never flip an output — but
oracle-gated plans carry a "no engine-evaluated floats" audit, and integer
epoch-µs arithmetic costs nothing while making the routing exact too.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def time_bucket_column(
    ts_col: str, lo: int, span: int, n: int
) -> Column:
    """Bucket id 0..n-1, monotone in ts: ((us - lo) * n) div span, capped.

    Pure int64: (span ≤ ~292 years in µs) × n ≤ 2^63 for any realistic
    partition count; `div` truncation equals floor because us ≥ lo.
    """
    return F.least(
        F.lit(n - 1),
        F.expr(
            f"(unix_micros(`{ts_col}`) - {int(lo)}L) * {int(n)}L div {int(span)}L"
        ),
    ).cast("int")


def time_span(df: DataFrame, ts_col: str) -> tuple[int | None, int | None]:
    """(min, max) of the timestamp column in epoch MICROSECONDS (exact
    integers — no double round-trip)."""
    b = df.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("lo"),
        F.max(F.unix_micros(F.col(ts_col))).alias("hi"),
    ).collect()[0]
    return b["lo"], b["hi"]


def time_buckets(
    df: DataFrame, ts_col: str, num_buckets: int | None = None
) -> Optional[DataFrame]:
    """``df`` plus the bucket id ``_pid``, or ``None`` for degenerate
    input (empty, zero time span, or fewer than two buckets). Costs one
    (min, max) aggregate job over ``df``."""
    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    lo, hi = time_span(df, ts_col)
    if lo is None or hi is None or hi <= lo or n <= 1:
        return None
    return df.withColumn("_pid", time_bucket_column(ts_col, lo, hi - lo, n))


def shift_in_time(
    df: DataFrame,
    ts_col: str,
    src: str,
    out: str,
    lead: bool = False,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    """Adds ``out`` = the previous row's ``src`` in time order (with
    ``lead``, the next row's) — null for each series' first (last) row.

    Keyed input: a plain ``lag``/``lead`` window partitioned by the key.
    Unkeyed input: the shift runs per time bucket and each bucket's edge
    row takes the neighbouring bucket's last (first) ``src`` from a
    broadcast (bucket → edge value) table. Cost: two extra lightweight
    aggregate scans; benefit: the sort is hash-distributed over the
    buckets instead of one partition.
    """
    shift = F.lead if lead else F.lag
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(ts_col)
        return df.withColumn(out, shift(src).over(w))
    bucketed = time_buckets(df, ts_col, num_buckets)
    if bucketed is None:
        return df.withColumn(out, shift(src).over(Window.orderBy(ts_col)))
    edge = F.min_by if lead else F.max_by
    bounds = bucketed.groupBy("_pid").agg(edge(src, F.col(ts_col)).alias("_edge"))
    w_b = Window.orderBy("_pid")  # one row per bucket — trivially single-partition
    carry = bounds.select("_pid", shift("_edge").over(w_b).alias("_carry"))
    w_local = Window.partitionBy("_pid").orderBy(ts_col)
    return (
        bucketed.withColumn("_local", shift(src).over(w_local))
        .join(F.broadcast(carry), "_pid", "left")
        .withColumn(out, F.coalesce("_local", "_carry"))
        .drop("_pid", "_local", "_carry")
    )


def nearest_present(
    df: DataFrame,
    ts_col: str,
    anchors: Mapping[str, Column],
    sides: Sequence[str],
    run_side: Optional[str] = None,
    tiebreak: Sequence[str] = (),
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    """Adds, for each anchor ``k`` (a column that is null where the row
    holds no value), the nearest non-null anchor at or before the row in
    ``(ts_col, *tiebreak)`` order as ``_prev_<k>`` and/or at or after it
    as ``_next_<k>``, per ``sides``. With ``run_side`` (one of ``sides``)
    it also adds ``_run_<k>``: rows from that side's anchor to this row, 0
    on the anchor itself and null with no anchor — what pandas' fill
    ``limit`` counts.

    Every anchor is a ``last(ignorenulls)`` over a growing
    ``(unboundedPreceding, 0)`` frame, ascending for ``prev`` and in the
    exactly reversed order for ``next`` (asc defaults NULLS FIRST, desc
    NULLS LAST). The following frame ``(0, unboundedFollowing)`` would
    give the same row, but Spark executes it by re-scanning to the
    partition end for EVERY row (UnboundedFollowingWindowFunctionFrame) —
    O(rows²) per partition, measured 8.3 s vs 0.5 s on the sf0.1 as-of
    slot alone — while the growing frame is maintained incrementally at
    the cost of one extra local sort in the same exchange.

    The window partition is ``group_cols``, else the time bucket ``_pid``
    (degenerate input: the whole frame). Bucketed, each bucket's edges
    take the neighbouring buckets' anchors and runs from one broadcast
    carry table, see :func:`_carry_table`.
    """
    bucketed = None if group_cols else time_buckets(df, ts_col, num_buckets)
    keys = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    part = group_cols if bucketed is None else ["_pid"]
    order = {
        "prev": Window.partitionBy(*part).orderBy(*[k.asc() for k in keys]),
        "next": Window.partitionBy(*part).orderBy(*[k.desc() for k in keys]),
    }
    grow = {s: w.rowsBetween(Window.unboundedPreceding, 0) for s, w in order.items()}

    out, carried = df, []
    if bucketed is not None:
        carry = _carry_table(bucketed, ts_col, anchors, sides, run_side)
        out, carried = bucketed.join(F.broadcast(carry), "_pid", "left"), carry.columns

    def stitched(local: Column, carry: Column) -> Column:
        return F.coalesce(local, carry) if carried else local

    if run_side:
        out = out.withColumn("_rn", F.row_number().over(order[run_side]))
    added = []
    for k, a in anchors.items():
        for s in sides:
            near = F.last(a, ignorenulls=True).over(grow[s])
            added.append(stitched(near, F.col(f"_c{s}_{k}")).alias(f"_{s}_{k}"))
        if run_side:
            rn = F.col("_rn")
            since = rn - F.last(F.when(a.isNotNull(), rn), ignorenulls=True).over(grow[run_side])
            added.append(stitched(since, F.col(f"_crun_{k}") + rn).alias(f"_run_{k}"))
    return out.select("*", *added).drop(*carried, "_rn")


def _carry_table(
    bucketed: DataFrame,
    ts_col: str,
    anchors: Mapping[str, Column],
    sides: Sequence[str],
    run_side: Optional[str],
) -> DataFrame:
    """One row per bucket ``_pid``: ``_c<side>_<k>``, the nearest anchor in
    the buckets before it (``prev``) or after it (``next``), and with
    ``run_side`` ``_crun_<k>``, the rows from that anchor to the bucket's
    edge.

    One map-side-combined aggregate over the PRE-window frame (computing
    it from the windowed frame would sort twice) gives each bucket's row
    count and edge anchors; with ``run_side`` the rows beyond the edge
    anchor join it in the same collect. The driver then scans the buckets
    once per side.
    """
    ts = F.col(ts_col)
    at = {k: F.when(a.isNotNull(), ts) for k, a in anchors.items()}
    edge = {"prev": (F.max_by, F.max), "next": (F.min_by, F.min)}
    stats = bucketed.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[edge[s][0](a, at[k]).alias(f"_c{s}_{k}") for k, a in anchors.items() for s in sides],
        *[edge[run_side][1](at[k]).alias(f"_edge_{k}") for k in anchors if run_side],
    )
    if run_side:
        beyond = {
            k: (ts > F.col(f"_edge_{k}")) if run_side == "prev" else (ts < F.col(f"_edge_{k}"))
            for k in anchors
        }
        edges = stats.select("_pid", *[f"_edge_{k}" for k in anchors])
        tails = (
            bucketed.join(F.broadcast(edges), "_pid")
            .groupBy("_pid")
            .agg(*[F.count(F.when(beyond[k], 1)).alias(f"_tail_{k}") for k in anchors])
        )
        # inner join: both sides hold exactly the non-empty bucket ids.
        # Both are already hash-partitioned on _pid, so the join adds no
        # exchange; a broadcast hint would add a job of its own.
        stats = stats.join(tails, "_pid")
    rows = sorted(stats.collect(), key=lambda r: r["_pid"])

    table: dict[int, dict] = {r["_pid"]: {"_pid": r["_pid"]} for r in rows}
    for s in sides:
        near: dict[str, object] = {}
        run: dict[str, Optional[int]] = {}
        for r in rows if s == "prev" else reversed(rows):
            for k in anchors:
                table[r["_pid"]][f"_c{s}_{k}"] = near.get(k)
                if s == run_side:
                    table[r["_pid"]][f"_crun_{k}"] = run.get(k)
                if r[f"_c{s}_{k}"] is not None:
                    near[k] = r[f"_c{s}_{k}"]
                    run[k] = r[f"_tail_{k}"] if s == run_side else None
                elif run.get(k) is not None:
                    run[k] += r["_cnt"]

    schema = StructType(
        [stats.schema["_pid"]]
        + [stats.schema[f"_c{s}_{k}"] for k in anchors for s in sides]
        + [StructField(f"_crun_{k}", LongType()) for k in anchors if run_side]
    )
    return bucketed.sparkSession.createDataFrame(
        [tuple(t[f.name] for f in schema.fields) for t in table.values()], schema
    )
