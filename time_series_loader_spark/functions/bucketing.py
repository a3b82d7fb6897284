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
bucket-edge frame. Operators whose carry is richer (fill run lengths,
interpolation anchors, EWM decay, as-of neighbour rows) call
:func:`time_buckets` and scan their own carry table on the driver.

r7 note: the bucket id is computed in INTEGER microseconds. Results are
provably bucketing-invariant (the boundary-carry stitch; certified by the
perturbed-session gate), so a float here could never flip an output — but
oracle-gated plans carry a "no engine-evaluated floats" audit, and integer
epoch-µs arithmetic costs nothing while making the routing exact too.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
