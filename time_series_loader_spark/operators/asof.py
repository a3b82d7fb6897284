"""Nearest-timestamp as-of join (J1).

Parity target: reference ``load_file.py:2207-2230`` — for each target grid
timestamp, take the data row whose timestamp minimizes ``abs(ts - target)``
(an O(grid × rows) scan there).

Spark lacks a native as-of join. This is the union-of-timelines composition
(SURVEY.md §2.3 option (a)):

1. union the target timestamps (tagged) with the data timestamps;
2. ONE ascending sort; at every position the previous data ROW comes from
   ``last(ignorenulls)`` over the preceding frame and the next data ROW
   from ``first(ignorenulls)`` over the following frame — both frames share
   the sort, so Spark runs a single Window operator. Rows travel as one
   struct, so the match is ROW-level (pd.merge_asof semantics: the nearest
   row's value is returned even when that value is null);
3. each target picks whichever neighbor is nearer (ties → earlier row).

Cost: one sort over targets+data — O((n+m) log p) distributed vs the
reference's O(n·m) loop. Keyed input partitions by the series key; UNKEYED
input is bucketed by deterministic time ranges (``functions/bucketing.py``)
with tiny prefix-scanned carry tables for the bucket-boundary neighbors —
no single-partition funnel.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import time_buckets


def _pick(
    enriched: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    gcols: Sequence[str],
    direction: str,
    tolerance_seconds: float | None,
) -> DataFrame:
    t = F.col(ts_col).cast("double")
    prev_ts = F.col("_prev").getField("_ts")
    next_ts = F.col("_next").getField("_ts")
    d_prev = t - prev_ts.cast("double")
    d_next = next_ts.cast("double") - t
    exact = prev_ts.isNotNull() & (d_prev == 0)

    if direction == "backward":
        use_prev = prev_ts.isNotNull()
    elif direction == "forward":
        use_prev = exact  # exact-ts match counts as the forward neighbor
    else:
        use_prev = prev_ts.isNotNull() & (next_ts.isNull() | (d_prev <= d_next))

    if tolerance_seconds is not None:
        tol = F.lit(float(tolerance_seconds))
        prev_ok = prev_ts.isNotNull() & (d_prev <= tol)
        next_ok = next_ts.isNotNull() & (d_next <= tol)
    else:
        prev_ok = prev_ts.isNotNull()
        next_ok = next_ts.isNotNull()

    picked = []
    for c in value_cols:
        prev_v = F.when(prev_ok, F.col("_prev").getField(c))
        next_v = F.when(next_ok, F.col("_next").getField(c))
        if direction == "backward":
            expr = prev_v
        else:
            expr = F.when(use_prev & prev_ok, prev_v).otherwise(next_v)
        picked.append(expr.alias(c))
    return enriched.select(*gcols, ts_col, *picked)


def nearest_at_points(
    data: DataFrame,
    ts_col: str,
    points: Sequence,
    value_cols: Sequence[str],
) -> DataFrame:
    """Nearest-row values at a SMALL driver-side list of target timestamps.

    One ``min_by(struct(values), struct(abs_diff, ts))`` aggregate per
    point — a single map-side-partial aggregation pass over the data, NO
    join, no sort, no extra shuffle (vs routing a handful of grid labels
    through the general distributed as-of composition). Tie-break matches
    :func:`asof_nearest`: smaller ``abs(ts - target)`` wins, then earlier
    ``ts``. Intended for ≤ a few hundred points (one aggregate expression
    each); beyond that use :func:`asof_nearest`.
    """
    t = F.col(ts_col).cast("double")
    aggs = []
    for i, p in enumerate(points):
        # epoch via a Spark literal cast so the session timezone applies
        # (python datetime.timestamp() would use the system tz instead)
        d = F.abs(t - F.lit(p).cast("timestamp").cast("double"))
        key = F.struct(d.alias("d"), F.col(ts_col).alias("t"))
        aggs.append(
            F.min_by(F.struct(*[F.col(c) for c in value_cols]), key).alias(f"_n{i}")
        )
    row = data.where(F.col(ts_col).isNotNull()).agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).cast("timestamp").alias(ts_col), F.col(f"_n{i}").alias("_v")
            )
            for i, p in enumerate(points)
        ]
    )
    return row.select(F.inline(pairs)).select(ts_col, "_v.*")


def asof_nearest(
    targets: DataFrame,
    data: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    direction: str = "nearest",
    tolerance_seconds: float | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Join ``value_cols`` from ``data`` onto ``targets`` by nearest ts.

    ``direction``: 'nearest' | 'backward' (last row at/before target) |
    'forward' (first row at/after target) — pd.merge_asof parity.
    """
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(f"direction must be nearest|backward|forward, got {direction!r}")
    gcols = list(group_cols)
    dtypes = dict(data.dtypes)
    tagged_t = targets.select(
        *gcols,
        ts_col,
        F.lit(1).alias("_is_target"),
        *[F.lit(None).cast(dtypes[c]).alias(c) for c in value_cols],
    )
    tagged_d = data.select(*gcols, ts_col, F.lit(0).alias("_is_target"), *value_cols)
    u = tagged_t.unionByName(tagged_d)

    # the data ROW as one struct: non-null exactly for data rows, so
    # last/first(ignorenulls) find the neighboring data row as a whole
    row_struct = F.when(
        F.col("_is_target") == 0,
        F.struct(F.col(ts_col).alias("_ts"), *[F.col(c) for c in value_cols]),
    )
    order = [F.col(ts_col).asc(), F.col("_is_target").asc()]
    # exact mirror of `order` (asc defaults NULLS FIRST, desc NULLS LAST,
    # so reversing the direction reverses the total order exactly): the
    # "next data row" is first(ignorenulls) over (1, unboundedFollowing)
    # in `order`, but Spark executes an unboundedFollowing frame by
    # re-scanning to the partition end for EVERY row (
    # UnboundedFollowingWindowFunctionFrame) — O(rows²) per partition,
    # measured 8.3 s vs 0.5 s on the sf0.1 asof slot alone. The same
    # value is last(ignorenulls) over (unboundedPreceding, -1) in the
    # REVERSED order — a growing frame Spark maintains incrementally
    # (O(rows)). Costs one extra local sort in the same exchange.
    order_rev = [F.col(ts_col).desc(), F.col("_is_target").desc()]

    # unkeyed: deterministic time buckets + boundary carries; keyed (or
    # degenerate unkeyed) input runs the plain window
    bucketed = None if gcols else time_buckets(u, ts_col, num_buckets)
    if bucketed is None:
        w = (
            Window.partitionBy(*gcols).orderBy(*order)
            if gcols
            else Window.orderBy(*order)
        )
        w_rev = (
            Window.partitionBy(*gcols).orderBy(*order_rev)
            if gcols
            else Window.orderBy(*order_rev)
        )
        enriched = u.select(
            *u.columns,
            F.last(row_struct, ignorenulls=True)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_prev"),
            F.last(row_struct, ignorenulls=True)
            .over(w_rev.rowsBetween(Window.unboundedPreceding, -1))
            .alias("_next"),
        ).where(F.col("_is_target") == 1)
        return _pick(enriched, ts_col, value_cols, gcols, direction, tolerance_seconds)

    w = Window.partitionBy("_pid").orderBy(*order)
    w_rev = Window.partitionBy("_pid").orderBy(*order_rev)

    # one agg scan: per bucket, the last and first DATA row (by ts, data
    # rows only) — the cross-bucket neighbor carries
    data_ts = F.when(F.col("_is_target") == 0, F.col(ts_col))
    stats = bucketed.groupBy("_pid").agg(
        F.max_by(row_struct, data_ts).alias("_last_data"),
        F.min_by(row_struct, data_ts).alias("_first_data"),
    )
    stats_rows = sorted(stats.collect(), key=lambda r: r["_pid"])

    prev_carry, nxt_carry = [], []
    cur = None
    for r in stats_rows:
        prev_carry.append((r["_pid"], cur))
        if r["_last_data"] is not None:
            cur = r["_last_data"]
    cur = None
    for r in reversed(stats_rows):
        nxt_carry.append((r["_pid"], cur))
        if r["_first_data"] is not None:
            cur = r["_first_data"]

    struct_ddl = "STRUCT<_ts: TIMESTAMP, " + ", ".join(
        f"{c}: {dict(data.dtypes)[c]}" for c in value_cols
    ) + ">"
    spark = u.sparkSession
    pc = spark.createDataFrame(
        [(pid, tuple(s) if s is not None else None) for pid, s in prev_carry],
        f"_pid INT, _pcarry {struct_ddl}",
    )
    nc = spark.createDataFrame(
        [(pid, tuple(s) if s is not None else None) for pid, s in nxt_carry],
        f"_pid INT, _ncarry {struct_ddl}",
    )

    enriched = (
        bucketed.join(F.broadcast(pc), "_pid", "left")
        .join(F.broadcast(nc), "_pid", "left")
        .select(
            *u.columns,
            F.coalesce(
                F.last(row_struct, ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.col("_pcarry"),
            ).alias("_prev"),
            F.coalesce(
                F.last(row_struct, ignorenulls=True).over(
                    w_rev.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.col("_ncarry"),
            ).alias("_next"),
        )
        .where(F.col("_is_target") == 1)
    )
    return _pick(enriched, ts_col, value_cols, (), direction, tolerance_seconds)
