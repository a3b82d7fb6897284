"""Linear time interpolation (W5).

Parity target: reference ``load_file.py:2346-2347``
(``df.interpolate(method='time', limit=n)``) — fill each null with the
linear-in-time value between its previous and next non-null neighbors.

Composition (SURVEY.md §4): per column, previous non-null value+ts
(unbounded-preceding frame) and next non-null value+ts (following frame
over the SAME ascending sort — one sort, one window operator), then
``prev + (next-prev) * (ts-prev_ts)/(next_ts-prev_ts)``.

pandas `interpolate` edge semantics matched:
- leading nulls (no previous neighbor) stay null;
- trailing nulls (no next neighbor) carry the last value forward (pandas
  forward-fills the tail under the default ``limit_direction='forward'``);
- ``limit=n`` fills only the first n nulls of each run.

Scale: keyed input partitions by the series key. Unkeyed input uses the
deterministic time buckets of ``functions/bucketing.py``: per-bucket
windows plus TWO tiny carry tables — previous neighbor scanned low→high
buckets, next neighbor scanned high→low — so no single-partition funnel.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import time_buckets


def _interp_expr(c, ts_col, pv, pt, nv, nt, limit, dist):
    t = F.col(ts_col).cast("double")
    ptd = pt.cast("double")
    ntd = nt.cast("double")
    interp = F.when(
        nt.isNotNull() & pt.isNotNull() & (ntd != ptd),
        pv + (nv - pv) * (t - ptd) / (ntd - ptd),
    ).otherwise(pv)  # tail: carry forward; head: pv null → null
    if limit is not None:
        interp = F.when(dist <= limit, interp)
    return F.when(F.col(c).isNotNull(), F.col(c)).otherwise(interp)


def _single_partition_interpolate(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None,
    group_cols: Sequence[str],
) -> DataFrame:
    w = (
        Window.partitionBy(*group_cols).orderBy(ts_col)
        if group_cols
        else Window.orderBy(ts_col)
    )
    # next-anchor values come from the REVERSED-order running frame, not
    # (1, unboundedFollowing): Spark executes an unboundedFollowing frame
    # by re-scanning to the partition end per row — O(rows²) per
    # partition (see asof.py). desc NULLS LAST mirrors asc NULLS FIRST
    # exactly, so last() over the reversed growing frame is the same row.
    w_desc = (
        Window.partitionBy(*group_cols).orderBy(F.col(ts_col).desc())
        if group_cols
        else Window.orderBy(F.col(ts_col).desc())
    )
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w_desc.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)

    out = df
    for c in cols:
        val = F.col(c)
        nn_ts = F.when(val.isNotNull(), F.col(ts_col))
        pv = F.last(c, ignorenulls=True).over(w_prev)
        pt = F.last(nn_ts, ignorenulls=True).over(w_prev)
        nv = F.last(c, ignorenulls=True).over(w_next)
        nt = F.last(nn_ts, ignorenulls=True).over(w_next)
        dist = None
        if limit is not None:
            run_id = F.count(F.when(val.isNotNull(), 1)).over(w_run)
            run_w = (
                Window.partitionBy(*group_cols, run_id)
                if group_cols
                else Window.partitionBy(run_id)
            ).orderBy(ts_col)
            dist = F.row_number().over(run_w) - 1
        out = out.withColumn(c, _interp_expr(c, ts_col, pv, pt, nv, nt, limit, dist))
    return out


def _distributed_interpolate(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None,
    num_buckets: int | None,
) -> Optional[DataFrame]:
    bucketed = time_buckets(df, ts_col, num_buckets)
    if bucketed is None:
        return None
    w = Window.partitionBy("_pid").orderBy(ts_col)
    # reversed-order running frame instead of (1, unboundedFollowing) —
    # same row, O(rows) instead of O(rows²) per bucket (see the
    # single-partition path / asof.py for the execution-frame rationale)
    w_desc = Window.partitionBy("_pid").orderBy(F.col(ts_col).desc())
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w_desc.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)

    # one agg scan: per bucket, the LAST non-null (value, ts) — feeds the
    # forward (prev) carry — and the FIRST non-null — feeds the backward
    # (next) carry; plus counts for `limit` distances.
    nn_ts = {c: F.when(F.col(c).isNotNull(), F.col(ts_col)) for c in cols}
    stats = bucketed.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.max_by(F.col(c), nn_ts[c]).alias(f"_lastv_{c}") for c in cols],
        *[F.max(nn_ts[c]).alias(f"_lastt_{c}") for c in cols],
        *[F.min_by(F.col(c), nn_ts[c]).alias(f"_firstv_{c}") for c in cols],
        *[F.min(nn_ts[c]).alias(f"_firstt_{c}") for c in cols],
    )

    need_dist = limit is not None
    rows_out: dict[int, dict[str, int]] = {}
    if need_dist:
        joined = bucketed.join(
            F.broadcast(stats.select("_pid", *[f"_lastt_{c}" for c in cols])), "_pid"
        )
        # one driver round-trip for carry stats AND null-run tails
        # (r15, VERDICT r14 #5) — see operators/fill.py for the
        # identical fusion and its value-equivalence argument
        tails = joined.groupBy("_pid").agg(
            *[
                F.sum(
                    F.when(F.col(ts_col) > F.col(f"_lastt_{c}"), 1).otherwise(0)
                ).alias(f"_after_{c}")
                for c in cols
            ]
        )
        stats_rows = stats.join(tails, "_pid").collect()
        rows_out = {
            r["_pid"]: {c: r[f"_after_{c}"] for c in cols} for r in stats_rows
        }
    else:
        stats_rows = stats.collect()
    stats_rows = sorted(stats_rows, key=lambda r: r["_pid"])

    # prev carry: scan low→high
    prev_carry: list[tuple] = []
    pc_v = {c: None for c in cols}
    pc_t = {c: None for c in cols}
    pc_d: dict[str, Optional[int]] = {c: None for c in cols}
    for r in stats_rows:
        prev_carry.append(
            (
                r["_pid"],
                *[pc_v[c] for c in cols],
                *[pc_t[c] for c in cols],
                *[pc_d[c] for c in cols],
            )
        )
        for c in cols:
            if r[f"_lastv_{c}"] is not None:
                pc_v[c] = r[f"_lastv_{c}"]
                pc_t[c] = r[f"_lastt_{c}"]
                pc_d[c] = rows_out.get(r["_pid"], {}).get(c, 0) if need_dist else 0
            elif pc_d[c] is not None:
                pc_d[c] += r["_cnt"]

    # next carry: scan high→low (no distances needed — pandas limit counts
    # from the previous-neighbor side only)
    next_carry: list[tuple] = []
    nc_v = {c: None for c in cols}
    nc_t = {c: None for c in cols}
    for r in reversed(stats_rows):
        next_carry.append((r["_pid"], *[nc_v[c] for c in cols], *[nc_t[c] for c in cols]))
        for c in cols:
            if r[f"_firstv_{c}"] is not None:
                nc_v[c] = r[f"_firstv_{c}"]
                nc_t[c] = r[f"_firstt_{c}"]

    dtypes = dict(df.dtypes)
    prev_schema = (
        "_pid INT, "
        + ", ".join(f"_pcv_{c} {dtypes[c]}" for c in cols)
        + ", "
        + ", ".join(f"_pct_{c} TIMESTAMP" for c in cols)
        + ", "
        + ", ".join(f"_pcd_{c} BIGINT" for c in cols)
    )
    next_schema = (
        "_pid INT, "
        + ", ".join(f"_ncv_{c} {dtypes[c]}" for c in cols)
        + ", "
        + ", ".join(f"_nct_{c} TIMESTAMP" for c in cols)
    )
    spark = df.sparkSession
    prev_df = spark.createDataFrame(prev_carry, prev_schema)
    next_df = spark.createDataFrame(next_carry, next_schema)

    out = bucketed.join(F.broadcast(prev_df), "_pid", "left").join(
        F.broadcast(next_df), "_pid", "left"
    )
    rn = F.row_number().over(w)
    for c in cols:
        val = F.col(c)
        nnts = F.when(val.isNotNull(), F.col(ts_col))
        pv = F.coalesce(F.last(c, ignorenulls=True).over(w_prev), F.col(f"_pcv_{c}"))
        pt = F.coalesce(
            F.last(nnts, ignorenulls=True).over(w_prev), F.col(f"_pct_{c}")
        )
        nv = F.coalesce(F.last(c, ignorenulls=True).over(w_next), F.col(f"_ncv_{c}"))
        nt = F.coalesce(
            F.last(nnts, ignorenulls=True).over(w_next), F.col(f"_nct_{c}")
        )
        dist = None
        if limit is not None:
            has_local = F.count(F.when(val.isNotNull(), 1)).over(w_run) > 0
            run_id = F.count(F.when(val.isNotNull(), 1)).over(w_run)
            run_w = Window.partitionBy("_pid", run_id).orderBy(ts_col)
            dist_local = F.row_number().over(run_w) - 1
            dist = F.when(has_local, dist_local).otherwise(F.col(f"_pcd_{c}") + rn)
        out = out.withColumn(c, _interp_expr(c, ts_col, pv, pt, nv, nt, limit, dist))
    drop = (
        ["_pid"]
        + [f"_pcv_{c}" for c in cols]
        + [f"_pct_{c}" for c in cols]
        + [f"_pcd_{c}" for c in cols]
        + [f"_ncv_{c}" for c in cols]
        + [f"_nct_{c}" for c in cols]
    )
    return out.drop(*drop)


def interpolate_time(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None = None,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    if group_cols:
        return _single_partition_interpolate(df, ts_col, cols, limit, group_cols)
    out = _distributed_interpolate(df, ts_col, cols, limit, num_buckets)
    if out is None:
        return _single_partition_interpolate(df, ts_col, cols, limit, ())
    return out
