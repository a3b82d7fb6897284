"""Nearest-timestamp as-of join (J1).

Parity target: reference ``load_file.py:2207-2230`` — for each target grid
timestamp, take the data row whose timestamp minimizes ``abs(ts - target)``
(an O(grid × rows) scan there).

Spark lacks a native as-of join. This is the union-of-timelines composition
(SURVEY.md §2.3 option (a)):

1. union the target timestamps (tagged) with the data timestamps;
2. at every position, the previous and next data ROW from
   ``functions/bucketing.py::nearest_present`` in (ts, data-before-target)
   order. Rows travel as one struct, so the match is ROW-level
   (pd.merge_asof semantics: the nearest row's value is returned even when
   that value is null or NaN);
3. each target picks whichever neighbor is nearer (ties → earlier row).

Cost: one exchange and sort over targets+data — O((n+m) log p)
distributed vs the reference's O(n·m) loop.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import nearest_present


def _pick(
    enriched: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    gcols: Sequence[str],
    direction: str,
    tolerance_seconds: float | None,
) -> DataFrame:
    # distances in integer epoch µs: a double epoch (ulp ~2.4e-7 s at 2023
    # dates) makes equidistant µs neighbours compare unequal
    t = F.unix_micros(F.col(ts_col))
    prev_ts = F.col("_prev_row").getField("_ts")
    next_ts = F.col("_next_row").getField("_ts")
    d_prev = t - F.unix_micros(prev_ts)
    d_next = F.unix_micros(next_ts) - t
    exact = prev_ts.isNotNull() & (d_prev == 0)

    if direction == "backward":
        use_prev = prev_ts.isNotNull()
    elif direction == "forward":
        use_prev = exact  # exact-ts match counts as the forward neighbor
    else:
        use_prev = prev_ts.isNotNull() & (next_ts.isNull() | (d_prev <= d_next))

    if tolerance_seconds is not None:
        tol = F.lit(round(tolerance_seconds * 1e6))
        prev_ok = prev_ts.isNotNull() & (d_prev <= tol)
        next_ok = next_ts.isNotNull() & (d_next <= tol)
    else:
        prev_ok = prev_ts.isNotNull()
        next_ok = next_ts.isNotNull()

    picked = []
    for c in value_cols:
        prev_v = F.when(prev_ok, F.col("_prev_row").getField(c))
        next_v = F.when(next_ok, F.col("_next_row").getField(c))
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
    t = F.unix_micros(F.col(ts_col))
    aggs = []
    for i, p in enumerate(points):
        # epoch µs via a Spark literal cast so the session timezone applies
        # (python datetime.timestamp() would use the system tz instead)
        d = F.abs(t - F.unix_micros(F.lit(p).cast("timestamp")))
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

    # the data ROW as one struct: non-null exactly for data rows, so the
    # nearest present anchor is the neighboring data row as a whole
    row_struct = F.when(
        F.col("_is_target") == 0,
        F.struct(F.col(ts_col).alias("_ts"), *[F.col(c) for c in value_cols]),
    )
    near = nearest_present(
        u, ts_col, {"row": row_struct}, sides=("prev", "next"), tiebreak=["_is_target"],
        group_cols=gcols, num_buckets=num_buckets,
    )
    enriched = near.where(F.col("_is_target") == 1)
    return _pick(enriched, ts_col, value_cols, gcols, direction, tolerance_seconds)
