"""Resampling: frequency buckets and custom breakpoints.

Parity targets:
- A1 frequency-bucket resample — reference ``load_file.py:2127-2149``
  (``df.resample(freq).{mean,sum,last,first}``).
- A2 custom-breakpoint resample with ``skipna`` — reference
  ``load_file.py:2151-2239`` (``pd.cut(include_lowest=True)`` + agg).

Spark-first design notes:
- Buckets are epoch-second arithmetic (``floor(epoch/step)*step``), not
  ``F.window``: same semantics for second-multiple frequencies, scalar
  column instead of a struct, identical expression available to the SQL
  oracle, and fully inside whole-stage codegen.
- The aggregation is a plain ``groupBy`` → map-side partial aggregation,
  shuffles only the (tiny) per-bucket partials. Scales linearly; skew on a
  bucket key means a hot time range — AQE skew handling applies.
- ``skipna=False`` (pandas semantics: any null in group → null result) has
  no Spark-native aggregate; wrapped as
  ``when(count(col) == count(*), agg(col))`` per SURVEY.md §4.
- Breakpoint binning is a broadcast range join against the (small) bin
  table — no shuffle of the fact side beyond the final groupBy.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.exact import exact_mean, exact_sum, present_typed
from time_series_loader_spark.functions.frequency import freq_to_seconds

_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}

RESAMPLE_METHODS = ("mean", "sum", "first", "last", "min", "max", "count")


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC_TYPES


def bucket_start(ts: Column | str, step_seconds: int, origin_epoch: int = 0) -> Column:
    """Tumbling-bucket left edge: floor((epoch-origin)/step)*step + origin."""
    c = F.col(ts) if isinstance(ts, str) else ts
    e = F.unix_timestamp(c)
    return F.timestamp_seconds(
        F.floor((e - F.lit(origin_epoch)) / step_seconds) * step_seconds + F.lit(origin_epoch)
    )


def _agg_expr(col: str, method: str, ts_col: str, skipna: bool, dtype: str = "double") -> Column:
    """One aggregate expression with pandas-compatible semantics."""
    raw = F.col(col)
    integral = dtype in ("int", "bigint", "smallint", "tinyint")
    # pandas groupby rules (functions/exact.py): NaN is missing everywhere
    c = present_typed(raw, dtype)
    if method == "mean":
        base = F.sum(c).cast("double") / F.count(c) if integral else exact_mean(raw)
    elif method == "sum":
        base = F.sum(c) if integral else exact_sum(raw)
    elif method == "first":
        # pandas .resample().first() = first NON-NULL by time order; rows
        # with null value get a null struct, which min skips. Lexicographic
        # (ts, value) struct order — not min_by, whose pick is unspecified
        # when several non-null rows share the earliest timestamp — makes
        # duplicate-ts ties deterministic (first→smaller value) and
        # identical to the SQL oracle's struct min.
        base = F.min(
            F.when(c.isNotNull(), F.struct(F.col(ts_col).alias("t"), c.alias("v")))
        ).getField("v")
    elif method == "last":
        base = F.max(
            F.when(c.isNotNull(), F.struct(F.col(ts_col).alias("t"), c.alias("v")))
        ).getField("v")
    elif method == "min":
        base = F.min(c)
    elif method == "max":
        base = F.max(c)
    elif method == "count":
        base = F.count(c)
    else:
        raise ValueError(
            f"invalid resample method {method!r}; expected one of {RESAMPLE_METHODS}"
        )
    if not skipna and method in ("mean", "sum"):
        # pandas skipna=False: null result if ANY value in the group is null
        base = F.when(F.count(c) == F.count(F.lit(1)), base)
    return base.alias(col)


def resample(
    df: DataFrame,
    ts_col: str,
    freq: str | int,
    method: str = "mean",
    value_cols: Sequence[str] | None = None,
    group_cols: Sequence[str] = (),
    skipna: bool = True,
    extra_aggs: dict[str, tuple[str, str] | Column] | None = None,
) -> DataFrame:
    """A1: tumbling-window resample; returns bucket left edge as ``ts_col``.

    ``group_cols`` extends the reference's single-series model with a series
    key so the shuffle distributes at 100 TB (SURVEY.md §7 hard-part (d)).

    ``extra_aggs``: {out_col: (src_col, method)} — additional aggregates
    computed in the SAME groupBy pass (one scan, one shuffle) instead of a
    second aggregation joined back. A value may also be a raw aggregate
    ``Column`` for shapes the (src, method) form can't express (e.g.
    arg-min struct aggregates).
    """
    step = freq_to_seconds(freq)
    dtypes = dict(df.dtypes)
    if value_cols is None:
        value_cols = [
            c for c, t in df.dtypes if c != ts_col and c not in group_cols and _is_numeric(t)
        ]
    bucket = bucket_start(ts_col, step).alias(ts_col)
    aggs = [_agg_expr(c, method, ts_col, skipna, dtypes.get(c, "double")) for c in value_cols]
    for out, spec in (extra_aggs or {}).items():
        if isinstance(spec, Column):
            aggs.append(spec.alias(out))
        else:
            src, m = spec
            aggs.append(
                _agg_expr(src, m, ts_col, skipna, dtypes.get(src, "double")).alias(out)
            )
    # NOTE: no trailing orderBy — a total sort is a range exchange that any
    # downstream join/window/agg immediately destroys. Callers that need
    # sorted output (display, file write) order explicitly.
    return df.groupBy(*group_cols, bucket).agg(*aggs)


def resample_with_dates(
    df: DataFrame,
    ts_col: str,
    date_points: Iterable[datetime],
    method: str = "mean",
    skipna: bool = True,
    numeric_cols: Sequence[str] | None = None,
    nearest_cols: Sequence[str] = (),
) -> DataFrame:
    """A2: bin rows into user breakpoints; aggregate numerics, nearest for
    non-numerics (J1), labels = left bin edges.

    pandas-``cut`` semantics (reference ``load_file.py:2177-2183``): bins are
    right-closed ``(lo, hi]`` with ``include_lowest=True`` making the first
    bin ``[lo0, hi0]``. Rows outside all bins are dropped (pd.cut → NaN bin →
    groupby drops). A bin with NO rows still emits a row (pandas groupby over
    cut categoricals defaults to ``observed=False``): null aggregates, and
    nearest-value non-numerics are still filled — we left-join the aggregates
    back onto the full bin-label table to match.

    Scale: the bin table is broadcast; the range-join predicate is evaluated
    map-side, then one groupBy shuffle on the bin label.
    """
    points = sorted(date_points)
    if len(points) < 2:
        raise ValueError("need at least 2 date points to form bins")
    spark = df.sparkSession
    bins = spark.createDataFrame(
        [(i, points[i], points[i + 1]) for i in range(len(points) - 1)],
        "bin_id INT, bin_lo TIMESTAMP, bin_hi TIMESTAMP",
    )
    ts = F.col(ts_col)
    in_bin = (ts > F.col("bin_lo")) & (ts <= F.col("bin_hi"))
    first_bin = (F.col("bin_id") == 0) & (ts == F.col("bin_lo"))
    binned = df.join(F.broadcast(bins), in_bin | first_bin, "inner")

    dtypes = dict(df.dtypes)
    if numeric_cols is None:
        numeric_cols = [
            c
            for c, t in df.dtypes
            if c != ts_col and c not in nearest_cols and _is_numeric(t)
        ]
    aggs = [_agg_expr(c, method, ts_col, skipna, dtypes.get(c, "double")) for c in numeric_cols]
    # Left-join onto the full label table so empty bins survive with null
    # aggregates (pandas observed=False). The label table is driver-sized
    # (len(points)-1 rows) — broadcast, no extra shuffle of the fact side.
    labels_df = bins.select(F.col("bin_lo").alias(ts_col))
    out = labels_df.join(
        binned.groupBy(F.col("bin_lo").alias(ts_col)).agg(*aggs),
        on=ts_col,
        how="left",
    )

    if nearest_cols:
        # J1: non-numeric columns take the value at the globally nearest
        # timestamp to the bin label (reference load_file.py:2207-2230 —
        # nearest over the WHOLE frame, not within the bin). Labels are a
        # driver-side list, so for sane bin counts this is ONE map-side
        # min_by aggregate over the data; the general distributed as-of
        # only pays off past a few hundred labels.
        from time_series_loader_spark.operators.asof import asof_nearest, nearest_at_points

        label_points = points[:-1]
        if len(label_points) <= 128:
            nearest = nearest_at_points(
                df.select(ts_col, *nearest_cols), ts_col, label_points, list(nearest_cols)
            )
        else:
            labels = bins.select(F.col("bin_lo").alias(ts_col))
            nearest = asof_nearest(
                labels, df.select(ts_col, *nearest_cols), ts_col=ts_col, value_cols=list(nearest_cols)
            )
        out = out.join(nearest, on=ts_col, how="left")
    return out


def m4_downsample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    freq: str | int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014 — public):
    per tumbling time bucket keep the 4 error-free extrema points —
    first, min, max, last, each with its REAL timestamp — the minimal
    point set that renders a pixel-exact line chart at the bucket width.

    Output: (group_cols…, bucket_ts, role, ``ts_col``, ``value_col``)
    with role ∈ {first, min, max, last}; a point serving several roles
    appears once per role (callers wanting unique points can
    ``dropDuplicates([ts_col])``). Null values never become points;
    all-null buckets emit nothing.

    Determinism under ties: equal minima → the EARLIEST timestamp wins;
    equal maxima → the LATEST (lexicographic (value, ts) struct order on
    both engines), so reruns and the SQL oracle agree bit-for-bit.

    Scale shape: ONE groupBy — map-side partial aggregation shrinks each
    partition to ≤4 struct partials per bucket before the (tiny)
    exchange; the explode multiplies only the aggregated frame. 100 TB
    in, (4 × n_buckets) rows out, one shuffle of bucket partials.
    """
    step = freq_to_seconds(freq)
    v, t = F.col(value_col), F.col(ts_col)
    vt = F.when(v.isNotNull(), F.struct(v.alias("v"), t.alias("t")))
    # first/last via lexicographic (t, v) struct min/max — NOT min_by/
    # max_by, whose choice is unspecified when several non-null rows
    # share the extreme timestamp. Struct order breaks the duplicate-ts
    # tie by value (first→smaller v, last→larger v) identically in
    # batch, streaming/ingest.py::windowed_m4_stream, and the SQL oracle.
    tv = F.when(v.isNotNull(), F.struct(t.alias("t"), v.alias("v")))
    agg = df.groupBy(
        *group_cols, bucket_start(ts_col, step).alias("bucket_ts")
    ).agg(
        F.min(tv).alias("_f"),
        F.min(vt).alias("_mn"),
        F.max(vt).alias("_mx"),
        F.max(tv).alias("_l"),
    )

    def _pt(role: str, src: str) -> Column:
        return F.struct(
            F.lit(role).alias("role"),
            F.col(f"{src}.t").alias(ts_col),
            F.col(f"{src}.v").alias(value_col),
        )

    pts = F.array(_pt("first", "_f"), _pt("min", "_mn"), _pt("max", "_mx"), _pt("last", "_l"))
    return (
        agg.select(*group_cols, "bucket_ts", F.explode(pts).alias("_p"))
        .select(*group_cols, "bucket_ts", "_p.*")
        .where(F.col(value_col).isNotNull())
    )
