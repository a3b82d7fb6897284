"""Rolling-window statistics (beyond-reference time-series surface).

Row-count windows (pandas ``rolling(n)``) and time-range windows
(``rolling('1h')``) over a series key. Row windows use
``rowsBetween``; time windows use ``rangeBetween`` on epoch seconds —
both JVM-side, hash-partitioned by the series key (the 100 TB shape; the
unkeyed form inherits the same single-partition caveat as any global
ordering and is intended for composed, already-reduced frames).

Means are exact under pandas' ``Rolling`` value rule (``functions/exact.py``),
so rolling results are reproducible across partitionings.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.exact import exact_count, exact_mean, present
from time_series_loader_spark.functions.frequency import freq_to_seconds


def rolling_stats(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int | str,
    group_cols: Sequence[str] = (),
    min_periods: int = 1,
) -> DataFrame:
    """Add rolling mean/min/max/count of ``value_col``.

    ``window``: int n → last n ROWS (current inclusive, pandas
    ``rolling(n)``); str like "1h" → TIME range (current inclusive,
    pandas ``rolling('1h')`` on a datetime index).
    """
    if isinstance(window, int):
        base = (
            Window.partitionBy(*group_cols).orderBy(ts_col)
            if group_cols
            else Window.orderBy(ts_col)
        ).rowsBetween(-(window - 1), 0)
    else:
        secs = freq_to_seconds(window)
        order = F.col(ts_col).cast("double")
        base = (
            Window.partitionBy(*group_cols).orderBy(order)
            if group_cols
            else Window.orderBy(order)
        ).rangeBetween(-(secs), 0)

    c = F.col(value_col)
    # min_periods gates on the finite values the statistics use; the
    # count column counts ±Inf, as pandas' Rolling.count does
    ok = exact_count(c, base, inf_missing=True) >= min_periods
    finite = present(c, inf_missing=True)
    return df.select(
        "*",
        F.when(ok, exact_mean(c, base)).alias(f"{value_col}_roll_mean"),
        F.when(ok, F.min(finite).over(base)).alias(f"{value_col}_roll_min"),
        F.when(ok, F.max(finite).over(base)).alias(f"{value_col}_roll_max"),
        exact_count(c, base).alias(f"{value_col}_roll_n"),
    )
