"""Forward/backward fill with optional run-length limit (W4).

Parity target: reference ``load_file.py:2341-2345``
(``fillna(method='ffill'/'bfill', limit=n)`` after grid reindex).

Each column takes the nearest present value before (ffill) or after
(bfill) it from ``functions/bucketing.py::nearest_present``; ``limit=n``
fills at most n consecutive missing rows after each source, counted by
the helper's run length. NaN is missing like null (pandas rule): a NaN
row takes the fill value, and a row nothing fills keeps its own value.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import nearest_present
from time_series_loader_spark.functions.exact import present_typed


def _fill(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None,
    group_cols: Sequence[str],
    backward: bool,
    num_buckets: int | None = None,
) -> DataFrame:
    side = "next" if backward else "prev"
    dtypes = dict(df.dtypes)
    anchors = {c: present_typed(F.col(c), dtypes[c]) for c in cols}
    near = nearest_present(
        df, ts_col, anchors, sides=(side,), run_side=None if limit is None else side,
        group_cols=group_cols, num_buckets=num_buckets,
    )
    near_v = {
        c: F.col(f"_{side}_{c}") if limit is None
        else F.when(F.col(f"_run_{c}") <= limit, F.col(f"_{side}_{c}"))
        for c in cols
    }
    filled = {c: F.coalesce(a, near_v[c], F.col(c)) for c, a in anchors.items()}
    return near.withColumns(filled).select(*df.columns)


def ffill(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None = None,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    """Propagate the last non-null value forward (at most ``limit`` rows)."""
    return _fill(df, ts_col, cols, limit, group_cols, backward=False, num_buckets=num_buckets)


def bfill(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None = None,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    """Propagate the next non-null value backward (at most ``limit`` rows)."""
    return _fill(df, ts_col, cols, limit, group_cols, backward=True, num_buckets=num_buckets)
