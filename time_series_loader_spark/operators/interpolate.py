"""Linear time interpolation (W5).

Parity target: reference ``load_file.py:2346-2347``
(``df.interpolate(method='time', limit=n)``) — fill each null with the
linear-in-time value between its previous and next non-null neighbors.

Composition (SURVEY.md §4): per column, the previous and next present
``(ts, value)`` anchors from ``functions/bucketing.py::nearest_present``,
then ``prev + (next-prev) * (ts-prev_ts)/(next_ts-prev_ts)``.

pandas `interpolate` edge semantics matched:
- leading nulls (no previous neighbor) stay null;
- trailing nulls (no next neighbor) carry the last value forward (pandas
  forward-fills the tail under the default ``limit_direction='forward'``);
- ``limit=n`` fills only the first n nulls of each run;
- NaN is missing like null; a row nothing fills keeps its own value.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import nearest_present
from time_series_loader_spark.functions.exact import present_typed


def _interp_expr(c, v, ts_col, prev, nxt, limit, dist):
    pv, pt, nv, nt = prev["v"], prev["t"], nxt["v"], nxt["t"]
    t = F.col(ts_col).cast("double")
    ptd = pt.cast("double")
    ntd = nt.cast("double")
    interp = F.when(
        nt.isNotNull() & pt.isNotNull() & (ntd != ptd),
        pv + (nv - pv) * (t - ptd) / (ntd - ptd),
    ).otherwise(pv)  # tail: carry forward; head: pv null → null
    if limit is not None:
        interp = F.when(dist <= limit, interp)
    return F.coalesce(v, interp, F.col(c))


def interpolate_time(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[str],
    limit: int | None = None,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
) -> DataFrame:
    dtypes = dict(df.dtypes)
    values = {c: present_typed(F.col(c), dtypes[c]) for c in cols}
    anchors = {
        c: F.when(v.isNotNull(), F.struct(F.col(ts_col).alias("t"), v.alias("v")))
        for c, v in values.items()
    }
    near = nearest_present(
        df, ts_col, anchors, sides=("prev", "next"),
        run_side=None if limit is None else "prev",
        group_cols=group_cols, num_buckets=num_buckets,
    )
    interp = {
        c: _interp_expr(
            c, v, ts_col, F.col(f"_prev_{c}"), F.col(f"_next_{c}"), limit, F.col(f"_run_{c}")
        )
        for c, v in values.items()
    }
    return near.withColumns(interp).select(*df.columns)
