"""Exact float accumulation: the one statement of how the engine sums,
averages and counts doubles.

- **Accumulator.** Values are cast to ``ACC`` = DECIMAL(38,6) (HALF_UP,
  6 dp) and summed there: decimal addition is associative, so a sum is
  bit-identical under any partitioning, merge order or state replay and
  equals the SQL oracle's decimal sum. |x| ≥ 1e32 raises Spark's
  NUMERIC_VALUE_OUT_OF_RANGE, never a silent null.
- **NaN is missing**, like null (pandas ``skipna``): the cast nulls it
  (and ±Inf), so sums and means skip it unmasked; counts and callers
  taking min/max/first/last or filling gaps mask it with :func:`present`
  (Spark orders NaN above every double), or :func:`present_typed` for a
  column of any type.
- **±Inf, groupby rule** (pandas groupby/resample; the default): +Inf
  gives inf, −Inf gives −inf, both give NaN, detected by one
  order-irrelevant ``bit_or`` flag per group (a double ``sum`` flag is
  order-dependent and keeps Spark's ``EliminateSorts`` from dropping an
  upstream global sort). ``inf=False`` drops the flag where a slot
  mirrors a SQL decimal sum over finite data; ±Inf then drops out like NaN.
- **±Inf, rolling rule** (pandas ``Rolling``; ``inf_missing=True``):
  pandas turns ±Inf into NaN before its rolling kernels, so Inf is
  missing in the sum, mean, min and max; ``Rolling.count`` still counts it.

Each operator picks the pandas rule it mirrors. Sums and means
aggregate per group under the groupby rule; :func:`exact_mean` given a
window ``over`` takes the rolling rule, and :func:`exact_count` takes
either. :func:`micro_units` is the Python twin of the 6-dp cast for
stateful stream operators.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

ACC = "decimal(38,6)"

_INF = float("inf")


def present(c: Column, inf_missing: bool = False) -> Column:
    """``c`` with its missing values nulled: NaN, plus ±Inf under the
    rolling rule (NaN sorts above +Inf, so (−Inf, +Inf) is the finite
    values)."""
    if inf_missing:
        return F.when((c > -_INF) & (c < _INF), c)
    return F.when(~F.isnan(c), c)


def present_typed(c: Column, dtype: str) -> Column:
    """:func:`present` for a column of Spark type ``dtype``; only float
    and double columns can hold NaN, the rest pass through."""
    return present(c) if dtype in ("float", "double") else c


def _propagate_inf(base: Column, c: Column) -> Column:
    flags = F.bit_or(F.when(c == _INF, 1).when(c == -_INF, 2))
    nan, inf = F.lit(float("nan")), F.lit(_INF)
    return F.when(flags == 3, nan).when(flags == 1, inf).when(flags == 2, -inf).otherwise(base)


def exact_count(c: Column, over: Optional[WindowSpec] = None, inf_missing: bool = False) -> Column:
    n = F.count(present(c, inf_missing))
    return n if over is None else n.over(over)


def exact_sum(c: Column, weight: Optional[Column] = None, inf: bool = True) -> Column:
    """DOUBLE sum of ``c`` per group (groupby rule, ``inf`` as above); with
    ``weight`` (a non-negative integer column) Σ c·weight, multiplied AFTER
    the exact cast so large weights such as µs overlaps keep every digit."""
    term = c.cast(ACC) if weight is None else c.cast(ACC) * weight
    s = F.sum(term).cast("double")
    return _propagate_inf(s, c) if inf else s


def exact_mean(c: Column, over: Optional[WindowSpec] = None, inf: bool = True) -> Column:
    """DOUBLE mean of ``c`` per group under the groupby rule (``inf`` as
    in :func:`exact_sum`), or per ``over`` window under the rolling rule."""
    d = c.cast(ACC)
    if over is not None:
        return F.sum(d).over(over).cast("double") / F.count(d).over(over)
    m = F.sum(d).cast("double") / F.count(d)
    return _propagate_inf(m, c) if inf else m


def micro_units(v: float, envelope: float) -> Optional[int]:
    """``v`` in integer micro-units, rounded half away from zero like the
    HALF_UP cast (−1.0000005 → −1000001); ``None`` where that cast nulls:
    NaN, ±Inf and |v| ≥ ``envelope``."""
    if not math.isfinite(v) or abs(v) >= envelope:
        return None
    u = math.floor(abs(v) * 1e6 + 0.5)
    return -u if v < 0 else u
