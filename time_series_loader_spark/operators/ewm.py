"""Exponentially weighted moving average (EWMA) — beyond-reference
time-series surface (pandas ``Series.ewm(alpha).mean()`` semantics).

The recursion y_i = (1-α)·y_{i-1} + α·x_i looks inherently sequential,
which is why naive ports run it per key in Python. This implementation
is closed-form and fully distributed:

    y_i (adjust=True)  = Σ_j (1-α)^{i-j} x_j / Σ_j (1-α)^{i-j}
    y_i (adjust=False) = α·Σ_{j≤i} (1-α)^{i-j} x_j + (1-α)^{i+1}·x_0

Both numerator and denominator are SCALED PREFIX SUMS: within a block
of rows, Σ_{j≤i} (1-α)^{i-j} x_j = (1-α)^{r_i} · Σ_{j≤i} x_j (1-α)^{-r_j}
(r = row position in block), i.e. one ``sum().over(window)`` per block —
whole-stage-codegen JVM arithmetic, no UDF, no per-row recursion.

The block length L is chosen so (1-α)^L ≤ 1e-30 (``_block_len``). That
single invariant does two jobs:

- **no overflow**: the scaling factor (1-α)^{-r} is bounded by 1e30,
  far under double's ~1e308 ceiling;
- **exact-in-double truncation**: a block's carry INTO the next block
  decays by (1-α)^L ≤ 1e-30 per block hop, i.e. anything older than the
  previous block contributes below one ulp of any same-magnitude
  result. So the cross-block stitch is just ``lag(block_end)`` over the
  per-block summary table — no recursion chain — and the result still
  matches pandas' sequential evaluation to ~1e-12 relative
  (differential-tested in tests/test_ewm.py).

Scale shape: with ``group_cols`` everything hash-partitions by the
series key (two window exchanges: (key) for row positions, (key, block)
for the scaled prefix; the block-summary join reuses the second).
WITHOUT a key, the rows are spread over deterministic time buckets
(``functions/bucketing.py``), computed per bucket, and a driver-scanned
carry table (one row per bucket) stitches bucket boundaries with the
EXACT recursion carry_b = end_{b-1} + (1-α)^{cnt_{b-1}}·carry_{b-1}
(buckets can be shorter than L, so their carry is NOT negligible —
unlike intra-bucket blocks, which are full-length by construction).

Null handling: ``adjust=True`` skips nulls with decay still advancing
per row (pandas ``ignore_na=False``) — the denominator is the same
scaled prefix over the validity indicator. ``adjust=False`` expects
non-null values (pre-fill with ``operators.fill.ffill``); pandas'
NaN-under-recursion semantics are a different weighting scheme, and
silently approximating it would be wrong — so every row from the first
null onward yields NULL (null poisoning), making the violated
precondition visible instead of producing plausible wrong numbers.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import time_buckets


def _block_len(alpha: float) -> int:
    """Smallest L with (1-α)^L ≤ 1e-30 (see module docstring)."""
    return max(8, math.ceil(-30 * math.log(10) / math.log1p(-alpha)))


def _with_local_ewm(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float,
    part_cols: Sequence[str],
) -> DataFrame:
    """Adds ``_rel`` (row position within partition), ``_num`` and
    ``_den`` — the EWM numerator Σ (1-α)^{i-j}·x_j and validity-weight
    denominator Σ (1-α)^{i-j}·[x_j valid], both LOCAL to the partition
    defined by ``part_cols`` (cross-block stitch included)."""
    q = 1.0 - alpha
    L = _block_len(alpha)
    w = Window.partitionBy(*part_cols).orderBy(ts_col)
    out = df.withColumn("_rel", F.row_number().over(w) - F.lit(1))
    out = out.withColumn("_blk", F.floor(F.col("_rel") / L))
    r = (F.col("_rel") % L).cast("double")
    xv = F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
    ind = F.when(F.col(value_col).isNotNull(), 1.0).otherwise(0.0)
    wb = (
        Window.partitionBy(*part_cols, "_blk")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = out.withColumn(
        "_pn", F.sum(xv * F.pow(F.lit(q), -r)).over(wb) * F.pow(F.lit(q), r)
    ).withColumn(
        "_pd", F.sum(ind * F.pow(F.lit(q), -r)).over(wb) * F.pow(F.lit(q), r)
    )
    # block-end summaries → previous block's end rides in as the carry
    # (carry from ≥2 blocks back is < (1-α)^L ≤ 1e-30 relative: dropped)
    summ = out.groupBy(*part_cols, "_blk").agg(
        F.max_by("_pn", "_rel").alias("_en"),
        F.max_by("_pd", "_rel").alias("_ed"),
    )
    wl = Window.partitionBy(*part_cols).orderBy("_blk")
    summ = summ.select(
        *part_cols,
        "_blk",
        F.lag("_en").over(wl).alias("_cn"),
        F.lag("_ed").over(wl).alias("_cd"),
    )
    out = out.join(summ, [*part_cols, "_blk"], "left")
    qr1 = F.pow(F.lit(q), r + 1)
    return (
        out.withColumn("_num", F.col("_pn") + qr1 * F.coalesce("_cn", F.lit(0.0)))
        .withColumn("_den", F.col("_pd") + qr1 * F.coalesce("_cd", F.lit(0.0)))
        .drop("_blk", "_pn", "_pd", "_cn", "_cd")
    )


def ewm_mean(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float,
    group_cols: Sequence[str] = (),
    adjust: bool = True,
    out_col: str | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """pandas-semantics EWMA over each (keyed) time-ordered series.

    ``adjust=True`` (pandas default): weighted mean with weights
    (1-α)^{i-j}; rows before the first valid value get null.
    ``adjust=False``: the y = (1-α)y + αx recursion (non-null inputs —
    see module docstring). Ordering ties on ``ts_col`` make the result
    order-dependent; series keys are expected to have unique timestamps
    (same contract as the fill/interpolate operators).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    name = out_col or f"{value_col}_ewm"
    q = 1.0 - alpha

    if group_cols:
        out = _with_local_ewm(df, ts_col, value_col, alpha, group_cols)
        if adjust:
            ewm = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
        else:
            w0 = (
                Window.partitionBy(*group_cols)
                .orderBy(ts_col)
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            x0 = F.first(value_col).over(w0)
            # null poisoning, not silent approximation (docstring
            # contract): the recursion is undefined past a null input, so
            # every row from the first null onward emits null — the
            # prefix non-null count lagging rel+1 is the detector
            clean = F.count(value_col).over(w0) == F.col("_rel") + 1
            ewm = F.when(
                clean,
                alpha * F.col("_num") + F.pow(F.lit(q), F.col("_rel") + 1) * x0,
            )
        return out.withColumn(name, ewm).drop("_rel", "_num", "_den")

    return _ewm_unkeyed(df, ts_col, value_col, alpha, adjust, name, num_buckets)


def _ewm_unkeyed(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float,
    adjust: bool,
    name: str,
    num_buckets: int | None,
) -> DataFrame:
    """Unkeyed global-timeline EWMA: time buckets + driver-scanned carry
    table (one row per bucket) — see functions/bucketing.py."""
    q = 1.0 - alpha
    bucketed = time_buckets(df, ts_col, num_buckets)
    if bucketed is None:
        # degenerate input: single-partition fallback (tiny by definition)
        out = _with_local_ewm(
            df.withColumn("_pid", F.lit(0)), ts_col, value_col, alpha, ["_pid"]
        )
        return _finish_unkeyed_degenerate(out, value_col, alpha, adjust, name)

    local = _with_local_ewm(bucketed, ts_col, value_col, alpha, ["_pid"])

    # per-bucket stats: row count, bucket-end num/den (intra-bucket carry
    # already included), first value (for the adjust=False x0 term)
    stats = local.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.count(value_col).alias("_nnb"),
        F.max_by("_num", "_rel").alias("_en"),
        F.max_by("_den", "_rel").alias("_ed"),
        F.min_by(F.col(value_col).cast("double"), "_rel").alias("_x0"),
    )
    rows = sorted(stats.collect(), key=lambda rr: rr["_pid"])
    # driver prefix scan — EXACT recursion (buckets may be short, so
    # cross-bucket decay (1-α)^{cnt} is not negligible): one row per bucket
    carry_rows, cn, cd, cum, cumnn = [], 0.0, 0.0, 0, 0
    x0g = rows[0]["_x0"] if rows else None
    for rr in rows:
        carry_rows.append((rr["_pid"], cn, cd, float(q**cum), cum, cumnn))
        dec = q ** rr["_cnt"]  # underflows to exactly 0.0 for long buckets
        cn = (rr["_en"] or 0.0) + dec * cn
        cd = (rr["_ed"] or 0.0) + dec * cd
        cum += rr["_cnt"]
        cumnn += rr["_nnb"]
    carry = df.sparkSession.createDataFrame(
        carry_rows,
        "_pid INT, _cn DOUBLE, _cd DOUBLE, _qcum DOUBLE, _cumprev BIGINT, _cumnn BIGINT",
    )
    out = local.join(F.broadcast(carry), "_pid")
    qr1 = F.pow(F.lit(q), F.col("_rel") + 1)
    num_g = F.col("_num") + qr1 * F.col("_cn")
    den_g = F.col("_den") + qr1 * F.col("_cd")
    if adjust:
        ewm = F.when(den_g > 0, num_g / den_g)
    else:
        # null poisoning past the first null input (see keyed path): the
        # global prefix non-null count must equal the global row index + 1
        w0b = (
            Window.partitionBy("_pid")
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        clean = (F.col("_cumnn") + F.count(value_col).over(w0b)) == (
            F.col("_cumprev") + F.col("_rel") + 1
        )
        # (1-α)^{gidx+1} = (1-α)^{cumprev} · (1-α)^{rel+1}
        ewm = F.when(clean, alpha * num_g + F.col("_qcum") * qr1 * F.lit(x0g))
    return out.withColumn(name, ewm).drop(
        "_pid", "_rel", "_num", "_den", "_cn", "_cd", "_qcum", "_cumprev", "_cumnn"
    )


def _finish_unkeyed_degenerate(
    out: DataFrame, value_col: str, alpha: float, adjust: bool, name: str
) -> DataFrame:
    q = 1.0 - alpha
    if adjust:
        ewm = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
    else:
        w0 = (
            Window.partitionBy("_pid")
            .orderBy("_rel")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        x0 = F.first(value_col).over(w0)
        clean = F.count(value_col).over(w0) == F.col("_rel") + 1
        ewm = F.when(
            clean, alpha * F.col("_num") + F.pow(F.lit(q), F.col("_rel") + 1) * x0
        )
    return out.withColumn(name, ewm).drop("_pid", "_rel", "_num", "_den")
