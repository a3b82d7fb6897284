"""Time-weighted average resample — integral aggregation over IRREGULAR
samples (beyond-reference TS surface; the TimescaleDB ``time_weight
('LOCF')`` / InfluxDB ``integral()`` family).

A plain per-bucket ``avg`` over-weights densely sampled stretches: a
sensor reporting every second for one minute and then once an hour
dominates the hourly mean with its burst. The time-weighted mean
integrates the last-observation-carried-forward step function instead:
each sample ``(t_i, v_i)`` holds ``v_i`` over ``[t_i, t_{i+1})``, and a
bucket's value is ∫ step / covered-duration over bucket ∩ [t_first,
t_last]. The final sample has a zero-width interval (nothing is known
past it), so trailing buckets may be null.

Spark-first shape, exact and engine-reproducible:

- Timestamps become MICROSECOND INTEGERS (``unix_micros``) and every
  overlap is integer arithmetic — no float epsilon at bucket edges, so
  the DuckDB oracle lands on bit-identical weights.
- An interval spanning k buckets is split with ``explode(sequence(...))``
  over bucket INDICES (k rows; a gap of length G produces G/step rows —
  the same expansion grid reindex pays, and the honest cost of asking
  for per-bucket values across a gap).
- One groupBy (bucket, keys): Σ v·overlap_us is an exact weighted sum
  (``functions/exact.py``) over the exact integer weights; the single
  final division is double.
- Keyed series hash-partition by key. Unkeyed input takes the next
  sample from ``functions/bucketing.py::shift_in_time`` (time buckets +
  boundary carry) — never a single-partition window.

Null and NaN samples are dropped before interval construction, which IS
LOCF-with-null-skip: the previous present value carries across them. A
±Inf sample propagates to every bucket its interval overlaps.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import shift_in_time
from time_series_loader_spark.functions.exact import exact_sum, present
from time_series_loader_spark.functions.frequency import freq_to_seconds


def time_weighted_mean(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    freq: str | int,
    group_cols: Sequence[str] = (),
    out_col: str = "twa",
    num_buckets: int | None = None,
) -> DataFrame:
    """Per-bucket time-weighted mean of the LOCF step function.

    Returns (group_cols..., ``ts_col`` = bucket left edge as timestamp,
    ``out_col`` DOUBLE) for every bucket with nonzero covered duration.
    """
    step_us = int(round(freq_to_seconds(freq) * 1_000_000))
    if step_us <= 0:
        raise ValueError("freq must be a positive duration")

    base = df.select(
        *group_cols,
        ts_col,
        present(F.col(value_col).cast("double")).alias("_v"),
        F.unix_micros(F.col(ts_col)).alias("_s"),
    ).where(F.col("_v").isNotNull())
    # interval end = next sample's start
    iv = shift_in_time(
        base, ts_col, "_s", "_e", lead=True, group_cols=group_cols, num_buckets=num_buckets
    ).where(
        F.col("_e").isNotNull() & (F.col("_e") > F.col("_s"))
    )
    # bucket indices covered by [_s, _e): floor(_s/step) .. floor((_e-1)/step)
    idx_s = F.floor(F.col("_s") / step_us)
    idx_e = F.floor((F.col("_e") - 1) / step_us)
    pieces = iv.select(
        *group_cols,
        "_v",
        "_s",
        "_e",
        F.explode(F.sequence(idx_s, idx_e)).alias("_b"),
    )
    ov = F.least(F.col("_e"), (F.col("_b") + 1) * step_us) - F.greatest(
        F.col("_s"), F.col("_b") * step_us
    )
    agg = (
        pieces.withColumn("_ov", ov)
        .groupBy(*group_cols, "_b")
        .agg(
            exact_sum(F.col("_v"), weight=F.col("_ov")).alias("_num"),
            F.sum("_ov").alias("_den"),
        )
    )
    return agg.select(
        *group_cols,
        F.timestamp_micros((F.col("_b") * step_us).cast("long")).alias(ts_col),
        (F.col("_num") / F.col("_den").cast("double")).alias(out_col),
    )
