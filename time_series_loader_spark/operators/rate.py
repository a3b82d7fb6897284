"""Reset-aware counter increase / rate per time bucket — the telemetry
aggregate (PromQL ``increase()``/``rate()``, Influx ``non_negative_
difference``) for MONOTONE COUNTERS that occasionally restart from zero
(process restarts, rollovers).

Semantics: per consecutive sample pair (prev, cur) within a series,
the contribution is ``cur - prev`` when the counter advanced, and
``cur`` when it went BACKWARD (a reset: the counter restarted near
zero, so everything accumulated since the restart is ``cur``; anything
lost between the last pre-reset sample and the restart is
unobservable — the standard under-estimate every monitoring system
accepts). Each contribution is attributed to the bucket of the LATER
sample (exact sum of observed deltas; no PromQL-style window
extrapolation — that is a presentation choice layered on top, not an
aggregation property).

Scale shape: keyed series hash-partition by key (one lag window + one
groupBy, both on the key). Unkeyed input takes the previous sample from
``functions/bucketing.py::shift_in_time`` (time buckets + boundary
carry) — never a single-partition window. Sums accumulate in DECIMAL
(the house rule: partition-order-independent).

Numeric discipline (round-6 hardening): counter readings are quantized
to DECIMAL(27,6) *before* any comparison or subtraction, so every
engine computes the identical exact decimal delta. The alternative —
subtract doubles, then cast the result — gives a different answer
whenever readings carry >6 decimal digits (``round(v-pv, 6) ≠
round(v,6) - round(pv,6)``), and is how a cross-engine oracle drifts.
Semantics: deltas below 0.5 µunit are treated as no movement — the
right call for counters, whose increments are discrete events.

Null-valued samples are dropped first (a null counter reading observes
nothing); deltas then span across them.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import shift_in_time
from time_series_loader_spark.functions.frequency import freq_to_seconds


def counter_increase(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    freq: str | int,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    micro_units: bool = False,
) -> DataFrame:
    """Per-bucket counter increase and per-second rate.

    Returns (group_cols..., ``ts_col`` = bucket left edge, ``increase``
    DOUBLE, ``rate`` DOUBLE = increase / bucket seconds, ``n_resets``
    BIGINT) for every bucket containing at least one delta.

    ``micro_units=True`` (round-7, for oracle-gated integer-pure plans):
    readings quantize to BIGINT micro-units right after the exact
    DECIMAL(27,6) cast, every comparison/delta/sum is then 64-bit integer
    arithmetic, and the output carries ``increase_u`` BIGINT (µunits)
    instead of the ``increase``/``rate`` doubles — not one float is
    computed anywhere in the plan. Bound: per-bucket Σ|increase_u| must
    stay under 2^63 (µunit readings ≤ ~9.2e18, i.e. |value| ≤ ~9.2e12 —
    same envelope the DECIMAL(27,6) cast already implies for parity).
    """
    step_s = freq_to_seconds(freq)
    step_us = int(round(step_s * 1_000_000))
    if step_us <= 0:
        raise ValueError("freq must be a positive duration")

    # quantize-first: all reset detection and delta arithmetic happens on
    # exact DECIMAL(27,6) values (see module docstring)
    v_dec = F.col(value_col).cast("decimal(27,6)")
    # (27,6)×(7,0) → DECIMAL(35,6): the ×1e6 product is exact (no 38-cap
    # rounding), so the long cast is the true µunit integer
    v_expr = (v_dec * F.lit(1_000_000)).cast("long") if micro_units else v_dec
    # filter on the QUANTIZED value, not just isNotNull: NaN/±Inf and
    # |v| past the DECIMAL(27,6) (or µunit-long) envelope cast to null,
    # and such readings are NOT samples — they are skipped and the delta
    # spans across them, exactly like a null reading. (Filtering only the
    # raw column let an Inf reading through as a null _v, which emitted a
    # junk bucket row with NULL increase/resets and desynced the
    # streaming dual — r7 self-audit.)
    base = df.select(*group_cols, ts_col, v_expr.alias("_v")).where(
        F.col("_v").isNotNull()
    )
    lagged = shift_in_time(
        base, ts_col, "_v", "_prev", group_cols=group_cols, num_buckets=num_buckets
    ).where(F.col("_prev").isNotNull())
    reset = F.col("_v") < F.col("_prev")
    contrib = F.when(reset, F.col("_v")).otherwise(F.col("_v") - F.col("_prev"))
    # integer floor-division for the bucket id: the float form
    # floor(us/step) is exact only while us/step stays clear of a
    # double-rounding boundary — for very large steps (e.g. 3650D,
    # step ≈ 3.2e17 µs) a sample 1 µs before a bucket edge can round
    # UP across it. Sign-corrected `div` is exact for every int64.
    bucket = F.expr(
        f"unix_micros(`{ts_col}`) div {step_us}L"
        f" - CASE WHEN unix_micros(`{ts_col}`) % {step_us}L < 0 THEN 1 ELSE 0 END"
    )
    out = (
        lagged.select(
            *group_cols,
            bucket.alias("_b"),
            (contrib if micro_units else contrib.cast("decimal(27,6)")).alias("_c"),
            reset.cast("int").alias("_r"),
        )
        .groupBy(*group_cols, "_b")
        .agg(
            F.sum("_c").alias("_inc"),
            F.sum("_r").alias("n_resets"),
        )
    )
    if micro_units:
        return out.select(
            *group_cols,
            F.timestamp_micros((F.col("_b") * step_us).cast("long")).alias(ts_col),
            F.col("_inc").cast("long").alias("increase_u"),
            "n_resets",
        )
    inc = F.col("_inc").cast("double")
    return out.select(
        *group_cols,
        F.timestamp_micros((F.col("_b") * step_us).cast("long")).alias(ts_col),
        inc.alias("increase"),
        (inc / F.lit(float(step_s))).alias("rate"),
        "n_resets",
    )
