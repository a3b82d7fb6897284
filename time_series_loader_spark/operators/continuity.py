"""Row-level continuity analytics: diffs, frequency inference, gaps, stats.

Parity targets (reference ``load_file.py:2024-2125``):
- W1 row-to-row diff (``df[ts].diff()``, ``load_file.py:2080``)
- W2 gap enumeration (``load_file.py:2079-2092``; TimeSeriesGap dataclass
  ``ts_validator.py:40-47``)
- W3 frequency inference (``pd.infer_freq`` fallback median-diff,
  ``load_file.py:2063-2074``)
- A3 continuity statistics (``load_file.py:2094-2111``)

Spark-first notes: one lag pass computes the previous timestamp. Every
function takes ``group_cols`` (series key) to partition the window; with
a key the plan is a standard hash-partitioned window (SURVEY.md §7
hard-part (d)). Unkeyed input (the reference's one-global-timeline model)
is spread over deterministic time buckets with a boundary carry
(``functions/bucketing.py``), so it never funnels through one partition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import shift_in_time
from time_series_loader_spark.functions.exact import exact_sum
from time_series_loader_spark.functions.frequency import freq_to_seconds


def _freq_float(freq: str | int | float) -> float:
    """Seconds as float — numeric inputs pass through unrounded (median-
    inferred frequencies are fractional)."""
    if isinstance(freq, (int, float)):
        if freq <= 0:
            raise ValueError(f"frequency must be positive, got {freq!r}")
        return float(freq)
    return float(freq_to_seconds(freq))


def _with_prev_ts(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    num_buckets: int | None = None,
) -> DataFrame:
    """Add ``_prev_ts`` = the previous row's timestamp in time order
    (keyed, or bucketed over the global timeline — functions/bucketing.py)."""
    return shift_in_time(
        df, ts_col, ts_col, "_prev_ts", group_cols=group_cols, num_buckets=num_buckets
    )


def _median_us2(dd: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """(group_cols..., ``freq_us_x2``) from the delta distribution ``dd``
    = (group_cols..., ``_du``, ``_c`` count): the sum of the two middle
    order statistics — see :func:`infer_frequency_us2`."""
    w = (
        Window.partitionBy(*group_cols).orderBy("_du")
        if group_cols
        else Window.orderBy("_du")
    )
    cum = dd.select(
        *group_cols,
        "_du",
        F.sum("_c").over(w).alias("_hi"),
        F.sum("_c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_n"),
    )
    # ranks of the two middle order statistics, 1-indexed: (n+1) div 2
    # and (n+2) div 2 — integer division, exact
    r1 = F.expr("(_n + 1) div 2")
    r2 = F.expr("(_n + 2) div 2")
    lo = F.min(F.when(F.col("_hi") >= r1, F.col("_du"))).alias("_lo")
    hi = F.min(F.when(F.col("_hi") >= r2, F.col("_du"))).alias("_hi2")
    agg = cum.groupBy(*group_cols).agg(lo, hi) if group_cols else cum.agg(lo, hi)
    return agg.select(
        *group_cols, (F.col("_lo") + F.col("_hi2")).cast("long").alias("freq_us_x2")
    )


def with_time_diff(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str] = (),
    diff_col: str = "diff_seconds",
    num_buckets: int | None = None,
) -> DataFrame:
    """W1: per-row delta to the previous row, in (fractional) seconds."""
    out = _with_prev_ts(df, ts_col, group_cols, num_buckets)
    # Subsecond-exact: cast both to double epoch before differencing.
    delta = F.col(ts_col).cast("double") - F.col("_prev_ts").cast("double")
    return out.withColumn(diff_col, delta).drop("_prev_ts")


def infer_frequency_seconds(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str] = (),
    exact: bool = True,
) -> DataFrame:
    """W3: median inter-row delta in seconds, as a 1-row (or per-group) DF.

    The reference falls back to the median of ``np.diff`` when
    ``pd.infer_freq`` fails (``load_file.py:2063-2074``); real-world spacing
    is rarely perfectly regular so the median IS the inference.

    ``exact=True`` uses Spark's exact ``percentile`` (buffers every distinct
    diff — right up to ~millions of rows, and required for oracle parity).
    At larger scale pass ``exact=False``: ``percentile_approx`` with a
    10k-centroid sketch — bounded memory, mergeable, ~4 significant digits.
    """
    # project before the window: the diff shuffle should carry timestamps
    # only, not the full row
    slim = df.select(*group_cols, ts_col)
    diffs = with_time_diff(slim, ts_col, group_cols).where(
        F.col("diff_seconds").isNotNull()
    )
    if exact:
        agg = F.percentile(F.col("diff_seconds"), F.lit(0.5)).alias("freq_seconds")
    else:
        agg = F.percentile_approx(
            F.col("diff_seconds"), F.lit(0.5), F.lit(10000)
        ).alias("freq_seconds")
    if group_cols:
        return diffs.groupBy(*group_cols).agg(agg)
    return diffs.agg(agg)


def find_gaps(
    df: DataFrame,
    ts_col: str,
    expected_freq: str | int | float,
    min_gap: str | int | float = 0,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """W2: rows where delta > expected + min_gap → gap records.

    Output columns: ``gap_start``, ``gap_end``, ``gap_seconds``,
    ``expected_points`` (= floor(delta/expected) - 1, reference
    ``load_file.py:2088-2091``), plus ``group_cols``.
    """
    expected_s = _freq_float(expected_freq)
    min_gap_s = _freq_float(min_gap) if min_gap else 0.0
    # ts-only projection: the window shuffle carries 8 bytes/row, not rows
    prev = _with_prev_ts(df.select(*group_cols, ts_col), ts_col, group_cols)
    delta = F.col(ts_col).cast("double") - F.col("_prev_ts").cast("double")
    return (
        prev.select(*group_cols, F.col(ts_col), F.col("_prev_ts"), delta.alias("_d"))
        .where(F.col("_d") > expected_s + min_gap_s)
        .select(
            *group_cols,
            F.col("_prev_ts").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            F.col("_d").alias("gap_seconds"),
            (F.floor(F.col("_d") / expected_s) - 1).cast("bigint").alias("expected_points"),
        )
    )


def continuity_stats(
    df: DataFrame,
    ts_col: str,
    expected_freq: str | int | float,
    min_gap: str | int | float = 0,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """A3: min/max/count, total duration, summed gap time, coverage %.

    Coverage = 1 - (gap seconds / total span), as in reference
    ``load_file.py:2102-2111``. Computed as two small aggregations (base +
    gaps) joined driver-free; stays a DataFrame so it runs per-group.
    """
    base = df.groupBy(*group_cols).agg(
        F.min(ts_col).alias("start_time"),
        F.max(ts_col).alias("end_time"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    gaps = (
        find_gaps(df, ts_col, expected_freq, min_gap, group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            # gap_seconds is a µs-precision epoch diff: the 6-dp cast is exact
            exact_sum(F.col("gap_seconds")).alias("gap_seconds_total"),
        )
    )
    joined = base.join(gaps, list(group_cols), "left") if group_cols else base.crossJoin(gaps)
    span = F.col("end_time").cast("double") - F.col("start_time").cast("double")
    gap_s = F.coalesce(F.col("gap_seconds_total"), F.lit(0.0))
    return joined.select(
        *group_cols,
        "start_time",
        "end_time",
        "n_rows",
        F.coalesce(F.col("n_gaps"), F.lit(0)).cast("bigint").alias("n_gaps"),
        gap_s.alias("gap_seconds_total"),
        span.alias("span_seconds"),
        F.when(span > 0, (F.lit(1.0) - gap_s / span) * 100.0)
        .otherwise(F.lit(100.0))
        .alias("coverage_pct"),
    )


def infer_frequency_us2(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """W3 frequency inference, INTEGER-EXACT form: 2× the median
    inter-row delta in epoch microseconds, as ``freq_us_x2`` BIGINT.

    Why doubled: an even delta count medians to the midpoint of the two
    middle order statistics — a potential .5 that would force a float.
    Emitting ``lower_mid + upper_mid`` keeps the statistic an exact
    integer in every engine (median = freq_us_x2 / 2; a "gap > K×median"
    test becomes ``2·Δus > K·freq_us_x2``). For odd counts it is simply
    2× the middle element — no interpolation anywhere.

    Why this exists (round-7): :func:`infer_frequency_seconds` uses the
    engine's ``percentile``, whose even-count interpolation and float
    output are engine-evaluated — the exact channel the r6 VERDICT
    ordered out of the oracle-gated continuity slot. Order statistics
    over integers are engine-proof.

    Scale shape: deltas → groupBy(Δus) count (map-side combine; the
    distinct-delta frame is tiny for real telemetry, bounded by distinct
    spacings not rows) → cumulative count over the SMALL distinct frame
    (single-partition window over ~distinct-spacing rows, not data rows)
    → the two rank probes are aggregations, no collect in the plan.
    """
    slim = df.select(*group_cols, ts_col)
    prev = _with_prev_ts(slim, ts_col, group_cols)
    d_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev_ts"))
    deltas = prev.select(*group_cols, d_us.alias("_du")).where(
        F.col("_du").isNotNull()
    )
    dd = deltas.groupBy(*group_cols, "_du").agg(F.count(F.lit(1)).alias("_c"))
    return _median_us2(dd, group_cols)


def continuity_stats_exact(
    df: DataFrame,
    ts_col: str,
    gap_threshold_us: int | None = None,
    group_cols: Sequence[str] = (),
    median_multiple: int = 10,
) -> DataFrame:
    """A3 continuity statistics, INTEGER-EXACT form — every output column
    a BIGINT, no float computed anywhere in the plan (round-7 hardening;
    semantics identical to :func:`continuity_stats` with
    expected+min_gap = gap_threshold_us, which the float form expresses
    as seconds).

    ``gap_threshold_us=None`` infers the threshold from the data —
    gap ⇔ 2·Δus > ``median_multiple``·freq_us_x2 (i.e. Δ strictly above
    ``median_multiple``× the exact median spacing) — and emits the
    inferred ``freq_us_x2`` as a column. The inference joins in as a
    one-row broadcast scalar (no driver collect), so the whole statistic
    is ONE action; with ``group_cols`` the per-group medians broadcast-
    join on the key.

    Columns: ``start_us``/``end_us`` (epoch µs extrema), ``n_rows``,
    ``n_gaps``/``gap_total_us`` (deltas strictly above the threshold),
    ``span_us``, and ``coverage_micropct`` = round_half_up((span - gap)
    × 1e8 / span) — micro-units of the coverage percentage, computed by
    exact integer split division (two 1e4 steps so no intermediate
    exceeds span·1e4, safe to spans of ~29 years; remainder-based
    half-up, no engine division rounding in play).
    """
    slim = df.select(*group_cols, ts_col)
    prev = _with_prev_ts(slim, ts_col, group_cols)
    d_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev_ts"))
    per = prev.select(*group_cols, F.unix_micros(F.col(ts_col)).alias("_us"), d_us.alias("_du"))
    auto = gap_threshold_us is None
    if auto:
        # r14 (guide §2.4): the auto path previously called
        # infer_frequency_us2(df) — a SECOND full _with_prev_ts lag
        # pipeline over the same rows — and crossJoined its scalar into
        # the row-sized frame to evaluate the gap flag per row. Every
        # delta-derived statistic (n_gaps, gap_total_us, the median) is
        # a function of the delta DISTRIBUTION alone, so one lag
        # pipeline feeds a distinct-delta aggregate (tiny: bounded by
        # distinct spacings, map-side combined) and the gap flag is
        # evaluated on THAT frame; row-sized work is one lag pass plus
        # one plain (min, max, count) aggregate. Degenerate-input
        # semantics match the old form exactly: n_gaps is NULL when no
        # deltas exist (sum over nothing), 0 when deltas exist but none
        # gap; grouped mode still drops delta-less groups (inner join).
        dd = (
            per.where(F.col("_du").isNotNull())
            .groupBy(*group_cols, "_du")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # exact doubled-median from dd — infer_frequency_us2's order
        # statistics, computed over the already-built distribution
        med = _median_us2(dd, group_cols)
        ddm = (
            dd.join(F.broadcast(med), list(group_cols))
            if group_cols
            else dd.crossJoin(F.broadcast(med))
        )
        gap_cond = (F.col("_du") * 2) > (
            F.col("freq_us_x2") * F.lit(int(median_multiple))
        )
        gaggs = [
            F.sum(gap_cond.cast("long") * F.col("_c")).alias("n_gaps"),
            F.coalesce(
                F.sum(F.when(gap_cond, F.col("_du") * F.col("_c"))), F.lit(0)
            ).alias("gap_total_us"),
            F.min("freq_us_x2").alias("freq_us_x2"),
        ]
        gagg = ddm.groupBy(*group_cols).agg(*gaggs) if group_cols else ddm.agg(*gaggs)
        saggs = [
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_rows"),
        ]
        # min/max/count need no predecessor — aggregate the RAW slim
        # frame (plain map-side-combined agg, no sort), not `per`, so
        # the lag pipeline is evaluated exactly once (under dd)
        us = slim.select(
            *group_cols, F.unix_micros(F.col(ts_col)).alias("_us")
        )
        stats = us.groupBy(*group_cols).agg(*saggs) if group_cols else us.agg(*saggs)
        base = (
            stats.join(F.broadcast(gagg), list(group_cols))
            if group_cols
            else stats.crossJoin(F.broadcast(gagg))
        )
        # column order of the old fused aggregate
        base = base.select(
            *group_cols,
            "start_us",
            "end_us",
            "n_rows",
            "n_gaps",
            "gap_total_us",
            "freq_us_x2",
        )
    else:
        gap_cond = F.col("_du") > F.lit(int(gap_threshold_us))
        gap = F.col("_du").isNotNull() & gap_cond
        aggs = [
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(gap.cast("long")).alias("n_gaps"),
            F.coalesce(F.sum(F.when(gap, F.col("_du"))), F.lit(0)).alias("gap_total_us"),
        ]
        base = per.groupBy(*group_cols).agg(*aggs) if group_cols else per.agg(*aggs)
    span = F.col("end_us") - F.col("start_us")
    num = span - F.col("gap_total_us")
    # coverage micro-pct by exact integer split division: two 1e4-digit
    # groups of num*1e8/span; half-up via the final remainder
    extra = ["freq_us_x2"] if auto else []
    kept = base.select(
        *group_cols,
        "start_us",
        "end_us",
        "n_rows",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.col("gap_total_us").cast("long").alias("gap_total_us"),
        span.cast("long").alias("span_us"),
        *extra,
        num.cast("long").alias("_num"),
    )
    return kept.select(
        *group_cols,
        "start_us",
        "end_us",
        "n_rows",
        "n_gaps",
        "gap_total_us",
        "span_us",
        *extra,
        F.when(
            F.col("span_us") > 0,
            F.expr(
                "(_num * 10000) div span_us * 10000"
                " + (_num * 10000 % span_us) * 10000 div span_us"
                " + CAST(2 * ((_num * 10000 % span_us) * 10000 % span_us) >= span_us AS BIGINT)"
            ),
        )
        .otherwise(F.lit(100_000_000))
        .cast("long")
        .alias("coverage_micropct"),
    ).drop("_num")
