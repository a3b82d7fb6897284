"""Row-level continuity analytics: diffs, frequency inference, gaps, stats.

Parity targets (reference ``load_file.py:2024-2125``):
- W1 row-to-row diff (``df[ts].diff()``, ``load_file.py:2080``)
- W2 gap enumeration (``load_file.py:2079-2092``; TimeSeriesGap dataclass
  ``ts_validator.py:40-47``)
- W3 frequency inference (``pd.infer_freq`` fallback median-diff,
  ``load_file.py:2063-2074``)
- A3 continuity statistics (``load_file.py:2094-2111``)

One integer step pass: :func:`_steps` is the module's only lag. It adds
``_prev_ts`` and ``_du`` = ``unix_micros(ts) - unix_micros(_prev_ts)``, the
step in epoch microseconds as a BIGINT. Frequency, gap counts and coverage
come from one statistics body (:func:`_stats`) over the distinct-step
distribution, where a step is a gap when ``_du > m·median + add``. The
public functions are views of these two pieces that only convert units:
seconds are ``_du / 1e6`` at the output, and a threshold given in seconds
is compared in half-µs, so sub-second data classifies and sums like
pandas' integer ``Timedelta`` arithmetic. The float and the integer-exact
forms therefore agree by construction.

Spark-first notes: every function takes ``group_cols`` (series key) to
partition the window; with a key the plan is a standard hash-partitioned
window (SURVEY.md §7 hard-part (d)). Unkeyed input (the reference's
one-global-timeline model) is spread over deterministic time buckets with
a boundary carry (``functions/bucketing.py``), so it never funnels through
one partition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bucketing import shift_in_time
from time_series_loader_spark.functions.frequency import freq_to_seconds


def _freq_float(freq: str | int | float) -> float:
    """Seconds as float — numeric inputs pass through unrounded (median-
    inferred frequencies are fractional)."""
    if isinstance(freq, (int, float)):
        if freq <= 0:
            raise ValueError(f"frequency must be positive, got {freq!r}")
        return float(freq)
    return float(freq_to_seconds(freq))


def _x2(freq: str | int | float) -> int:
    """A duration in half-µs, the unit thresholds are compared in
    (against ``2·_du``): exact for a µs step and for a median that falls
    between two steps (``freq_us_x2 / 2e6`` seconds)."""
    return round(_freq_float(freq) * 2e6)


def _steps(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    slim: bool = True,
) -> DataFrame:
    """The one step pass: adds ``_prev_ts`` (the previous row's timestamp
    in time order, keyed or bucketed — functions/bucketing.py) and ``_du``
    (BIGINT µs step, null on each series' first row). ``slim`` projects to
    the key and timestamp first, so the window shuffle carries 8 bytes a
    row, not rows."""
    if slim:
        df = df.select(*group_cols, ts_col)
    prev = shift_in_time(
        df, ts_col, ts_col, "_prev_ts", group_cols=group_cols, num_buckets=num_buckets
    )
    du = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev_ts"))
    return prev.withColumn("_du", du)


def _distribution(df: DataFrame, ts_col: str, group_cols: Sequence[str]) -> DataFrame:
    """(group_cols..., ``_du``, ``_c`` count, ``_t0``/``_t1`` ts extrema)
    per distinct step — small for real telemetry (bounded by distinct
    spacings, not rows) and map-side combined. The null step of each
    series' first row is a group too, so every row is counted once and a
    one-row series is still present."""
    ts = F.col(ts_col)
    return (
        _steps(df, ts_col, group_cols)
        .groupBy(*group_cols, "_du")
        .agg(F.count(F.lit(1)).alias("_c"), F.min(ts).alias("_t0"), F.max(ts).alias("_t1"))
    )


def _with_median(dist: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Adds ``freq_us_x2`` to every row of the step distribution: the sum
    of the two middle order statistics of the series' non-null steps —
    see :func:`infer_frequency_us2`. Windows over the small distinct-step
    frame, so no join and no collect."""
    w = Window.partitionBy(*group_cols).orderBy("_du")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    steps = F.when(F.col("_du").isNotNull(), F.col("_c"))
    cum = dist.select("*", F.sum(steps).over(w).alias("_hi"), F.sum(steps).over(whole).alias("_n"))

    # ranks of the two middle order statistics, 1-indexed: (n+1) div 2
    # and (n+2) div 2 — integer division, exact
    def middle(rank: str):
        return F.min(F.when(F.col("_hi") >= F.expr(rank), F.col("_du"))).over(whole)

    f2 = (middle("(_n + 1) div 2") + middle("(_n + 2) div 2")).cast("long")
    return cum.select(*dist.columns, f2.alias("freq_us_x2"))


def _stats(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    add_x2: int,
    multiple: int | None = None,
) -> DataFrame:
    """The one statistics body: (group_cols..., ``start_time``,
    ``end_time``, ``n_rows``, ``n_gaps``, ``gap_total_us``) plus
    ``freq_us_x2`` when ``multiple`` is given. A step is a gap when
    ``2·_du > multiple·freq_us_x2 + add_x2`` — ``_du > m·median + add``
    in half-µs; without ``multiple`` the threshold is ``add_x2`` alone.
    One lag pass and one aggregate over the distinct-step distribution;
    a series with no steps has 0 gaps."""
    dist = _distribution(df, ts_col, group_cols)
    thr = F.lit(add_x2)
    extra = []
    if multiple is not None:
        dist = _with_median(dist, group_cols)
        thr = F.col("freq_us_x2") * F.lit(int(multiple)) + thr
        extra = [F.min("freq_us_x2").alias("freq_us_x2")]
    gap = F.col("_du") * 2 > thr
    return dist.groupBy(*group_cols).agg(
        F.min("_t0").alias("start_time"),
        F.max("_t1").alias("end_time"),
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum(F.when(gap, F.col("_c"))), F.lit(0)).alias("n_gaps"),
        F.coalesce(F.sum(F.when(gap, F.col("_du") * F.col("_c"))), F.lit(0)).alias("gap_total_us"),
        *extra,
    )


def with_time_diff(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str] = (),
    diff_col: str = "diff_seconds",
    num_buckets: int | None = None,
) -> DataFrame:
    """W1: per-row delta to the previous row, in (fractional) seconds."""
    out = _steps(df, ts_col, group_cols, num_buckets, slim=False)
    return out.withColumn(diff_col, F.col("_du") / 1e6).drop("_prev_ts", "_du")


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

    ``exact=True`` is :func:`infer_frequency_us2` in seconds
    (``freq_us_x2 / 2e6``): the exact median, an even count taking the
    midpoint of the two middle steps as pandas does. At larger scale pass
    ``exact=False``: ``percentile_approx`` over the µs steps with a
    10k-centroid sketch — bounded memory, mergeable, ~4 significant digits.
    """
    if exact:
        f2 = infer_frequency_us2(df, ts_col, group_cols)
        return f2.select(*group_cols, (F.col("freq_us_x2") / 2e6).alias("freq_seconds"))
    steps = _steps(df, ts_col, group_cols).where(F.col("_du").isNotNull())
    med = F.percentile_approx(F.col("_du"), F.lit(0.5), F.lit(10000)) / 1e6
    return steps.groupBy(*group_cols).agg(med.alias("freq_seconds"))


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
    expected = _x2(expected_freq)
    thr = expected + (_x2(min_gap) if min_gap else 0)
    return (
        _steps(df, ts_col, group_cols)
        .where(F.col("_du") * 2 > thr)
        .select(
            *group_cols,
            F.col("_prev_ts").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            (F.col("_du") / 1e6).alias("gap_seconds"),
            F.expr(f"_du * 2 div {expected} - 1").alias("expected_points"),
        )
    )


def continuity_stats(
    df: DataFrame,
    ts_col: str,
    expected_freq: str | int | float | None,
    min_gap: str | int | float = 0,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """A3: min/max/count, total duration, summed gap time, coverage %.

    Coverage = 1 - (gap seconds / total span), as in reference
    ``load_file.py:2102-2111``. A gap is a step above expected + min_gap;
    ``expected_freq=None`` infers the median step in the same action and
    emits it as ``freq_seconds``. Stays a DataFrame so it runs per-group.
    """
    add = _x2(min_gap) if min_gap else 0
    inferred = expected_freq is None
    if inferred:
        s = _stats(df, ts_col, group_cols, add, multiple=1)
    else:
        s = _stats(df, ts_col, group_cols, add + _x2(expected_freq))
    span = F.unix_micros(F.col("end_time")) - F.unix_micros(F.col("start_time"))
    extra = [(F.col("freq_us_x2") / 2e6).alias("freq_seconds")] if inferred else []
    return s.select(
        *group_cols,
        "start_time",
        "end_time",
        "n_rows",
        "n_gaps",
        (F.col("gap_total_us") / 1e6).alias("gap_seconds_total"),
        (span / 1e6).alias("span_seconds"),
        F.when(span > 0, (F.lit(1.0) - F.col("gap_total_us") / span) * 100.0)
        .otherwise(F.lit(100.0))
        .alias("coverage_pct"),
        *extra,
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
    2× the middle element — no interpolation anywhere. Order statistics
    over integers are engine-proof, which is why the oracle-gated
    continuity slot uses this form.

    Scale shape: deltas → groupBy(Δus) count (map-side combine; the
    distinct-delta frame is tiny for real telemetry, bounded by distinct
    spacings not rows) → cumulative count over the SMALL distinct frame
    (single-partition window over ~distinct-spacing rows, not data rows)
    → the two rank probes are window aggregates, no collect in the plan.
    A one-row series has no steps and a null frequency.
    """
    f2 = _with_median(_distribution(df, ts_col, group_cols), group_cols)
    return f2.groupBy(*group_cols).agg(F.min("freq_us_x2").alias("freq_us_x2"))


def continuity_stats_exact(
    df: DataFrame,
    ts_col: str,
    gap_threshold_us: int | None = None,
    group_cols: Sequence[str] = (),
    median_multiple: int = 10,
) -> DataFrame:
    """A3 continuity statistics, INTEGER-EXACT form — every output column
    a BIGINT, no float computed anywhere in the plan; the same statistics
    body as :func:`continuity_stats` with expected+min_gap =
    gap_threshold_us, which the float form expresses as seconds.

    ``gap_threshold_us=None`` infers the threshold from the data —
    gap ⇔ 2·Δus > ``median_multiple``·freq_us_x2 (i.e. Δ strictly above
    ``median_multiple``× the exact median spacing) — and emits the
    inferred ``freq_us_x2`` as a column. The inference rides in the same
    aggregate (no driver collect), so the whole statistic is ONE action.

    Columns: ``start_us``/``end_us`` (epoch µs extrema), ``n_rows``,
    ``n_gaps``/``gap_total_us`` (deltas strictly above the threshold),
    ``span_us``, and ``coverage_micropct`` = round_half_up((span - gap)
    × 1e8 / span) — micro-units of the coverage percentage, computed by
    exact integer split division (two 1e4 steps so no intermediate
    exceeds span·1e4, safe to spans of ~29 years; remainder-based
    half-up, no engine division rounding in play).
    """
    auto = gap_threshold_us is None
    if auto:
        s = _stats(df, ts_col, group_cols, 0, multiple=median_multiple)
    else:
        s = _stats(df, ts_col, group_cols, 2 * int(gap_threshold_us))
    extra = ["freq_us_x2"] if auto else []
    kept = s.withColumn("start_us", F.unix_micros(F.col("start_time"))).withColumn(
        "end_us", F.unix_micros(F.col("end_time"))
    ).withColumn("span_us", F.col("end_us") - F.col("start_us"))
    # coverage micro-pct by exact integer split division: two 1e4-digit
    # groups of num*1e8/span; half-up via the final remainder
    num = "(span_us - gap_total_us)"
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
                f"({num} * 10000) div span_us * 10000"
                f" + ({num} * 10000 % span_us) * 10000 div span_us"
                f" + CAST(2 * (({num} * 10000 % span_us) * 10000 % span_us) >= span_us AS BIGINT)"
            ),
        )
        .otherwise(F.lit(100_000_000))
        .cast("long")
        .alias("coverage_micropct"),
    )
