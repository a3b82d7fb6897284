"""Custom stateful streaming operators via ``applyInPandasWithState``.

Beyond-reference capability (§2.9): the reference analyzes gaps post-hoc
over the full frame (``load_file.py:2079-2092``); this operator detects
them INCREMENTALLY — per series key, the state holds the last-seen event
time, and a gap record is emitted the moment an event arrives more than
``gap_seconds`` after its predecessor. State is O(1) per key (one
timestamp), so the operator runs indefinitely on unbounded streams.

This is the canonical shape for custom stateful logic the built-in
windowed aggregations can't express (the gap is BETWEEN events, not within
a fixed window).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from time_series_loader_spark.functions.exact import micro_units


def _per_key(
    events: DataFrame,
    key_col: str,
    fn: Callable[..., Iterator[pd.DataFrame]],
    out_schema: StructType,
    state_schema: StructType,
) -> DataFrame:
    # every operator here keeps O(1) state per key: no timeout needed
    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("gap_start", TimestampType()),
        StructField("gap_end", TimestampType()),
        StructField("gap_seconds", DoubleType()),
    ]
)

STATE_SCHEMA = StructType([StructField("last_ts_micros", LongType())])


def streaming_gap_detector(
    events: DataFrame,
    gap_seconds: float,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Emit (key, gap_start, gap_end, gap_seconds) whenever consecutive
    events of a key are more than ``gap_seconds`` apart.

    Input must be a streaming DataFrame with watermark set by the caller if
    state cleanup on event time is desired; state here is constant-size per
    key so NoTimeout is safe for bounded key cardinality.
    """

    def detect(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            (last_micros,) = state.get
            last = pd.Timestamp(last_micros, unit="us")
        else:
            last = None
        out = []
        # applyInPandasWithState delivers the group's micro-batch as
        # MULTIPLE Arrow chunks (arrow.maxRecordsPerBatch) with no global
        # time order — concatenate before sorting, or rows in a later
        # chunk that precede an earlier chunk's max would be mis-ordered
        chunks = list(pdfs)
        for pdf in [pd.concat(chunks)] if chunks else []:
            for ts in pdf[ts_col].sort_values():
                if last is not None:
                    delta = (ts - last).total_seconds()
                    if delta > gap_seconds:
                        out.append((uid, last, ts, delta))
                if last is None or ts > last:
                    last = ts
        if last is not None:
            state.update((int(last.value // 1000),))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "gap_start", "gap_end", "gap_seconds"])

    return _per_key(events, key_col, detect, GAP_SCHEMA, STATE_SCHEMA)


RATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("bucket_ts", TimestampType()),
        StructField("increase", DoubleType()),
        StructField("rate", DoubleType()),
        StructField("n_resets", LongType()),
    ]
)

# last sample carried across micro-batches: event time + reading in µunits
RATE_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_micros", LongType()),
        StructField("last_v_micro", LongType()),
    ]
)


def streaming_counter_rate(
    events: DataFrame,
    freq_seconds: float,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming dual of ``operators/rate.py::counter_increase`` — the
    live PromQL ``increase()``/``rate()`` shape: per series key, the
    state holds the LAST (ts, reading) so a delta spanning two
    micro-batches is still counted exactly once; each micro-batch emits
    its per-bucket PARTIAL sums (a bucket that keeps receiving samples
    across batches emits one partial per batch — downstream completes
    with ``groupBy(bucket_ts).sum``, and with a single batch the output
    equals the batch operator row-for-row, which is how it's tested).

    Arithmetic parity with batch: readings become integer micro-units
    (``micro_units``, the twin of the batch DECIMAL(27,6) cast), so reset
    detection, deltas and per-bucket sums are exact integer math in both
    engines. Readings the cast nulls are NOT samples: both engines skip
    them and the delta spans across. State is O(1) per key (two longs).

    Ordering contract (inherent to any sequential stateful op): rows
    are sorted by event time WITHIN each micro-batch, but a sample
    arriving in a later batch with an earlier timestamp than the stored
    state is dropped (monotone ingest assumption — same as the batch
    operator's one-pass lag semantics under ordered input).
    """
    step_us = int(round(freq_seconds * 1_000_000))
    if step_us <= 0:
        raise ValueError("freq_seconds must be positive")

    def rate_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            last_ts, last_v = state.get
        else:
            last_ts, last_v = None, None
        buckets: dict[int, list[int]] = {}  # b -> [inc_micro, n_resets]
        # concat ALL Arrow chunks before sorting: chunk boundaries carry
        # no ordering guarantee (see streaming_gap_detector note) — a
        # per-chunk sort would drop later-chunk rows behind the state
        chunks = list(pdfs)
        for pdf in [pd.concat(chunks)] if chunks else []:
            pdf = pdf[pdf[value_col].notna()].sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if last_ts is not None and t_us <= last_ts:
                    continue  # late/duplicate sample: state already past it
                v_u = micro_units(float(v), 1e21)
                if v_u is None:
                    continue  # not a sample: the delta spans across it
                if last_v is not None:
                    reset = v_u < last_v
                    contrib = v_u if reset else v_u - last_v
                    b = t_us // step_us
                    agg = buckets.setdefault(b, [0, 0])
                    agg[0] += contrib
                    agg[1] += 1 if reset else 0
                last_ts, last_v = t_us, v_u
        if last_ts is not None:
            state.update((last_ts, last_v))
        if buckets:
            yield pd.DataFrame(
                [
                    (
                        uid,
                        pd.Timestamp(b * step_us, unit="us"),
                        inc / 1e6,
                        inc / 1e6 / freq_seconds,
                        nr,
                    )
                    for b, (inc, nr) in sorted(buckets.items())
                ],
                columns=["user_id", "bucket_ts", "increase", "rate", "n_resets"],
            )

    return _per_key(events, key_col, rate_fn, RATE_SCHEMA, RATE_STATE_SCHEMA)


EWM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("ewm", DoubleType()),
    ]
)

# decayed numerator/denominator carried across batches (adjust=True:
# num = Σ q^age·x, den = Σ q^age; adjust=False: den stays 1 and num IS y)
EWM_STATE_SCHEMA = StructType(
    [
        StructField("num", DoubleType()),
        StructField("den", DoubleType()),
        StructField("last_ts_micros", LongType()),
    ]
)


def streaming_ewm_mean(
    events: DataFrame,
    alpha: float,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
    adjust: bool = False,
) -> DataFrame:
    """Streaming dual of ``operators/ewm.py::ewm_mean`` (pandas ``ewm``
    semantics, both adjust modes): per key the state carries the decayed
    (numerator, denominator), so the recursion continues seamlessly
    across micro-batches — each row is emitted once with its EWMA as of
    that row.

    The batch operator computes the same quantity CLOSED-FORM (block-
    decay prefix sums — the distributed-scan shape); streaming is
    inherently sequential per key, so here the recursion is literal:
    ``adjust=False``: y ← (1−α)·y + α·x; ``adjust=True``:
    num ← x + (1−α)·num, den ← 1 + (1−α)·den, y = num/den. Batch and
    stream agree to the batch form's documented ~1e-13 truncation
    (differential-tested). Null handling MIRRORS THE BATCH OPERATOR:
    ``adjust=True`` — a null contributes nothing but the decay still
    advances (num, den ← q·num, q·den; the row emits the carried mean;
    leading nulls emit null); ``adjust=False`` — the recursion is
    undefined past a null, so the null row and everything after emit
    null (the batch operator's documented poisoning contract). State is
    O(1) per key; the monotone-ingest ordering contract matches
    :func:`streaming_counter_rate`.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    q = 1.0 - alpha

    def ewm_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            num, den, last_ts = state.get
            poisoned = den is not None and den < 0
        else:
            num, den, last_ts = None, 0.0, None
            poisoned = False
        out = []
        chunks = list(pdfs)  # concat-then-sort: see streaming_gap_detector
        for pdf in [pd.concat(chunks)] if chunks else []:
            pdf = pdf.sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if last_ts is not None and t_us <= last_ts:
                    continue
                last_ts = t_us
                is_null = pd.isna(v)
                if adjust:
                    if is_null:
                        if num is None:
                            out.append((uid, ts, None, None))
                        else:
                            num, den = q * num, q * den
                            # alpha=1 (q=0) decays den to 0 on a null row:
                            # 0/0 is NaN in the batch operator/pandas, but
                            # a Python ZeroDivisionError here — emit None
                            # instead of crashing the query (ADVICE r6)
                            out.append(
                                (uid, ts, None, num / den if den != 0.0 else None)
                            )
                    else:
                        x = float(v)
                        num = x if num is None else x + q * num
                        den = 1.0 + q * den
                        out.append((uid, ts, x, num / den))
                else:
                    if poisoned or is_null:
                        poisoned = True
                        out.append((uid, ts, None if is_null else float(v), None))
                    else:
                        x = float(v)
                        num = x if num is None else alpha * x + q * num
                        out.append((uid, ts, x, num))
        if last_ts is not None:
            state.update((num, -1.0 if poisoned else den, last_ts))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "ts", "value", "ewm"])

    return _per_key(events, key_col, ewm_fn, EWM_SCHEMA, EWM_STATE_SCHEMA)


CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("n_flags_pos", LongType()),
        StructField("n_flags_neg", LongType()),
        StructField("max_cusum_pos_u", LongType()),
        StructField("max_cusum_neg_u", LongType()),
    ]
)

# the live recursion's full cumulative summary: two running CUSUMs plus
# the counters the batch operator reports — all exact integer µunits
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_pos", LongType()),
        StructField("s_neg", LongType()),
        StructField("n", LongType()),
        StructField("flags_pos", LongType()),
        StructField("flags_neg", LongType()),
        StructField("max_pos", LongType()),
        StructField("max_neg", LongType()),
        StructField("last_ts_micros", LongType()),
    ]
)


def streaming_cusum(
    events: DataFrame,
    target: float,
    threshold: float,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming dual of ``operators/trend.py::cusum_stats(target=…)`` —
    the live drift monitor: per series key the state carries the two
    CUSUM accumulators, so Page's recursion continues seamlessly across
    micro-batches and each batch emits the key's UPDATED cumulative
    summary row (latest row per key = current detector state; with a
    single batch the output equals the batch operator row-for-row,
    which is how it's tested).

    Arithmetic parity with batch: readings become integer µunits
    (``micro_units``, the twin of the DECIMAL(18,6) cast; readings it
    nulls are skipped), target and threshold quantize once, and every
    accumulator is exact integer math — stream and batch agree
    BIT-FOR-BIT. State is O(1) per key (eight longs); ordering contract
    as in :func:`streaming_counter_rate`.
    """
    t_u = int(round(target * 1_000_000))
    thr_u = int(round(threshold * 1_000_000))

    def cusum_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            sp, sn, n, fp, fn_, mp, mn, last_ts = state.get
        else:
            sp = sn = n = fp = fn_ = mp = mn = 0
            last_ts = None
        chunks = list(pdfs)  # concat-then-sort: see streaming_gap_detector
        for pdf in [pd.concat(chunks)] if chunks else []:
            pdf = pdf[pdf[value_col].notna()].sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if last_ts is not None and t_us <= last_ts:
                    continue  # late/duplicate sample (monotone ingest)
                v_u = micro_units(float(v), 1e12)
                if v_u is None:
                    continue  # try_cast(DECIMAL(18,6)) envelope
                d = v_u - t_u
                sp = max(0, sp + d)
                sn = max(0, sn - d)
                mp, mn = max(mp, sp), max(mn, sn)
                fp += sp > thr_u
                fn_ += sn > thr_u
                n += 1
                last_ts = t_us
        state.update((sp, sn, n, fp, fn_, mp, mn, last_ts))
        if n:
            yield pd.DataFrame(
                [(uid, n, fp, fn_, mp, mn)],
                columns=[
                    "user_id",
                    "n",
                    "n_flags_pos",
                    "n_flags_neg",
                    "max_cusum_pos_u",
                    "max_cusum_neg_u",
                ],
            )

    return _per_key(events, key_col, cusum_fn, CUSUM_SCHEMA, CUSUM_STATE_SCHEMA)


TREND_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("slope_nano", LongType()),
    ]
)

# exact integer moments; t0 is the series' first-seen event time, which
# under the monotone-ingest contract IS the series minimum — the same
# re-origin the batch operator computes with a min() aggregate
TREND_STATE_SCHEMA = StructType(
    [
        StructField("t0_micros", LongType()),
        StructField("n", LongType()),
        StructField("sx", LongType()),
        StructField("sv", LongType()),
        StructField("sxv", LongType()),
        StructField("sxx", LongType()),
        StructField("last_ts_micros", LongType()),
    ]
)


def streaming_trend_slope(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming dual of ``operators/trend.py::trend_slope`` — the live
    per-series drift estimate: the state carries the five exact integer
    moments (n, Σx, Σv, Σxv, Σx²; x = whole seconds from the series'
    FIRST event, v in µunits), each batch emits the key's updated
    (n, slope_nano) from the same closed form with the same
    sign-explicit truncation — so stream equals batch BIT-FOR-BIT
    (Python ints are arbitrary-precision; the batch side's
    DECIMAL(38,0) products are exact too). NULL slope until x has
    variance, mirroring the batch contract. State is O(1) per key
    (seven longs); monotone-ingest ordering contract as everywhere.

    Moment magnitudes: Python-side ints never overflow, but the STORED
    moments ride LongType — Σxv ≤ n·span_s·1e12 must stay under 2^63
    (e.g. 1e5 samples × 10-year span × |v| ≤ 1e6 ≈ 3e19 would NOT; at
    |v| ≤ 1e3 it is ~3e16). The envelope check below bounds |v| < 1e12
    only — for extreme series lengths re-origin per window upstream.
    """

    def trend_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            t0, n, sx, sv, sxv, sxx, last_ts = state.get
        else:
            t0 = last_ts = None
            n = sx = sv = sxv = sxx = 0
        chunks = list(pdfs)  # concat-then-sort: see streaming_gap_detector
        for pdf in [pd.concat(chunks)] if chunks else []:
            pdf = pdf[pdf[value_col].notna()].sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if last_ts is not None and t_us <= last_ts:
                    continue  # late/duplicate sample (monotone ingest)
                v_u = micro_units(float(v), 1e12)
                if v_u is None:
                    continue  # try_cast(DECIMAL(18,6)) envelope
                if t0 is None:
                    t0 = t_us
                x = (t_us - t0) // 1_000_000  # whole seconds, like batch
                n += 1
                sx += x
                sv += v_u
                sxv += x * v_u
                sxx += x * x
                last_ts = t_us
        state.update((t0, n, sx, sv, sxv, sxx, last_ts))
        if n:
            num = n * sxv - sx * sv
            den = n * sxx - sx * sx
            if den > 0:
                mag = (abs(num) * 1000) // den
                slope = -mag if num < 0 else mag
            else:
                slope = None
            yield pd.DataFrame(
                [(uid, n, slope)], columns=["user_id", "n", "slope_nano"]
            )

    return _per_key(events, key_col, trend_fn, TREND_SCHEMA, TREND_STATE_SCHEMA)


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("step", LongType()),
        StructField("ts", TimestampType()),
    ]
)

# the user's funnel progress: highest step reached (0 = none) and the
# timestamp of the event that reached it (the strictly-after reference)
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("stage", LongType()),
        StructField("t_prev_micros", LongType()),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: list,
    ts_col: str = "ts",
    type_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming dual of ``operators/behavior.py::funnel_steps`` — live
    conversion tracking: per user the state holds (highest step reached,
    its event time); a step-(i+1) event STRICTLY AFTER that time
    advances the funnel and emits one transition row ``(user, step,
    ts)``. Users reaching step k in the stream = the batch operator's
    step-k count (first-touch semantics carry over because the state
    only ever advances on the FIRST qualifying event; differential-
    tested). Unlike the other stateful duals this one consumes events
    in RAW arrival order within a batch only after a per-batch
    time sort, and relies on the same monotone-ingest contract for
    cross-batch correctness. State is O(1) per user (two longs).
    """
    if len(steps) < 2 or len(set(steps)) != len(steps):
        raise ValueError("streaming_funnel: need >= 2 distinct steps")
    step_of = {s: i + 1 for i, s in enumerate(steps)}

    def funnel_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            stage, t_prev = state.get
        else:
            stage, t_prev = 0, None
        out = []
        chunks = list(pdfs)  # concat-then-sort: see streaming_gap_detector
        for pdf in [pd.concat(chunks)] if chunks else []:
            pdf = pdf[pdf[type_col].isin(step_of)].sort_values(ts_col)
            for ts, et in zip(pdf[ts_col], pdf[type_col]):
                want = stage + 1
                if step_of.get(et) != want or want > len(steps):
                    continue
                t_us = int(pd.Timestamp(ts).value // 1000)
                # step 1 anchors unconditionally; later steps must be
                # STRICTLY after the previous step's event (batch rule)
                if stage > 0 and (t_prev is None or t_us <= t_prev):
                    continue
                stage, t_prev = want, t_us
                out.append((uid, want, ts))
        state.update((stage, t_prev))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "step", "ts"])

    return _per_key(events, key_col, funnel_fn, FUNNEL_SCHEMA, FUNNEL_STATE_SCHEMA)
