"""Time-weighted mean: hand-computed cases, numpy step-integral
differential, keyed/unkeyed parity, bucket-edge exactness."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.twa import time_weighted_mean

T0 = dt.datetime(2024, 1, 1)


def _df(spark, points, key=None):
    rows = [
        (key, T0 + dt.timedelta(seconds=s), None if v is None else float(v))
        for s, v in points
    ]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP, value DOUBLE")
    return df if key is not None else df.drop("user_id")


def _np_twa(points, step_s):
    """Reference: integrate the LOCF step function, bucket by bucket."""
    pts = [(s, v) for s, v in points if v is not None]
    out = {}
    for (s0, v), (s1, _) in zip(pts, pts[1:]):
        if s1 <= s0:
            continue
        b = int((T0.timestamp() + s0) // step_s)
        while True:
            lo = max(T0.timestamp() + s0, b * step_s)
            hi = min(T0.timestamp() + s1, (b + 1) * step_s)
            if hi > lo:
                n, d = out.get(b, (0.0, 0.0))
                out[b] = (n + v * (hi - lo), d + (hi - lo))
            if (b + 1) * step_s >= T0.timestamp() + s1:
                break
            b += 1
    return {
        dt.datetime.utcfromtimestamp(b * step_s): n / d for b, (n, d) in out.items()
    }


def _collect(df, name="twa"):
    return {r["ts"].replace(tzinfo=None): r[name] for r in df.collect()}


def test_hand_computed_single_bucket_split(spark):
    # v=10 for 30s, v=20 for 30s inside one minute → twa 15; the next
    # interval (20→end) is zero-width → nothing past the last sample
    pts = [(0, 10.0), (30, 20.0), (60, 30.0)]
    out = _collect(time_weighted_mean(_df(spark, pts, key="k"), "ts", "value", 60,
                                      group_cols=["user_id"]))
    assert out[T0] == pytest.approx(15.0)
    assert len(out) == 1  # minute 2 has only the zero-width last sample


def test_interval_spans_many_buckets(spark):
    # one sample holds v=5 across 3 full minutes and a 30 s tail
    pts = [(0, 5.0), (210, 7.0), (240, 9.0)]
    out = _collect(time_weighted_mean(_df(spark, pts, key="k"), "ts", "value", 60,
                                      group_cols=["user_id"]))
    for m in range(3):
        assert out[T0 + dt.timedelta(minutes=m)] == pytest.approx(5.0)
    # minute 3: 30 s of 5.0 + 30 s of 7.0
    assert out[T0 + dt.timedelta(minutes=3)] == pytest.approx(6.0)


def test_null_values_locf_skip(spark):
    # the null sample is dropped: v=2 carries from t=0 to t=40
    pts = [(0, 2.0), (20, None), (40, 4.0), (60, 4.0)]
    out = _collect(time_weighted_mean(_df(spark, pts, key="k"), "ts", "value", 60,
                                      group_cols=["user_id"]))
    assert out[T0] == pytest.approx((2.0 * 40 + 4.0 * 20) / 60)


def test_exact_bucket_edge(spark):
    # interval ending exactly ON a bucket edge must not leak into the
    # next bucket (the integer (_e - 1) div step rule)
    pts = [(0, 1.0), (60, 3.0), (120, 3.0)]
    out = _collect(time_weighted_mean(_df(spark, pts, key="k"), "ts", "value", 60,
                                      group_cols=["user_id"]))
    assert out[T0] == pytest.approx(1.0)
    assert out[T0 + dt.timedelta(minutes=1)] == pytest.approx(3.0)


@pytest.mark.parametrize("keyed", [True, False])
def test_differential_vs_numpy(spark, keyed):
    rng = np.random.RandomState(11)
    t, pts = 0.0, []
    for _ in range(400):
        t += float(rng.exponential(25.0))  # irregular arrivals
        pts.append((round(t, 3), float(np.round(rng.randn() * 10 + 50, 2))))
    step = 120
    expect = _np_twa(pts, step)
    df = _df(spark, pts, key="k" if keyed else None)
    out = time_weighted_mean(
        df, "ts", "value", step,
        group_cols=["user_id"] if keyed else (),
        num_buckets=None if keyed else 5,
    )
    got = _collect(out)
    assert set(got) == set(expect)
    for b in expect:
        assert got[b] == pytest.approx(expect[b], rel=1e-9), b


def test_keyed_series_stay_separate(spark):
    a = _df(spark, [(0, 1.0), (30, 3.0), (60, 3.0)], key="a")
    b = _df(spark, [(0, 11.0), (30, 13.0), (60, 13.0)], key="b")
    out = time_weighted_mean(a.union(b), "ts", "value", 60, group_cols=["user_id"])
    vals = {(r["user_id"], r["ts"].replace(tzinfo=None)): r["twa"] for r in out.collect()}
    assert vals[("a", T0)] == pytest.approx(2.0)
    assert vals[("b", T0)] == pytest.approx(12.0)


@pytest.mark.parametrize("keyed", [True, False])
def test_nan_sample_is_skipped_like_null(spark, keyed):
    # [1, NaN, 2, 2] every 10 minutes: NaN is missing, so 1 holds for
    # 20 minutes and 2 for the last 10 (pandas: dropna, then weight each
    # value by the time until the next sample)
    pts = [(0, 1.0), (600, float("nan")), (1200, 2.0), (1800, 2.0)]
    s = pd.Series(
        [v for _, v in pts],
        index=[pd.Timestamp(T0) + pd.Timedelta(seconds=t) for t, _ in pts],
    ).dropna()
    held = np.diff(s.index.asi8) / 1e9
    expect = float((s.iloc[:-1] * held).sum() / held.sum())
    assert expect == pytest.approx(4 / 3)
    df = _df(spark, pts, key="k" if keyed else None)
    out = _collect(time_weighted_mean(df, "ts", "value", "1h",
                                      group_cols=["user_id"] if keyed else ()))
    assert out == {T0: pytest.approx(expect)}
