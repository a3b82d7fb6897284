"""ffill/bfill with limit and time interpolation vs pandas (SURVEY §7 step 6)."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from time_series_loader_spark.operators.fill import bfill, ffill
from time_series_loader_spark.operators.interpolate import interpolate_time

VALUES = [1.0, None, None, None, 4.0, None, 6.0, None, None, 9.0, None]


def _df(spark):
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), v) for i, v in enumerate(VALUES)
    ]
    return spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")


def _pandas_series():
    idx = pd.date_range("2023-01-01", periods=len(VALUES), freq="h")
    return pd.Series([np.nan if v is None else v for v in VALUES], index=idx)


def _collect(df):
    return [r["v"] for r in df.orderBy("ts").collect()]


@pytest.mark.parametrize("limit", [None, 1, 2])
def test_ffill_matches_pandas(spark, limit):
    got = _collect(ffill(_df(spark), "ts", ["v"], limit=limit))
    exp = _pandas_series().ffill(limit=limit).tolist()
    for g, e in zip(got, exp):
        assert (g is None and np.isnan(e)) or g == pytest.approx(e)


@pytest.mark.parametrize("limit", [None, 1, 2])
def test_bfill_matches_pandas(spark, limit):
    got = _collect(bfill(_df(spark), "ts", ["v"], limit=limit))
    exp = _pandas_series().bfill(limit=limit).tolist()
    for g, e in zip(got, exp):
        assert (g is None and np.isnan(e)) or g == pytest.approx(e)


@pytest.mark.parametrize("limit", [None, 1, 2])
def test_interpolate_time_matches_pandas(spark, limit):
    got = _collect(interpolate_time(_df(spark), "ts", ["v"], limit=limit))
    exp = _pandas_series().interpolate(method="time", limit=limit).tolist()
    for g, e in zip(got, exp):
        assert (g is None and np.isnan(e)) or g == pytest.approx(e)


def test_leading_nulls_stay_null(spark):
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), v)
        for i, v in enumerate([None, None, 3.0, None])
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")
    assert _collect(ffill(df, "ts", ["v"]))[:2] == [None, None]
    assert _collect(interpolate_time(df, "ts", ["v"]))[:2] == [None, None]
    # trailing carries forward under interpolate (pandas default)
    assert _collect(interpolate_time(df, "ts", ["v"]))[3] == 3.0


def test_grouped_fill_partitions_independently(spark):
    rows = []
    for key in ("a", "b"):
        base = 100.0 if key == "a" else 200.0
        rows += [
            (key, datetime(2023, 1, 1), base),
            (key, datetime(2023, 1, 1, 1), None),
            (key, datetime(2023, 1, 1, 2), None),
        ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    out = ffill(df, "ts", ["v"], group_cols=["k"]).collect()
    for r in out:
        assert r["v"] == (100.0 if r["k"] == "a" else 200.0)


@pytest.mark.parametrize("limit", [None, 1, 2, 3])
@pytest.mark.parametrize("backward", [False, True])
def test_distributed_fill_matches_pandas_many_buckets(spark, limit, backward):
    """Force many small time buckets so cross-bucket carries are exercised."""
    values = [None, 1.0, None, None, None, None, 5.0, None, 2.0] + [None] * 8 + [7.0, None, None]
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), v) for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")
    fn = bfill if backward else ffill
    got = [
        r["v"]
        for r in fn(df, "ts", ["v"], limit=limit, num_buckets=5).orderBy("ts").collect()
    ]
    s = _pandas_series_from(values)
    exp = (s.bfill(limit=limit) if backward else s.ffill(limit=limit)).tolist()
    for g, e in zip(got, exp):
        assert (g is None and np.isnan(e)) or g == pytest.approx(e), (got, exp)


def _pandas_series_from(values):
    idx = pd.date_range("2023-01-01", periods=len(values), freq="h")
    return pd.Series([np.nan if v is None else v for v in values], index=idx)


@pytest.mark.parametrize("limit", [None, 1, 2])
def test_distributed_interpolate_matches_pandas_many_buckets(spark, limit):
    values = [None, 1.0, None, None, None, None, 5.0, None, 2.0] + [None] * 8 + [7.0, None, None]
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), v) for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")
    got = [
        r["v"]
        for r in interpolate_time(df, "ts", ["v"], limit=limit, num_buckets=5)
        .orderBy("ts")
        .collect()
    ]
    exp = _pandas_series_from(values).interpolate(method="time", limit=limit).tolist()
    for g, e in zip(got, exp):
        assert (g is None and np.isnan(e)) or g == pytest.approx(e), (got, exp)


NAN_VALUES = [1.0, float("nan"), None, 4.0, None, float("nan"), None]


@pytest.mark.parametrize("shape", ["unkeyed", "buckets3", "keyed"])
def test_nan_is_missing_in_fills_and_interpolate(spark, shape):
    """pandas treats NaN as missing: a NaN row takes the fill value, and a
    row that nothing fills keeps its own value (null and NaN both read as
    missing to pandas)."""
    rows = [
        ("a", datetime(2023, 1, 1) + timedelta(hours=i), v) for i, v in enumerate(NAN_VALUES)
    ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    kw = {"keyed": {"group_cols": ["k"]}, "buckets3": {"num_buckets": 3}}.get(shape, {})
    nan = float("nan")
    expected = {
        ffill: [1, 1, 1, 4, 4, 4, 4],
        bfill: [1, 4, 4, 4, nan, nan, nan],
        interpolate_time: [1, 2, 3, 4, 4, 4, 4],
    }
    for fn, exp in expected.items():
        got = [np.nan if g is None else g for g in _collect(fn(df, "ts", ["v"], **kw))]
        np.testing.assert_allclose(got, exp, err_msg=fn.__name__)


@pytest.mark.parametrize("limit", [None, 1, 2])
@pytest.mark.parametrize("op", ["ffill", "bfill", "interpolate"])
def test_keyed_fills_match_pandas_groupby(spark, op, limit):
    """Keyed path vs pandas groupby: two series on interleaved, uneven
    timestamps, with leading, inner and trailing null runs."""
    series = {
        "a": [None, 1.0, None, None, None, 5.0, None, None],
        "b": [2.0, None, None, 3.0, None, None, None, 8.0],
    }
    rows = [
        (k, datetime(2023, 1, 1) + timedelta(minutes=7 * i + (3 if k == "b" else 0) + i * i), v)
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    fn = {"ffill": ffill, "bfill": bfill, "interpolate": interpolate_time}[op]
    got = {
        (r["k"], r["ts"]): r["v"]
        for r in fn(df, "ts", ["v"], limit=limit, group_cols=["k"]).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"]).set_index("ts")
    g = pdf.groupby("k")["v"]
    if op == "interpolate":
        exp = g.transform(lambda s: s.interpolate(method="time", limit=limit))
    else:
        exp = getattr(g, op)(limit=limit)
    for (k, ts), e in zip(zip(pdf["k"], pdf.index), exp):
        v = got[(k, ts.to_pydatetime())]
        assert (v is None and np.isnan(e)) or v == pytest.approx(e), (k, ts, v, e)
