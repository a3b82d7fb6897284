"""Resample operators vs pandas semantics on the FIXTURES.md shapes."""

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.resample import (
    bucket_start,
    resample,
    resample_with_dates,
)


@pytest.fixture()
def hourly_df(spark):
    # F3: hourly 2023-01-01 00:00 → 2023-01-02 00:00, value 0..24
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), float(i)) for i in range(25)
    ]
    return spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")


def test_resample_2h_mean(spark, hourly_df):
    out = resample(hourly_df, "timestamp", "2h", method="mean").collect()
    pdf = pd.DataFrame(
        {"value": [float(i) for i in range(25)]},
        index=pd.date_range("2023-01-01", periods=25, freq="h"),
    )
    expected = pdf.resample("2h").mean()
    assert len(out) == len(expected)
    for row in out:
        assert row["value"] == pytest.approx(expected.loc[row["timestamp"], "value"])


@pytest.mark.parametrize("method", ["sum", "first", "last", "min", "max"])
def test_resample_methods_match_pandas(spark, hourly_df, method):
    out = {r["timestamp"]: r["value"] for r in resample(hourly_df, "timestamp", "4h", method=method).collect()}
    pdf = pd.DataFrame(
        {"value": [float(i) for i in range(25)]},
        index=pd.date_range("2023-01-01", periods=25, freq="h"),
    )
    expected = getattr(pdf.resample("4h"), method)()
    for ts, v in expected["value"].items():
        assert out[ts.to_pydatetime()] == pytest.approx(v)


@pytest.mark.parametrize("method", ["mean", "sum", "first", "last", "min", "max", "count"])
def test_resample_nan_input_matches_pandas(spark, method):
    # the same hourly series with NaN and null planted: pandas treats both
    # as missing, so they must leave every aggregate (and the mean's count)
    values = [float(i) for i in range(25)]
    values[5] = float("nan")
    values[9] = None
    rows = [(datetime(2023, 1, 1) + timedelta(hours=i), v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")
    out = {
        r["timestamp"]: r["value"]
        for r in resample(df, "timestamp", "4h", method=method).collect()
    }
    pdf = pd.DataFrame(
        {"value": [float("nan") if v is None else v for v in values]},
        index=pd.date_range("2023-01-01", periods=25, freq="h"),
    )
    expected = getattr(pdf.resample("4h"), method)()
    for ts, v in expected["value"].items():
        assert out[ts.to_pydatetime()] == pytest.approx(v)
    if method in ("mean", "sum"):
        # skipna=False: a NaN in the bucket nulls it, like a null does
        strict = {
            r["timestamp"]: r["value"]
            for r in resample(df, "timestamp", "4h", method=method, skipna=False).collect()
        }
        assert strict[datetime(2023, 1, 1, 4)] is None
        assert strict[datetime(2023, 1, 1, 8)] is None
        assert strict[datetime(2023, 1, 1, 0)] == pytest.approx(expected["value"].iloc[0])


@pytest.mark.parametrize("method", ["mean", "sum"])
@pytest.mark.parametrize(
    "values",
    [[1.0, float("inf"), 2.0], [1.0, float("inf"), float("-inf"), 2.0], [1e21, 1.0]],
    ids=["inf", "both_infs", "1e21"],
)
def test_resample_inf_and_magnitude_match_pandas(spark, values, method):
    # pandas groupby rule: ±Inf propagates (both signs → NaN); magnitudes
    # past DECIMAL(27,6) still average exactly
    rows = [(datetime(2023, 1, 1) + timedelta(minutes=10 * i), v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")
    (got,) = [r["value"] for r in resample(df, "timestamp", "1h", method=method).collect()]
    idx = pd.date_range("2023-01-01", periods=len(values), freq="10min")
    (expect,) = getattr(pd.Series(values, index=idx).resample("1h"), method)().tolist()
    assert got == pytest.approx(expect, nan_ok=True)


def test_resample_out_of_range_raises_named_error(spark):
    # |x| >= 1e32 does not fit the accumulator: a named error, never a null
    rows = [(datetime(2023, 1, 1), 5e32), (datetime(2023, 1, 1, 0, 10), 1.0)]
    df = spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        resample(df, "timestamp", "1h").collect()


def test_resample_invalid_method(spark, hourly_df):
    with pytest.raises(ValueError, match="invalid resample method"):
        resample(hourly_df, "timestamp", "1h", method="mode")


def test_bucket_start_alignment(spark):
    df = spark.createDataFrame(
        [(datetime(2023, 1, 1, 10, 44, 59),)], "ts TIMESTAMP"
    )
    got = df.select(bucket_start("ts", 900).alias("b")).collect()[0]["b"]
    assert got == datetime(2023, 1, 1, 10, 30)


class TestBreakpointResample:
    """F4: 4-hour bins over hourly data, pandas pd.cut semantics."""

    @pytest.fixture()
    def df(self, spark):
        rows = []
        for i in range(25):
            ts = datetime(2023, 1, 1) + timedelta(hours=i)
            val = None if 5 <= i < 10 else float(i)
            cat = "A" if i % 2 == 0 else "B"
            rows.append((ts, val, cat))
        return spark.createDataFrame(rows, "timestamp TIMESTAMP, numeric DOUBLE, category STRING")

    @pytest.fixture()
    def points(self):
        return [datetime(2023, 1, 1) + timedelta(hours=4 * i) for i in range(7)]

    def test_mean_and_category_nearest(self, spark, df, points):
        out = resample_with_dates(
            df, "timestamp", points, method="mean", nearest_cols=["category"]
        ).collect()
        by_ts = {r["timestamp"]: r for r in out}
        # bin0 = (lowest] → hours 0..4 → mean 2.0 (pandas include_lowest)
        assert by_ts[points[0]]["numeric"] == pytest.approx(2.0)
        # label timestamps pick nearest row: hour 0 → "A", hour 4 → "A" etc.
        assert by_ts[points[0]]["category"] == "A"

    def test_sum_first_last(self, spark, df, points):
        for method, b0 in [("sum", 10.0), ("first", 0.0), ("last", 4.0)]:
            out = resample_with_dates(df, "timestamp", points, method=method).collect()
            by_ts = {r["timestamp"]: r for r in out}
            assert by_ts[points[0]]["numeric"] == pytest.approx(b0), method

    def test_empty_bin_emitted_with_null_aggs(self, spark, points):
        # pandas groupby over pd.cut categoricals (observed=False default)
        # emits a row for EVERY bin label; empty bins get NaN aggregates and
        # still receive the nearest-value non-numeric.
        rows = [
            (datetime(2023, 1, 1) + timedelta(hours=h), float(h), "A" if h % 2 == 0 else "B")
            for h in range(25)
            if not (8 < h <= 12)  # bin (08:00,12:00] has no rows at all
        ]
        df = spark.createDataFrame(
            rows, "timestamp TIMESTAMP, numeric DOUBLE, category STRING"
        )
        out = resample_with_dates(
            df, "timestamp", points, method="mean", nearest_cols=["category"]
        ).collect()
        by_ts = {r["timestamp"]: r for r in out}
        assert len(out) == len(points) - 1  # every bin label present
        empty_label = points[2]  # (08:00, 12:00]
        assert by_ts[empty_label]["numeric"] is None
        # nearest over the whole frame still fills the categorical:
        # label 08:00 → nearest row is hour 8 → "A"
        assert by_ts[empty_label]["category"] == "A"

    def test_skipna_matrix(self, spark, df, points):
        # bin1 (04:00,08:00] covers hours 5..8 — all null → null either way;
        # bin2 (08:00,12:00] covers hours 9..12 with one null (hour 9):
        # skipna=True → mean(10,11,12), skipna=False → null (pandas semantics)
        out_t = resample_with_dates(df, "timestamp", points, method="mean", skipna=True).collect()
        out_f = resample_with_dates(df, "timestamp", points, method="mean", skipna=False).collect()
        t = {r["timestamp"]: r["numeric"] for r in out_t}
        f = {r["timestamp"]: r["numeric"] for r in out_f}
        assert t[points[1]] is None and f[points[1]] is None
        assert t[points[2]] == pytest.approx(11.0)
        assert f[points[2]] is None
        assert f[points[5]] is not None  # clean bin unaffected


def test_m4_downsample_matches_aggregate_form(spark):
    """The point-explosion form agrees with min/max/first/last aggregates
    computed in a single resample pass (the gate query's M4 columns)."""
    from time_series_loader_spark.operators.resample import m4_downsample

    rows = [
        (datetime(2023, 1, 1, 0, m), v)
        for m, v in [(5, 3.0), (10, 9.0), (20, 1.0), (40, 7.0), (50, 5.0)]
    ] + [(datetime(2023, 1, 1, 1, 15), 2.0)]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, value DOUBLE")
    pts = m4_downsample(df, "ts", "value", "1h")
    got = {
        (r["bucket_ts"], r["role"]): (r["ts"], r["value"]) for r in pts.collect()
    }
    b0 = datetime(2023, 1, 1, 0)
    assert got[(b0, "first")] == (datetime(2023, 1, 1, 0, 5), 3.0)
    assert got[(b0, "min")] == (datetime(2023, 1, 1, 0, 20), 1.0)
    assert got[(b0, "max")] == (datetime(2023, 1, 1, 0, 10), 9.0)
    assert got[(b0, "last")] == (datetime(2023, 1, 1, 0, 50), 5.0)
    b1 = datetime(2023, 1, 1, 1)
    # single-point bucket: all four roles collapse onto the same point
    assert all(got[(b1, r)] == (datetime(2023, 1, 1, 1, 15), 2.0)
               for r in ("first", "min", "max", "last"))

    agg = resample(
        df, "ts", "1h", method="min", value_cols=["value"],
        extra_aggs={"vmax": ("value", "max"),
                    "vfirst": ("value", "first"), "vlast": ("value", "last")},
    )
    for r in agg.collect():
        b = r["ts"]
        assert got[(b, "min")][1] == r["value"]
        assert got[(b, "max")][1] == r["vmax"]
        assert got[(b, "first")][1] == r["vfirst"]
        assert got[(b, "last")][1] == r["vlast"]


def test_m4_downsample_tie_and_null_rules(spark):
    from time_series_loader_spark.operators.resample import m4_downsample

    rows = [
        (datetime(2023, 1, 1, 0, 10), 5.0),   # min tie (earlier)
        (datetime(2023, 1, 1, 0, 20), None),  # nulls never become points
        (datetime(2023, 1, 1, 0, 30), 5.0),   # min tie (later) = max tie
        (datetime(2023, 1, 1, 2, 0), None),   # all-null bucket → no rows
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, value DOUBLE")
    got = {
        (r["bucket_ts"], r["role"]): r["ts"]
        for r in m4_downsample(df, "ts", "value", "1h").collect()
    }
    b0 = datetime(2023, 1, 1, 0)
    assert got[(b0, "min")] == datetime(2023, 1, 1, 0, 10)   # earliest wins
    assert got[(b0, "max")] == datetime(2023, 1, 1, 0, 30)   # latest wins
    assert len(got) == 4  # only bucket 0 emits; the all-null bucket is absent


def test_m4_downsample_grouped(spark):
    from time_series_loader_spark.operators.resample import m4_downsample

    rows = [
        ("a", datetime(2023, 1, 1, 0, 1), 1.0),
        ("a", datetime(2023, 1, 1, 0, 2), 9.0),
        ("b", datetime(2023, 1, 1, 0, 3), 4.0),
    ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, value DOUBLE")
    out = m4_downsample(df, "ts", "value", "1h", group_cols=["k"])
    per_key = {}
    for r in out.collect():
        per_key.setdefault(r["k"], set()).add((r["role"], r["value"]))
    assert per_key["a"] == {("first", 1.0), ("min", 1.0), ("max", 9.0), ("last", 9.0)}
    assert per_key["b"] == {("first", 4.0), ("min", 4.0), ("max", 4.0), ("last", 4.0)}
