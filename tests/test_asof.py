"""Nearest/backward/forward as-of join vs pd.merge_asof."""

import math
from datetime import datetime, timedelta

import pandas as pd
import pytest

from time_series_loader_spark.operators.asof import asof_nearest

DATA = [(datetime(2023, 1, 1, h, m), float(h * 100 + m)) for h, m in
        [(0, 5), (0, 50), (1, 30), (3, 10), (3, 50)]]
TARGETS = [datetime(2023, 1, 1, h) for h in range(5)]


def _frames(spark):
    data = spark.createDataFrame(DATA, "ts TIMESTAMP, value DOUBLE")
    targets = spark.createDataFrame([(t,) for t in TARGETS], "ts TIMESTAMP")
    return targets, data


@pytest.mark.parametrize("direction", ["nearest", "backward", "forward"])
def test_matches_merge_asof(spark, direction):
    targets, data = _frames(spark)
    out = {
        r["ts"]: r["value"]
        for r in asof_nearest(targets, data, "ts", ["value"], direction=direction).collect()
    }
    left = pd.DataFrame({"ts": pd.to_datetime(TARGETS)})
    right = pd.DataFrame(DATA, columns=["ts", "value"]).sort_values("ts")
    exp = pd.merge_asof(left, right, on="ts", direction=direction)
    for _, row in exp.iterrows():
        g = out[row["ts"].to_pydatetime()]
        if pd.isna(row["value"]):
            assert g is None
        else:
            assert g == pytest.approx(row["value"])


def test_tolerance(spark):
    targets, data = _frames(spark)
    out = {
        r["ts"]: r["value"]
        for r in asof_nearest(
            targets, data, "ts", ["value"], direction="nearest", tolerance_seconds=600
        ).collect()
    }
    # 02:00 has no event within 10 min → null
    assert out[datetime(2023, 1, 1, 2)] is None
    # 00:00 nearest is 00:05 (300s) → kept
    assert out[datetime(2023, 1, 1, 0)] == pytest.approx(5.0)
    # a neighbour exactly at a sub-second tolerance is kept (pandas rule):
    # distances compare in integer µs, not double epochs
    data, targets = _equidistant(spark)
    back = asof_nearest(
        targets, data, "ts", ["value"], direction="backward", tolerance_seconds=9.549657
    ).collect()
    assert back[0]["value"] == 1.0


def _equidistant(spark):
    """Rows 9.549657 s either side of a µs-fraction target: a double epoch
    at 2023 dates rounds the two distances apart."""
    target = datetime(2023, 1, 1, 0, 2, 24, 272509)
    step = timedelta(seconds=9, microseconds=549657)
    data = spark.createDataFrame(
        [(target - step, 1.0), (target + step, 2.0)], "ts TIMESTAMP, value DOUBLE"
    )
    return data, spark.createDataFrame([(target,)], "ts TIMESTAMP")


def test_tie_prefers_earlier(spark):
    data = spark.createDataFrame(
        [(datetime(2023, 1, 1, 0, 0), 1.0), (datetime(2023, 1, 1, 2, 0), 2.0)],
        "ts TIMESTAMP, value DOUBLE",
    )
    targets = spark.createDataFrame([(datetime(2023, 1, 1, 1, 0),)], "ts TIMESTAMP")
    for d, t in ((data, targets), _equidistant(spark)):
        out = asof_nearest(t, d, "ts", ["value"]).collect()
        assert out[0]["value"] == 1.0


def test_row_level_match_with_null_values(spark):
    """merge_asof semantics: the nearest ROW's value is returned even when
    that value is null (not the nearest non-null value)."""
    data = spark.createDataFrame(
        [(datetime(2023, 1, 1, 0), 1.0), (datetime(2023, 1, 1, 2), None),
         (datetime(2023, 1, 1, 4), 4.0)],
        "ts TIMESTAMP, value DOUBLE",
    )
    targets = spark.createDataFrame(
        [(datetime(2023, 1, 1, 2, 10),)], "ts TIMESTAMP"
    )
    out = asof_nearest(targets, data, "ts", ["value"], direction="backward").collect()
    assert out[0]["value"] is None  # nearest row at 02:00 has null value


def test_distributed_buckets_match_merge_asof(spark):
    """Bucketed unkeyed path must equal pd.merge_asof across bucket
    boundaries (targets in buckets with no data rows)."""
    data_rows = [(datetime(2023, 1, 1) + timedelta(minutes=m), float(m)) for m in (0, 5, 250, 255)]
    target_ts = [datetime(2023, 1, 1) + timedelta(minutes=m) for m in (1, 60, 120, 200, 251, 300)]
    data = spark.createDataFrame(data_rows, "ts TIMESTAMP, value DOUBLE")
    targets = spark.createDataFrame([(t,) for t in target_ts], "ts TIMESTAMP")
    for direction in ("nearest", "backward", "forward"):
        got = {
            r["ts"]: r["value"]
            for r in asof_nearest(
                targets, data, "ts", ["value"], direction=direction, num_buckets=6
            ).collect()
        }
        exp = pd.merge_asof(
            pd.DataFrame({"ts": pd.to_datetime(target_ts)}),
            pd.DataFrame(data_rows, columns=["ts", "value"]),
            on="ts",
            direction=direction,
        )
        for _, row in exp.iterrows():
            g = got[row["ts"].to_pydatetime()]
            if pd.isna(row["value"]):
                assert g is None, direction
            else:
                assert g == row["value"], direction


def test_nan_row_value_is_returned(spark):
    """Unlike the fills, the as-of match is row-level: a NaN value on the
    nearest row is returned, as pd.merge_asof does."""
    data = spark.createDataFrame(
        [(datetime(2023, 1, 1, 0), 1.0), (datetime(2023, 1, 1, 2), float("nan"))],
        "ts TIMESTAMP, value DOUBLE",
    )
    targets = spark.createDataFrame([(datetime(2023, 1, 1, 2, 10),)], "ts TIMESTAMP")
    out = asof_nearest(targets, data, "ts", ["value"], direction="backward").collect()
    assert math.isnan(out[0]["value"])
