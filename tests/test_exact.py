"""The exact-accumulation contract (functions/exact.py): the µunit twin
and the streaming aggregates that share the batch value rules."""

import math
from datetime import datetime, timedelta

import pytest

from time_series_loader_spark.functions.exact import micro_units
from time_series_loader_spark.streaming.ingest import (
    session_window_stream,
    windowed_resample_stream,
)


def test_micro_units_rounds_half_away_from_zero():
    assert micro_units(1.0000005, 1e21) == 1_000_001
    assert micro_units(-1.0000005, 1e21) == -1_000_001  # HALF_UP, not floor(x+0.5)
    assert micro_units(0.0, 1e21) == 0
    assert micro_units(2.5e-7, 1e21) == 0


@pytest.mark.parametrize("v", [math.nan, math.inf, -math.inf, 1e12, -1e12])
def test_micro_units_unusable_readings_are_none(v):
    assert micro_units(v, 1e12) is None


def test_stream_aggregates_treat_nan_as_missing(spark):
    # the streaming aggregates are plain aggregates: on a batch frame the
    # watermark is inert, so their value rules are checked without a drain
    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(minutes=m), v) for m, v in ((0, 1.0), (5, math.nan), (10, 2.0))]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    (w,) = windowed_resample_stream(df, "ts", "1 hour", "v").collect()
    assert (w["n"], w["value_mean"]) == (2, pytest.approx(1.5))
    (s,) = session_window_stream(df, "ts", ["k"], value_col="v").collect()
    assert (s["n_events"], s["value_sum"]) == (3, pytest.approx(3.0))


def test_inf_false_drops_inf_like_nan(spark):
    # the SQL-mirroring form: no ±Inf flag, so the cast nulls Inf as it nulls NaN
    from pyspark.sql import functions as F

    from time_series_loader_spark.functions.exact import exact_mean, exact_sum

    df = spark.createDataFrame([(1.0,), (math.inf,), (math.nan,), (2.0,)], "v DOUBLE")
    v = F.col("v")
    (r,) = df.agg(exact_sum(v, inf=False), exact_mean(v, inf=False), exact_sum(v)).collect()
    assert tuple(r) == (3.0, 1.5, math.inf)
