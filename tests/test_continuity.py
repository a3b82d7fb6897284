"""F3 continuity analysis: frequency inference, gap enumeration, coverage."""

from datetime import datetime, timedelta

import pandas as pd
import pytest

from time_series_loader_spark.operators.continuity import (
    continuity_stats,
    find_gaps,
    infer_frequency_seconds,
)


@pytest.fixture()
def gapped_df(spark):
    # F3: 25 hourly rows, drop indices 5:7 (2h gap) and 15:20 (5h gap)
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), float(i))
        for i in range(25)
        if not (5 <= i < 7 or 15 <= i < 20)
    ]
    return spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")


def test_infer_frequency(spark, gapped_df):
    freq = infer_frequency_seconds(gapped_df, "timestamp").collect()[0][0]
    assert freq == 3600.0


def test_find_gaps(spark, gapped_df):
    gaps = find_gaps(gapped_df, "timestamp", expected_freq=3600).collect()
    assert len(gaps) == 2
    by_start = {g["gap_start"]: g for g in gaps}
    g1 = by_start[datetime(2023, 1, 1, 4)]
    assert g1["gap_end"] == datetime(2023, 1, 1, 7)
    assert g1["gap_seconds"] == 3 * 3600
    assert g1["expected_points"] == 2
    g2 = by_start[datetime(2023, 1, 1, 14)]
    assert g2["expected_points"] == 5


def test_stats_coverage(spark, gapped_df):
    s = continuity_stats(gapped_df, "timestamp", expected_freq=3600).collect()[0]
    assert s["n_rows"] == 18
    assert s["n_gaps"] == 2
    assert s["gap_seconds_total"] == (3 + 6) * 3600
    assert s["span_seconds"] == 24 * 3600
    assert 0 < s["coverage_pct"] < 100


def test_no_gaps_full_coverage(spark):
    rows = [(datetime(2023, 1, 1) + timedelta(hours=i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")
    s = continuity_stats(df, "ts", expected_freq=3600).collect()[0]
    assert s["n_gaps"] == 0
    assert s["coverage_pct"] == 100.0


def test_grouped_gaps(spark):
    rows = []
    for k in ("a", "b"):
        for i in range(6):
            if k == "b" and i == 3:
                continue  # gap only in series b
            rows.append((k, datetime(2023, 1, 1) + timedelta(hours=i), 1.0))
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    gaps = find_gaps(df, "ts", expected_freq=3600, group_cols=["k"]).collect()
    assert len(gaps) == 1 and gaps[0]["k"] == "b"


def test_distributed_prev_matches_single_window(spark):
    """Unkeyed diff must equal the naive global-window lag on irregular data."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from time_series_loader_spark.operators.continuity import with_time_diff

    random.seed(11)
    rows = sorted(
        (datetime(2023, 1, 1) + timedelta(seconds=random.randint(0, 10_000_000)),)
        for _ in range(500)
    )
    df = spark.createDataFrame(rows, "ts TIMESTAMP")
    naive = (
        df.withColumn(
            "d",
            F.col("ts").cast("double") - F.lag("ts").over(Window.orderBy("ts")).cast("double"),
        )
        .orderBy("ts")
        .collect()
    )
    dist = (
        with_time_diff(df, "ts", num_buckets=7).orderBy("ts").collect()
    )
    assert [r["d"] for r in naive] == [r["diff_seconds"] for r in dist]


def test_distributed_prev_degenerate_cases(spark):
    from time_series_loader_spark.operators.continuity import with_time_diff

    # all-equal timestamps → span 0 → falls back to single window
    df = spark.createDataFrame([(datetime(2023, 1, 1),)] * 3, "ts TIMESTAMP")
    out = with_time_diff(df, "ts").collect()
    assert sorted(r["diff_seconds"] for r in out if r["diff_seconds"] is not None) == [0.0, 0.0]

    # single row
    df1 = spark.createDataFrame([(datetime(2023, 1, 1),)], "ts TIMESTAMP")
    assert with_time_diff(df1, "ts").collect()[0]["diff_seconds"] is None


def test_sub_second_steps_match_pandas(spark):
    """µs-fraction steps: frequency, gaps and coverage equal pandas'
    ``diff().dt.total_seconds()`` arithmetic, keyed and unkeyed."""
    offs = [0, 100001, 200003, 300004, 2000007]
    ts = [datetime(2023, 1, 1) + timedelta(microseconds=o) for o in offs]
    d = pd.Series(pd.to_datetime(ts)).diff().dt.total_seconds().dropna()
    gaps = d[d > 0.1]
    assert d.median() == pytest.approx(0.1000015, rel=1e-12)
    assert list(gaps) == [0.100001, 0.100002, 0.100001, 1.700003]
    for keys in ([], ["k"]):
        rows = [(k, t) for k in ("a", "b")[: len(keys) + 1] for t in ts]
        df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP")
        freq = infer_frequency_seconds(df, "ts", keys).collect()
        assert [r["freq_seconds"] for r in freq] == [pytest.approx(d.median(), rel=1e-12)] * len(freq)
        got = find_gaps(df, "ts", expected_freq=0.1, group_cols=keys).orderBy(*keys, "gap_end")
        per_series = [(r["gap_seconds"], r["expected_points"]) for r in got.collect()]
        assert per_series == [(g, int(g / 0.1) - 1) for g in gaps] * len(freq)
        assert [p for _, p in per_series[:4]] == [0, 0, 0, 16]
        for s in continuity_stats(df, "ts", 0.1, group_cols=keys).collect():
            assert s["n_gaps"] == 4
            assert s["gap_seconds_total"] == pytest.approx(gaps.sum(), rel=1e-12)
            assert s["span_seconds"] == pytest.approx(2.000007, rel=1e-12)
            assert s["coverage_pct"] == pytest.approx(0.0, abs=1e-12)
        inferred = continuity_stats(df, "ts", None, group_cols=keys).collect()
        assert [r["freq_seconds"] for r in inferred] == [pytest.approx(d.median(), rel=1e-12)] * len(freq)
