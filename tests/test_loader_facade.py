"""End-to-end TimeSeriesLoader facade (reference initialize_processing §3.1)."""

from datetime import datetime

import pytest

from time_series_loader_spark.config import LoadingConfig, TimeSeriesConfig, ValidationStrategy
from time_series_loader_spark.plans.loader import TimeSeriesLoader
from time_series_loader_spark.sources.metadata import TimeMetadataExtractor


@pytest.fixture()
def series_dir(tmp_path):
    """3 contiguous daily files of hourly data + decoys."""
    for day in (1, 2, 3):
        name = f"E1 1A - Data - 01-0{day}-2023 00_00_00 - 01-0{day}-2023 23_59_59.csv"
        lines = ["value;Time"]
        for h in range(0, 24, 2):  # every 2 hours
            lines.append(f"{day * 100 + h};0{day}/01/2023 {h:02d}:00")
        (tmp_path / name).write_text("\n".join(lines) + "\n")
    (tmp_path / "empty.csv").touch()
    (tmp_path / "notes.txt").write_text("x")
    return tmp_path


def test_initialize_end_to_end(spark, series_dir):
    loader = TimeSeriesLoader.from_directory(
        spark,
        str(series_dir),
        loading=LoadingConfig(timestamp_column="Time"),
        extractor=TimeMetadataExtractor(),
        ts_config=TimeSeriesConfig(strategy=ValidationStrategy.LENIENT),
    )
    df = loader.initialize()
    rows = df.collect()
    assert len(rows) == 36  # 3 files × 12 rows
    times = [r["Time"] for r in rows]
    assert times == sorted(times)
    assert rows[0]["Time"] == datetime(2023, 1, 1, 0)
    assert rows[0]["value"] == 100.0
    assert rows[0]["file_start_time"] == datetime(2023, 1, 1)
    summary = loader.processing_summary()
    assert summary["files_valid"] == 3
    assert summary["sequence_valid"] is True


def test_analyze_and_resample(spark, series_dir):
    loader = TimeSeriesLoader.from_directory(
        spark,
        str(series_dir),
        loading=LoadingConfig(timestamp_column="Time"),
        extractor=TimeMetadataExtractor(),
    )
    loader.initialize()
    analysis = loader.analyze_continuity()
    assert analysis["inferred_frequency_seconds"] == 7200.0
    assert analysis["n_rows"] == 36
    # 2h cadence with 2h inter-file steps → no gaps beyond expected
    assert analysis["n_gaps"] == 0

    out = loader.resample(frequency="1h", method_fill="ffill").collect()
    assert len(out) == 2 * 36 - 1
    vals = [r["value"] for r in out]
    assert all(v is not None for v in vals)  # ffill removed grid nulls


def test_fail_on_validation_error(spark, tmp_path):
    for day, start in ((1, "00"), (2, "12")):  # overlapping day-2 file
        name = f"X - Data - 01-0{day}-2023 00_00_00 - 01-0{day + 1}-2023 11_59_59.csv"
        (tmp_path / name).write_text("v;Time\n1;01/01/2023 10:00\n")
    loader = TimeSeriesLoader.from_directory(
        spark,
        str(tmp_path),
        loading=LoadingConfig(timestamp_column="Time"),
        extractor=TimeMetadataExtractor(),
        ts_config=TimeSeriesConfig(
            strategy=ValidationStrategy.STRICT, fail_on_validation_error=True
        ),
    )
    with pytest.raises(ValueError, match="validation failed"):
        loader.initialize()


def test_outlier_hook(spark, series_dir):
    from time_series_loader_spark.plans.hooks import OutlierRemovalHook

    loader = TimeSeriesLoader.from_directory(
        spark,
        str(series_dir),
        loading=LoadingConfig(timestamp_column="Time"),
        extractor=TimeMetadataExtractor(),
        hooks=[OutlierRemovalHook(["value"], threshold=3.0)],
    )
    df = loader.initialize()
    assert df.count() <= 36


def test_resample_excluding_large_gaps(spark, tmp_path):
    """include_all_gaps=False drops grid rows inside gaps > max_gap_size.

    DIVERGENCE (documented in loader.resample): the reference docstring says
    exclude LARGE gaps; its implementation inverts the comparison and
    excludes small ones (load_file.py:2309-2329). We follow the docstring.
    """
    for day in (1, 3):  # day 2 missing → 26h gap between the files
        name = f"E1 1A - Data - 01-0{day}-2023 00_00_00 - 01-0{day}-2023 23_59_59.csv"
        lines = ["value;Time"]
        for h in range(0, 24, 2):
            lines.append(f"{day * 100 + h};0{day}/01/2023 {h:02d}:00")
        (tmp_path / name).write_text("\n".join(lines) + "\n")
    loader = TimeSeriesLoader.from_directory(
        spark,
        str(tmp_path),
        loading=LoadingConfig(timestamp_column="Time"),
        extractor=TimeMetadataExtractor(),
        ts_config=TimeSeriesConfig(strategy=ValidationStrategy.LENIENT),
    )
    loader.initialize()
    full = loader.resample(frequency="2h").collect()
    assert len(full) == 36  # 70h span / 2h + 1: gap region gridded as nulls
    segmented = loader.resample(
        frequency="2h", include_all_gaps=False, max_gap_size="6h"
    ).collect()
    times = [r["Time"] for r in segmented]
    assert len(segmented) == 24  # 12 grid points per surviving day segment
    assert datetime(2023, 1, 2, 0) not in times  # inside the excluded gap
    # small gaps (≤ max_gap_size) are still gridded: nothing else dropped
    assert datetime(2023, 1, 1, 22) in times and datetime(2023, 1, 3, 0) in times


@pytest.mark.parametrize("bom_first", [True, False])
def test_utf8_bom_file_loads_beside_plain_file(spark, tmp_path, bom_first):
    # Spark's read strips a UTF-8 byte-order mark; the driver-side header
    # contract must too, or the BOM file is rejected as a schema mismatch
    text = {1: "value;Time\n1;01/01/2023 00:00\n", 2: "value;Time\n2;01/01/2023 01:00\n"}
    bom_day = 1 if bom_first else 2
    files = []
    for day, body in text.items():
        p = tmp_path / f"f{day}.csv"
        p.write_text(("\ufeff" if day == bom_day else "") + body, encoding="utf-8")
        files.append(str(p))
    loader = TimeSeriesLoader.from_files(
        spark, files, loading=LoadingConfig(timestamp_column="Time")
    )
    rows = loader.initialize().collect()
    assert loader.ledger.report()["total_errors"] == 0
    assert [(r["Time"], r["value"]) for r in rows] == [
        (datetime(2023, 1, 1, 0), 1.0),
        (datetime(2023, 1, 1, 1), 2.0),
    ]
