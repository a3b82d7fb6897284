"""F1/F2/F5 source-layer tests: discovery, metadata, validation, CSV load."""

import contextlib
from datetime import datetime, timedelta

import pytest

from time_series_loader_spark.config import (
    ColumnNamingConfig,
    LoadingConfig,
    TimeSeriesConfig,
    ValidationStrategy,
)
from time_series_loader_spark.plans.loader import TimeSeriesLoader
from time_series_loader_spark.session import scoped_conf
from time_series_loader_spark.sources.csv import (
    clean_column_name,
    header_schema,
    load_csv_timeseries,
    load_csv_with_bad_records,
    read_header,
    type_columns,
    validate_headers,
)
from time_series_loader_spark.sources.discovery import discover_files
from time_series_loader_spark.sources.metadata import (
    TimeMetadataExtractor,
    extract_metadata,
)
from time_series_loader_spark.sources.validation import (
    coverage_report,
    is_valid_sequence,
    validate_file_sequence,
)


def _write(p, text):
    p.write_text(text, encoding="utf-8")
    return str(p)


@pytest.fixture()
def f5_dir(tmp_path):
    """F5: timestamp-named files + decoys."""
    content = "col1;col2\n1;2\n3;4\n"
    for day in (1, 2, 3):
        name = (
            f"E1 1A - Data - 01-0{day}-2023 00_00_00 - 01-0{day}-2023 23_59_59.csv"
        )
        _write(tmp_path / name, content)
    _write(tmp_path / "invalid_file.csv", content)          # no timestamps
    _write(tmp_path / "notes.txt", "hello")                  # wrong extension
    (tmp_path / "empty.csv").touch()                         # zero-byte
    return tmp_path


class TestDiscovery:
    def test_glob_and_filters(self, f5_dir):
        paths, stats = discover_files(base_path=str(f5_dir))
        names = [p.split("/")[-1] for p in paths]
        assert len(paths) == 4  # 3 timestamped + invalid_file.csv
        assert "notes.txt" not in names
        assert "empty.csv" not in names
        assert stats.invalid == 1 and stats.invalid_reasons  # empty.csv

    def test_empty_dir_raises(self, tmp_path):
        with pytest.raises(FileNotFoundError):
            discover_files(base_path=str(tmp_path))

    def test_exclusive_sources(self, f5_dir):
        with pytest.raises(ValueError):
            discover_files(base_path=str(f5_dir), files=["x.csv"])
        with pytest.raises(ValueError):
            discover_files()

    def test_direct_files_sorted_and_checked(self, f5_dir):
        some = sorted(str(p) for p in f5_dir.glob("*.csv"))[:2]
        paths, _ = discover_files(files=list(reversed(some)))
        assert paths == some
        with pytest.raises(FileNotFoundError):
            discover_files(files=[str(f5_dir / "missing.csv")])


class TestMetadata:
    def test_time_extractor(self, f5_dir):
        paths, _ = discover_files(base_path=str(f5_dir))
        metas, errors = extract_metadata(paths, TimeMetadataExtractor())
        timed = [m for m in metas if m.start_time]
        assert len(timed) == 3
        assert [m.start_time for m in timed] == sorted(m.start_time for m in timed)
        assert timed[0].start_time == datetime(2023, 1, 1)
        assert timed[0].end_time == datetime(2023, 1, 1, 23, 59, 59)
        assert len(errors) == 1  # invalid_file.csv

    def test_sequence_validation_strategies(self):
        from time_series_loader_spark.sources.metadata import FileMeta

        contiguous = [
            FileMeta("a.csv", datetime(2023, 1, 1), datetime(2023, 1, 1, 23, 59, 59)),
            FileMeta("b.csv", datetime(2023, 1, 2), datetime(2023, 1, 2, 23, 59, 59)),
        ]
        gap_cfg = TimeSeriesConfig(strategy=ValidationStrategy.STRICT,
                                   max_allowed_gap=timedelta(seconds=0))
        issues = validate_file_sequence(contiguous, gap_cfg)
        assert len(issues) == 1 and issues[0].kind == "gap"
        assert issues[0].duration == timedelta(seconds=1)

        valid, msgs = is_valid_sequence(contiguous, gap_cfg)
        assert not valid and "gap" in msgs[0]

        lenient = TimeSeriesConfig(strategy=ValidationStrategy.LENIENT)
        assert is_valid_sequence(contiguous, lenient)[0]  # gaps OK in LENIENT

        overlapping = [
            FileMeta("a.csv", datetime(2023, 1, 1), datetime(2023, 1, 2, 12)),
            FileMeta("b.csv", datetime(2023, 1, 2), datetime(2023, 1, 3)),
        ]
        assert not is_valid_sequence(overlapping, lenient)[0]
        none_cfg = TimeSeriesConfig(strategy=ValidationStrategy.NONE)
        assert is_valid_sequence(overlapping, none_cfg)[0]

    def test_coverage_report(self):
        from time_series_loader_spark.sources.metadata import FileMeta

        metas = [
            FileMeta("a.csv", datetime(2023, 1, 1), datetime(2023, 1, 2)),
            FileMeta("b.csv", datetime(2023, 1, 3), datetime(2023, 1, 4)),
        ]
        rep = coverage_report(metas, TimeSeriesConfig())
        assert rep["span"] == timedelta(days=3)
        assert rep["covered"] == timedelta(days=2)
        assert rep["coverage_pct"] == pytest.approx(200 / 3)
        assert len(rep["gaps"]) == 1


class TestCsvLoad:
    def test_header_and_freeze(self, tmp_path):
        a = _write(tmp_path / "a.csv", "x;y;t\n1;2;01/01/2023 10:00\n")
        b = _write(tmp_path / "b.csv", "x;y;t\n3;4;01/01/2023 11:00\n")
        c = _write(tmp_path / "c.csv", "x;z\n5;6\n")  # mismatched schema
        assert read_header(a) == ["x", "y", "t"]
        ok, rejects = validate_headers([a, b, c], ";", "utf-8")
        assert ok == [a, b]
        assert "schema_mismatch" in rejects[c]

    def test_clean_column_name(self):
        naming = ColumnNamingConfig(clean_names=True, rename_map={"Value": "V"})
        assert clean_column_name(" Type1 SubType - Column1 - Value ", naming) == "V"
        assert clean_column_name("Extra - Data", naming) == "Data"
        assert clean_column_name("plain", naming) == "plain"

    def test_f2_load_concat_sort(self, spark, tmp_path):
        # F2: two files, prefixed headers, %d/%m/%Y %H:%M timestamps
        hdr = "Type1 SubType - Column1 - Value;Type1 SubType - Time;Extra - Data"
        f1 = _write(
            tmp_path / "f1.csv",
            f"{hdr}\n10;01/01/2023 11:00;x\n11;01/01/2023 10:00;y\n",
        )
        f2 = _write(
            tmp_path / "f2.csv",
            f"{hdr}\n12;01/01/2023 09:00;z\n13;01/01/2023 12:00;w\n",
        )
        df = load_csv_timeseries(
            spark,
            [f1, f2],
            LoadingConfig(timestamp_column="Time"),
            ColumnNamingConfig(clean_names=True),
        )
        assert set(df.columns) >= {"Value", "Time", "Data", "source_file"}
        rows = df.collect()
        times = [r["Time"] for r in rows]
        assert times == sorted(times)  # O1 global sort
        assert times[0] == datetime(2023, 1, 1, 9)
        assert rows[0]["Value"] == 12.0  # P1 numeric coercion
        assert rows[0]["Data"] is None  # string coerced → null (F1 semantics)
        assert rows[0]["source_file"].endswith("f2.csv")

    def test_coercion_off_keeps_strings(self, spark, tmp_path):
        f1 = _write(tmp_path / "a.csv", "v;t\n1;01/01/2023 10:00\n")
        df = load_csv_timeseries(
            spark, [f1], LoadingConfig(timestamp_column="t", coerce_numeric=False)
        )
        assert dict(df.dtypes)["v"] == "string"


# (first line, data line, LoadingConfig kwargs): header shapes where Spark's
# own naming differs from the raw text, plus options that change parsing
HEADER_CASES = {
    "utf8_bom": ("\ufeffa;b", "1;2", {}),
    "empty_field": ("a;;c", "1;2;3", {}),
    "case_duplicates": ("val;VAL;x", "1;2;3", {}),
    "no_header": ("1;2;3", "4;5;6", {"header": False}),
    "decimal_comma": ("a;b", "1,5;2,25", {"decimal": ","}),
    "quoted_delimiter": ('"a;b";c', "1;2", {}),
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_header_schema_matches_spark_inference(spark, tmp_path, case):
    first, data, kw = HEADER_CASES[case]
    paths = [_write(tmp_path / f"{i}.csv", f"{first}\n{data}\n") for i in range(2)]
    loading = LoadingConfig(add_lineage=False, **kw)
    got = load_csv_timeseries(spark, paths, loading)
    inferred = (
        spark.read.option("header", str(loading.header).lower())
        .option("sep", loading.delimiter)
        .csv(paths)
    )
    want, _ = type_columns(inferred, loading)
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_header_schema_case_sensitive_keeps_case_variants():
    names = [f.name for f in header_schema(["v", "V", "v", ""], True, True).fields]
    assert names == ["v0", "V", "v2", "_c3"]


def test_initialize_starts_no_spark_job(spark, tmp_path):
    # above the 32-path threshold at which Spark lists files with a job
    paths = [
        _write(tmp_path / f"s{i:03d}.csv", f"Time;v\n01/01/2023 {i % 24:02d}:00;{i}\n")
        for i in range(240)
    ]
    sc = spark.sparkContext

    def jobs_in(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    loader = TimeSeriesLoader.from_files(spark, paths)
    assert jobs_in("tsl-initialize", loader.initialize) == []
    assert loader.valid_paths == paths
    # the count is not vacuous: an action under a group is seen
    assert jobs_in("tsl-action", spark.range(1).count)


LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    spark.conf.set("spark.tsl.test.set", "before")
    try:
        for fail in (False, True):
            with pytest.raises(RuntimeError) if fail else contextlib.nullcontext():
                pin = {"spark.tsl.test.set": "in", "spark.tsl.test.unset": "in"}
                with scoped_conf(spark, pin):
                    assert spark.conf.get("spark.tsl.test.set") == "in"
                    assert spark.conf.get("spark.tsl.test.unset") == "in"
                    if fail:
                        raise RuntimeError("read failed")
            assert spark.conf.get("spark.tsl.test.set") == "before"
            assert spark.conf.get("spark.tsl.test.unset", None) is None
    finally:
        spark.conf.unset("spark.tsl.test.set")


def test_reads_restore_listing_threshold(spark, tmp_path):
    ok = _write(tmp_path / "a.csv", "v;t\n1;2\n")
    missing = str(tmp_path / "missing.csv")
    prior = spark.conf.get(LISTING, None)
    try:
        for before in ("7", None):
            if before is None:
                spark.conf.unset(LISTING)
            else:
                spark.conf.set(LISTING, before)
            load_csv_timeseries(spark, [ok], LoadingConfig())
            assert spark.conf.get(LISTING, None) == before
            with pytest.raises(Exception, match="PATH_NOT_FOUND"):
                load_csv_with_bad_records(spark, [missing], "v STRING, t STRING")
            assert spark.conf.get(LISTING, None) == before
    finally:
        if prior is None:
            spark.conf.unset(LISTING)
        else:
            spark.conf.set(LISTING, prior)
