"""The engine facade: ``TimeSeriesLoader`` ≈ the reference's ``FileDataFrame``.

Parity target: reference ``load_file.py:54-146`` (ctor + configs + state),
``initialize_processing`` (``load_file.py:1263-1323``), factories
``from_directory``/``from_files`` (``load_file.py:621-782``),
``analyze_time_series_continuity`` (``load_file.py:2024-2125``),
``resample_time_series`` (``load_file.py:2241-2360``), processing summary
(``load_file.py:1215-1261``).

Architecture difference (deliberate): where the reference eagerly
materializes a pandas frame per stage, this facade only *plans*. Discovery,
metadata extraction, and sequence validation are driver-side over the path
list; ``initialize()`` composes one lazy DataFrame; actions happen when the
caller writes/collects. ``self.dataframe`` is a logical plan, not data.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_loader_spark.config import (
    ColumnNamingConfig,
    FileDiscoveryConfig,
    LoadingConfig,
    TimeSeriesConfig,
)
from time_series_loader_spark.errors import ErrorLedger, ErrorSeverity
from time_series_loader_spark.operators.continuity import (
    continuity_stats,
    find_gaps,
    infer_frequency_seconds,
)
from time_series_loader_spark.operators.fill import bfill, ffill
from time_series_loader_spark.operators.grid import reindex_to_grid
from time_series_loader_spark.operators.interpolate import interpolate_time
from time_series_loader_spark.operators.resample import resample
from time_series_loader_spark.plans.hooks import PostProcessingHook, apply_hooks
from time_series_loader_spark.sources.csv import load_csv_timeseries, validate_headers
from time_series_loader_spark.sources.discovery import discover_files
from time_series_loader_spark.sources.metadata import (
    FileMeta,
    MetadataExtractor,
    extract_metadata,
)
from time_series_loader_spark.sources.validation import is_valid_sequence


class TimeSeriesLoader:
    def __init__(
        self,
        spark: SparkSession,
        base_path: Optional[str] = None,
        files: Optional[Sequence[str]] = None,
        discovery: Optional[FileDiscoveryConfig] = None,
        loading: Optional[LoadingConfig] = None,
        naming: Optional[ColumnNamingConfig] = None,
        ts_config: Optional[TimeSeriesConfig] = None,
        extractor: Optional[MetadataExtractor] = None,
        hooks: Sequence[PostProcessingHook] = (),
    ) -> None:
        if (base_path is None) == (files is None):
            raise ValueError("provide exactly one of base_path or files")
        self.spark = spark
        self.base_path = base_path
        self.files = list(files) if files else None
        self.discovery = discovery or FileDiscoveryConfig()
        self.loading = loading or LoadingConfig()
        self.naming = naming or ColumnNamingConfig()
        self.ts_config = ts_config or TimeSeriesConfig()
        self.extractor = extractor
        self.hooks = list(hooks)
        self.ledger = ErrorLedger()

        self.valid_paths: list[str] = []
        self.metas: list[FileMeta] = []
        self.dataframe: Optional[DataFrame] = None
        self.discovery_stats = None
        self.sequence_valid: Optional[bool] = None
        self.sequence_messages: list[str] = []
        self._analysis: Optional[dict] = None

    # --- factories (reference load_file.py:621-782) ----------------------

    @classmethod
    def from_directory(cls, spark: SparkSession, base_path: str, **kw) -> "TimeSeriesLoader":
        return cls(spark, base_path=base_path, **kw)

    @classmethod
    def from_files(cls, spark: SparkSession, files: Sequence[str], **kw) -> "TimeSeriesLoader":
        return cls(spark, files=files, **kw)

    @staticmethod
    def from_buffers(
        spark: SparkSession,
        buffers: Sequence[tuple[str, bytes]],
        loading=None,
        naming=None,
        extractor=None,
    ) -> DataFrame:
        """S3: in-memory named CSV uploads (the Streamlit path) → one
        DataFrame through the standard transforms."""
        from time_series_loader_spark.sources.memory import load_buffers

        return load_buffers(spark, buffers, loading, naming, extractor)

    # --- pipeline (reference load_file.py:1263-1323) ---------------------

    def initialize(self) -> DataFrame:
        """discover → extract metadata → validate sequence → compose plan."""
        ext = None
        if self.discovery.file_pattern:
            ext = "." + self.discovery.file_pattern.rsplit(".", 1)[-1] if "." in self.discovery.file_pattern else None
        paths, stats = discover_files(
            base_path=self.base_path,
            files=self.files,
            pattern=self.discovery.file_pattern,
            recursive=self.discovery.recursive,
            extension=ext,
            require_nonempty=self.discovery.require_nonempty,
            path_filter=self.discovery.path_filter,
        )
        self.discovery_stats = stats

        self.metas, meta_errors = extract_metadata(paths, self.extractor)
        for p, msg in meta_errors:
            self.ledger.record(
                ErrorSeverity.WARNING, "metadata_extraction_failed", msg, file=p
            )
        if self.extractor is not None:
            # files whose names don't parse are excluded from the load
            good = {m.filepath for m in self.metas}
            paths = [p for p in paths if p in good]

        self.sequence_valid, self.sequence_messages = is_valid_sequence(
            self.metas, self.ts_config
        )
        if not self.sequence_valid:
            for m in self.sequence_messages:
                self.ledger.record(ErrorSeverity.ERROR, "sequence_validation", m)
            if self.ts_config.fail_on_validation_error:
                raise ValueError(
                    "time-series sequence validation failed: "
                    + "; ".join(self.sequence_messages)
                )

        if getattr(self.loading, "format", "csv") == "csv":
            ok_paths, rejects = validate_headers(
                paths, self.loading.delimiter, self.loading.encoding
            )
            for p, reason in rejects.items():
                self.ledger.record(
                    ErrorSeverity.ERROR, "schema_congruence", reason, file=p
                )
            if not ok_paths:
                raise ValueError("no files conform to the first-file schema contract")
        else:
            ok_paths = paths  # typed formats: Spark enforces schema merge
        self.valid_paths = ok_paths

        df = load_csv_timeseries(
            self.spark,
            ok_paths,
            self.loading,
            self.naming,
            metas=[m for m in self.metas if m.filepath in set(ok_paths)],
        )
        df = apply_hooks(df, self.hooks, context={}, ledger=self.ledger)
        self.dataframe = df
        return df

    def get_dataframe(self) -> DataFrame:
        if self.dataframe is None:
            raise RuntimeError("call initialize() first")
        return self.dataframe

    # --- analytics (reference load_file.py:2024-2125) --------------------

    def _ts_col(self, time_column: Optional[str]) -> str:
        df = self.get_dataframe()
        if time_column:
            return time_column
        if self.loading.timestamp_column:
            return self.loading.timestamp_column
        for c, t in df.dtypes:
            if t.startswith("timestamp") and c not in (
                "file_start_time",
                "file_end_time",
            ):
                return c  # P8 auto-detect: first timestamp column
        raise ValueError("no timestamp column found")

    def analyze_continuity(
        self,
        time_column: Optional[str] = None,
        expected_frequency: Optional[str | int] = None,
        min_gap_size: str | int = 0,
        exact: bool = True,
    ) -> dict:
        """``exact=False`` switches frequency inference to the bounded-
        memory percentile sketch — pass it when the series is huge."""
        df = self.get_dataframe()
        ts = self._ts_col(time_column)
        freq_s = None
        if expected_frequency is not None:
            from time_series_loader_spark.functions.frequency import freq_to_seconds

            freq_s = freq_to_seconds(expected_frequency)
        elif not exact:
            freq_s = infer_frequency_seconds(df, ts, exact=False).collect()[0][0]
        # with no frequency given, the statistics infer the exact median
        # in their own action and return it as freq_seconds
        stats_row = continuity_stats(df, ts, freq_s, min_gap_size).collect()[0]
        if freq_s is None:
            freq_s = stats_row["freq_seconds"]
        gaps = find_gaps(df, ts, freq_s, min_gap_size).collect()
        self._analysis = {
            "time_column": ts,
            "inferred_frequency_seconds": float(freq_s),
            "start_time": stats_row["start_time"],
            "end_time": stats_row["end_time"],
            "n_rows": stats_row["n_rows"],
            "n_gaps": stats_row["n_gaps"],
            "gap_seconds_total": stats_row["gap_seconds_total"],
            "coverage_pct": stats_row["coverage_pct"],
            "gaps": [
                {
                    "start": g["gap_start"],
                    "end": g["gap_end"],
                    "seconds": g["gap_seconds"],
                    "expected_points": g["expected_points"],
                }
                for g in gaps
            ],
        }
        return self._analysis

    # --- resample (reference load_file.py:2241-2360) ---------------------

    def resample(
        self,
        time_column: Optional[str] = None,
        frequency: Optional[str | int] = None,
        method_resample: Optional[str] = None,
        method_fill: Optional[str] = None,
        limit: Optional[int] = None,
        include_all_gaps: bool = True,
        max_gap_size: Optional[str | int] = None,
    ) -> DataFrame:
        # DIVERGENCE (documented, like concat_metadata min/max): with
        # include_all_gaps=False we exclude gaps LARGER than max_gap_size —
        # the reference docstring's stated intent. The reference
        # implementation (load_file.py:2309-2329) inverts the comparison and
        # excludes gaps SMALLER than max_gap_size, which would re-grid only
        # the already-dense regions; we follow the docstring, not the bug.
        df = self.get_dataframe()
        ts = self._ts_col(time_column)
        if self._analysis is None:
            self.analyze_continuity(ts)
        freq = frequency or int(self._analysis["inferred_frequency_seconds"])

        segments = None
        if not include_all_gaps and max_gap_size is not None:
            from time_series_loader_spark.functions.frequency import freq_to_seconds

            max_gap_s = freq_to_seconds(max_gap_size)
            big = [g for g in self._analysis["gaps"] if g["seconds"] > max_gap_s]
            if big:
                segments = self._segments_excluding(big)

        if method_resample is None or method_resample == "first":
            out = reindex_to_grid(df, ts, freq, segments=segments)
        else:
            out = resample(df, ts, freq, method=method_resample)

        value_cols = [c for c, t in out.dtypes if c != ts and t in ("double", "bigint", "int", "float")]
        if method_fill == "ffill":
            out = ffill(out, ts, value_cols, limit=limit)
        elif method_fill == "bfill":
            out = bfill(out, ts, value_cols, limit=limit)
        elif method_fill in ("interpolate", "time"):
            out = interpolate_time(out, ts, value_cols, limit=limit)
        # user-facing result is time-ordered (operators themselves skip the
        # sort so composed plans don't pay redundant range exchanges)
        return out.orderBy(ts)

    def _segments_excluding(self, gaps: list[dict]) -> list[tuple[datetime, datetime]]:
        """Continuous segments between large gaps (reference 2309-2329)."""
        start = self._analysis["start_time"]
        end = self._analysis["end_time"]
        segs = []
        cur = start
        for g in sorted(gaps, key=lambda g: g["start"]):
            segs.append((cur, g["start"]))
            cur = g["end"]
        segs.append((cur, end))
        return segs

    # --- concat metadata (A7, reference load_file.py:1863-1878) ----------

    def concat_metadata(self) -> dict:
        """total_rows / total_files / time bounds. Divergence note: the
        reference computes ``end_time`` with ``min`` (upstream bug,
        ``load_file.py:1873-1875``); we use ``max``. Memory usage is not
        meaningful for a distributed plan — input bytes reported instead."""
        import os

        df = self.get_dataframe()
        timed = [m for m in self.metas if m.start_time is not None]
        return {
            "total_rows": df.count(),
            "total_files": len(self.valid_paths),
            "input_bytes": sum(os.path.getsize(p) for p in self.valid_paths),
            "start_time": min((m.start_time for m in timed), default=None),
            "end_time": max((m.end_time for m in timed), default=None),
        }

    # --- summary (reference load_file.py:1215-1261) ----------------------

    def processing_summary(self) -> dict:
        return {
            "status": "initialized" if self.dataframe is not None else "created",
            "files_discovered": self.discovery_stats.total_candidates
            if self.discovery_stats
            else 0,
            "files_valid": len(self.valid_paths),
            "files_invalid": (self.discovery_stats.invalid if self.discovery_stats else 0),
            "sequence_valid": self.sequence_valid,
            "n_columns": len(self.dataframe.columns) if self.dataframe is not None else 0,
            "errors": self.ledger.report()["by_severity"],
        }
