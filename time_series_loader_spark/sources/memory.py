"""In-memory upload source (S3): the Streamlit-upload equivalent.

Parity target: reference ``_validate_streamlit_files`` /
``process_streamlit_files`` (``load_file.py:889-954, 1360-1406, 1548-1583``)
— named in-memory CSV buffers validated (non-empty, filename pattern) and
loaded into the same pipeline as directory files.

Design: uploads are interactive-scale by definition (a human attached
them), so parsing happens driver-side via pandas and enters Spark through
``createDataFrame`` (Arrow). Lineage columns carry the buffer NAME, since
``input_file_name()`` has nothing to point at.
"""

from __future__ import annotations

import io
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from time_series_loader_spark.config import ColumnNamingConfig, LoadingConfig
from time_series_loader_spark.sources.csv import clean_column_name, type_columns
from time_series_loader_spark.sources.metadata import FileMeta, MetadataExtractor


def validate_buffers(
    buffers: Sequence[tuple[str, bytes]],
    extractor: Optional[MetadataExtractor] = None,
) -> tuple[list[tuple[str, bytes]], dict[str, str]]:
    """Non-empty content + (optional) filename-pattern check; returns
    (valid buffers, {name: reason})."""
    ok: list[tuple[str, bytes]] = []
    rejects: dict[str, str] = {}
    for name, content in buffers:
        if not content:
            rejects[name] = "empty_content"
        elif extractor is not None and not extractor.is_valid_filename(name):
            rejects[name] = "filename_pattern_mismatch"
        else:
            ok.append((name, content))
    return ok, rejects


def load_buffers(
    spark: SparkSession,
    buffers: Sequence[tuple[str, bytes]],
    loading: Optional[LoadingConfig] = None,
    naming: Optional[ColumnNamingConfig] = None,
    extractor: Optional[MetadataExtractor] = None,
) -> DataFrame:
    """Parse named CSV buffers into one DataFrame with the standard
    transforms (P1 coercion, P3-P5 naming, P6 timestamp parse, lineage) —
    typed by the same :func:`sources.csv.type_columns` as file input."""
    loading = loading or LoadingConfig()
    naming = naming or ColumnNamingConfig()
    ok, rejects = validate_buffers(buffers, extractor)
    if not ok:
        raise ValueError(f"no valid buffers; rejects: {rejects}")

    frames: list[DataFrame] = []
    contract: Optional[list[str]] = None
    for name, content in ok:
        pdf = pd.read_csv(
            io.BytesIO(content),
            sep=loading.delimiter,
            encoding=loading.encoding,
            dtype=str,
            keep_default_na=False,
        )
        cols = [clean_column_name(c, naming) for c in pdf.columns]
        pdf.columns = cols
        if contract is None:
            contract = cols  # §1.3 first-buffer schema freeze
        elif cols != contract:
            raise ValueError(f"buffer {name!r} columns {cols} != contract {contract}")
        # every column is a string here (dtype=str): the shared typing
        # step parses and coerces exactly as the file path does
        sdf, sort_col = type_columns(
            spark.createDataFrame(
                pdf.replace({"": None}),
                StructType([StructField(c, StringType()) for c in cols]),
            ),
            loading,
        )
        meta: Optional[FileMeta] = extractor.extract(name) if extractor is not None else None
        if loading.add_lineage:
            sdf = (
                sdf.withColumn("source_file", F.lit(name))
                .withColumn(
                    "file_start_time",
                    F.lit(meta.start_time if meta else None).cast("timestamp"),
                )
                .withColumn(
                    "file_end_time",
                    F.lit(meta.end_time if meta else None).cast("timestamp"),
                )
            )
        frames.append(sdf)

    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy(sort_col) if sort_col else out
