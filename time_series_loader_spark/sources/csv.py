"""CSV time-series source: one lazy multi-file read (S4, S5, S8, O3)
with schema freeze (§1.3), numeric coercion (P1), lineage (P2), and
column-naming transforms (P3-P5).

Parity targets:
- per-file ``pd.read_csv`` loop → reference ``load_file.py:1533-1622,
  1782-1806``. Here: ONE ``spark.read.csv(paths)`` — Spark parallelizes
  splits natively; no sequential loop, no per-file materialization.
- first-file schema freeze + congruence rejection → reference
  ``load_file.py:1489-1531``. Here: the first file's raw header is the
  contract; every other file's header is checked against it BEFORE the
  big read, and mismatching files are returned as rejects.
- header-only scan (S5) → reference ``load_file.py:1696-1766``. Here:
  :func:`read_header` reads one line on the driver, and the read gets
  that header as an all-string schema (:func:`header_schema`), so Spark
  runs no inference job.
- numeric coercion (P1) → ``try_cast`` to double: exact
  ``pd.to_numeric(errors='coerce')`` semantics (null on failure).
- lineage (P2) → ``input_file_name()`` + broadcast join to the filename-
  metadata DF for ``file_start_time``/``file_end_time``.

Scale: file listing and header checks are driver-side over the path list
(the read lists the same paths serially on the driver, not with a
distributed listing job); data IO is one distributed scan. Defining the
DataFrame starts no Spark job. Column pruning and filter pushdown apply to
the scan as usual (header validation reads ~1 line per file).
"""

from __future__ import annotations

import codecs
import csv as _csv
from collections import Counter
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from time_series_loader_spark.config import ColumnNamingConfig, LoadingConfig
from time_series_loader_spark.functions.timeparse import parse_timestamp_multi
from time_series_loader_spark.session import scoped_conf
from time_series_loader_spark.sources.metadata import FileMeta, metadata_dataframe


def _open_text(path: str, encoding: str):
    # Spark's CSV read strips a UTF-8 byte-order mark; so do the header checks
    utf8 = codecs.lookup(encoding).name == "utf-8"
    return open(path, "r", encoding="utf-8-sig" if utf8 else encoding, newline="")


def read_header(path: str, delimiter: str = ";", encoding: str = "utf-8") -> list[str]:
    """S5: column names of one file without reading data."""
    with _open_text(path, encoding) as f:
        reader = _csv.reader(f, delimiter=delimiter)
        try:
            return next(reader)
        except StopIteration:
            return []


def header_schema(
    first_row: Sequence[str], header: bool, case_sensitive: bool
) -> StructType:
    """The all-string schema Spark's CSV reader infers (``inferSchema``
    off) from ``first_row``, named by Spark's own header rules: ``_c{i}``
    without a header or for an empty field, ``name{i}`` for a name that
    repeats (compared case-insensitively unless ``case_sensitive``)."""
    fold = (lambda n: n) if case_sensitive else str.lower
    repeats = {k for k, n in Counter(fold(v) for v in first_row).items() if n > 1}
    names = [
        f"_c{i}" if not header or not v else f"{v}{i}" if fold(v) in repeats else v
        for i, v in enumerate(first_row)
    ]
    return StructType([StructField(n, StringType()) for n in names])


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _driver_listing(spark: SparkSession, paths: Sequence[str]) -> dict[str, str]:
    """Conf that keeps the read's file listing on the driver: above the
    threshold (32 paths by default) Spark lists with a distributed job of
    one task per path, for paths discovery has already stat'd."""
    threshold = int(spark.conf.get(_LISTING_THRESHOLD))
    return {_LISTING_THRESHOLD: str(max(threshold, len(paths)))}


def validate_headers(
    paths: Sequence[str], delimiter: str, encoding: str
) -> tuple[list[str], dict[str, str]]:
    """§1.3 schema freeze: first file's columns are the contract; return
    (conforming paths, {path: reason} rejects)."""
    if not paths:
        return [], {}
    contract = read_header(paths[0], delimiter, encoding)
    if not contract:
        raise ValueError(f"first file has no header: {paths[0]}")
    ok: list[str] = []
    rejects: dict[str, str] = {}
    for p in paths:
        hdr = read_header(p, delimiter, encoding)
        if hdr == contract:
            ok.append(p)
        elif not hdr:
            rejects[p] = "empty_or_headerless"
        else:
            missing = set(contract) - set(hdr)
            extra = set(hdr) - set(contract)
            rejects[p] = f"schema_mismatch missing={sorted(missing)} extra={sorted(extra)}"
    return ok, rejects


def clean_column_name(name: str, naming: ColumnNamingConfig) -> str:
    """P3 (strip) + P5 ('A - B - C' → 'C', rsplit on last ' - ') + P4 (rename)."""
    out = name.strip() if naming.strip_whitespace else name
    if naming.clean_names and " - " in out:
        out = out.rsplit(" - ", 1)[-1].strip()
    return naming.rename_map.get(out, out)


def min_rows_ok(path: str, min_rows: int, delimiter: str, encoding: str) -> bool:
    """S8 content validator: header present and at least ``min_rows`` rows,
    peeking only min_rows+1 lines (reference ``ts_extensions.py:214-269``)."""
    with _open_text(path, encoding) as f:
        reader = _csv.reader(f, delimiter=delimiter)
        header = next(reader, None)
        if not header:
            return False
        n = 0
        for _ in reader:
            n += 1
            if n >= min_rows:
                return True
        return n >= min_rows


def type_columns(
    df: DataFrame, loading: LoadingConfig
) -> tuple[DataFrame, Optional[str]]:
    """Column typing shared by every CSV path (files and in-memory
    buffers): parse the timestamp candidates, coerce string columns to
    double (``loading.decimal`` → ``.``, then ``try_cast``: null on
    failure), pass already-typed columns through. Returns the typed frame
    and the column to sort by (``None`` when no timestamp candidate).

    Timestamp candidates: ``loading.timestamp_column`` if set, else every
    column named ``ts``/``date`` or containing ``time``.
    """
    ts_col = loading.timestamp_column
    ts_candidates = (
        [ts_col]
        if ts_col
        else [c for c in df.columns if "time" in c.lower() or c.lower() in ("ts", "date")]
    )
    dtypes = dict(df.dtypes)
    exprs = []
    for c in df.columns:
        if c in ts_candidates:
            if dtypes[c].startswith("timestamp"):
                exprs.append(F.col(c))  # already typed (parquet)
            else:
                exprs.append(
                    parse_timestamp_multi(
                        F.col(c), loading.time_format, loading.fallback_time_formats
                    ).alias(c)
                )
        elif loading.coerce_numeric and dtypes[c] == "string":
            col = F.col(c)
            if loading.decimal != ".":
                col = F.replace(col, F.lit(loading.decimal), F.lit("."))
            exprs.append(col.try_cast("double").alias(c))
        else:
            exprs.append(F.col(c))
    sort_col = ts_col or (ts_candidates[0] if ts_candidates else None)
    return df.select(*exprs), sort_col


def load_csv_with_bad_records(
    spark: SparkSession,
    paths: Sequence[str],
    schema: str,
    delimiter: str = ";",
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Row-level bad-record capture — a capability the reference LACKS (it
    rejects whole files on any parse problem, reference
    ``load_file.py:1593-1622``). PERMISSIVE mode keeps good rows and lands
    each unparseable line in ``corrupt_col`` for quarantine/reporting.

    ``schema`` is a DDL string; a ``<corrupt_col> STRING`` field is
    appended automatically.
    """
    full_schema = f"{schema}, {corrupt_col} STRING"
    with scoped_conf(spark, _driver_listing(spark, paths)):
        return (
            spark.read.option("header", str(header).lower())
            .option("sep", delimiter)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .schema(full_schema)
            .csv(list(paths))
        )


def load_csv_timeseries(
    spark: SparkSession,
    paths: Sequence[str],
    loading: LoadingConfig,
    naming: Optional[ColumnNamingConfig] = None,
    metas: Optional[list[FileMeta]] = None,
) -> DataFrame:
    """One lazy plan: scan all conforming files → clean names → parse
    timestamp(s) → coerce numerics → lineage → global time sort.

    Returns the composed DataFrame; for CSV nothing runs here — the
    columns come from the first file's header (the contract), not from
    an inference job.
    """
    naming = naming or ColumnNamingConfig()
    fmt = getattr(loading, "format", "csv")
    if fmt not in ("csv", "parquet", "json"):
        raise ValueError(f"unsupported format {fmt!r}; use csv|parquet|json")
    with scoped_conf(spark, _driver_listing(spark, paths)):
        if fmt == "csv":
            reader = (
                spark.read.option("header", str(loading.header).lower())
                .option("sep", loading.delimiter)
                .option("encoding", loading.encoding)
                .option("mode", "PERMISSIVE")
            )
            # All columns read as string; typing is explicit below so
            # coercion semantics (null-on-failure) are ours. A blank first
            # line leaves naming to Spark's inference.
            first = (
                read_header(paths[0], loading.delimiter, loading.encoding)
                if paths
                else []
            )
            if "".join(first).strip():
                case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
                reader = reader.schema(
                    header_schema(first, loading.header, case_sensitive)
                )
            df = reader.csv(list(paths))
        elif fmt == "parquet":
            df = spark.read.parquet(*paths)
        else:
            df = spark.read.option("mode", "PERMISSIVE").json(list(paths))

    renamed = df.toDF(*[clean_column_name(c, naming) for c in df.columns])

    typed, sort_col = type_columns(renamed, loading)

    if loading.add_lineage:
        # input_file_name() is URL-encoded (spaces → %20); decode so it joins
        # against the plain-path metadata DF
        typed = typed.withColumn("source_file", F.url_decode(F.input_file_name()))
        if metas:
            meta_df = metadata_dataframe(spark, metas)
            typed = typed.join(F.broadcast(meta_df), on="source_file", how="left")
        else:
            typed = typed.withColumn("file_start_time", F.lit(None).cast("timestamp"))
            typed = typed.withColumn("file_end_time", F.lit(None).cast("timestamp"))

    if sort_col:
        typed = typed.orderBy(sort_col)  # O1 global sort (range exchange)
    return typed
