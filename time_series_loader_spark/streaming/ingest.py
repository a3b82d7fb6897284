"""Structured Streaming ingestion — the streaming variant of the batch
pipeline (SURVEY.md §2.9).

The reference is strictly batch, but its data model — a directory of
time-sliced files that grows over time — IS a file-source stream. The same
logical pipeline runs incrementally:

- ``readStream`` over the directory (schema from the batch reader / first
  file, matching the §1.3 schema-freeze contract);
- ``withWatermark(ts, max_allowed_gap)`` — the streaming analog of
  ``TimeSeriesConfig.max_allowed_gap`` (reference ``ts_config.py:44``):
  rows later than the watermark are dropped exactly like the reference
  flags overlap violations (W6);
- tumbling-window aggregation = the A1 resample (reference
  ``load_file.py:2127-2149``) emitted per window close.

``run_available_now`` drains whatever is currently in the directory and
returns the emitted rows as a batch DataFrame — used for tests/oracles; a
production deployment would use a continuous trigger + a real sink.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from time_series_loader_spark.functions.exact import exact_count, exact_mean, exact_sum
from time_series_loader_spark.session import scoped_conf


def file_as_stream_dir(path: str) -> str:
    """Spark's file stream source requires a DIRECTORY; expose a single
    file through a stable symlink directory (idempotent, per-file)."""
    digest = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"tsl_stream_src_{digest}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(os.path.abspath(path), link)
    return d


def stream_csv_directory(
    spark: SparkSession,
    path: str,
    schema: StructType,
    delimiter: str = ";",
    header: bool = True,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-source stream over a directory of CSV time slices."""
    reader = (
        spark.readStream.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def stream_parquet(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    return spark.readStream.schema(schema).parquet(path)


def windowed_resample_stream(
    sdf: DataFrame,
    ts_col: str,
    window: str,
    value_col: str,
    watermark: str = "10 minutes",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming A1: watermarked tumbling-window count/mean (NaN-aware,
    exact: ``functions/exact.py``).

    Append mode emits a window only once the watermark passes its end —
    late rows beyond the watermark are dropped (the reference's overlap
    rejects, W6)."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*group_cols, F.window(ts_col, window).alias("w"))
        .agg(
            exact_count(F.col(value_col)).alias("n"),
            exact_mean(F.col(value_col)).alias("value_mean"),
        )
        .select(
            *group_cols,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "value_mean",
        )
    )


def session_window_stream(
    sdf: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming sessionization: ``F.session_window`` with a watermark —
    the streaming counterpart of ``operators/sessionize.py`` (same split
    rule: a new session starts after > ``gap`` of inactivity).

    Append mode emits a session only once the watermark passes its close
    (last event + gap). State per open session, merged as events arrive —
    O(open sessions), bounded by the watermark.
    """
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(exact_sum(F.col(value_col)).alias("value_sum"))
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            *(["value_sum"] if value_col is not None else []),
        )
    )


def dedup_stream(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of an already-seen key.

    ``within_watermark=False`` → ``dropDuplicates`` keyed on
    ``key_cols`` + event time (the event-time key column is what lets the
    watermark expire state): duplicates of the same (key, ts) are dropped
    exactly; state = one entry per live (key, ts).
    ``within_watermark=True`` → ``dropDuplicatesWithinWatermark``:
    duplicates are only guaranteed dropped when they arrive within the
    watermark delay of the first occurrence — the unbounded-corpus shape
    (state expires, memory stays flat at 100 TB/day ingest).
    """
    wm = sdf.withWatermark(ts_col, watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(list(key_cols))
    return wm.dropDuplicates([*key_cols, ts_col])


def run_available_now(
    result: DataFrame,
    spark: SparkSession,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the emitted rows as a batch DataFrame.

    AvailableNow processes all pending files, then runs the no-data batch
    that advances the watermark and flushes closed windows — so the output
    is exactly the set of windows whose end ≤ max(event_time) - delay.

    ``shuffle_partitions``, when set, is pinned around query START (a
    streaming query's state-store partition count bakes in at start and
    each state partition pays fixed provider/commit-log setup per
    micro-batch — 32 partitions measured 3.1 s vs 1.4 s at 8 for the same
    tiny drain; results are partition-count-independent). The session
    conf is restored after the drain. Default ``None`` — the safe
    production value: the session's own setting (sized to cluster scale)
    is left untouched, and nothing else running in the shared session
    can inherit a test-sized partition count mid-drain. Tests and the
    bench opt into 8 explicitly for their tiny fixtures.

    The memory sink here is ephemeral BY DESIGN (it rejects checkpoint
    recovery); for the durable restart contract — same checkpoint across
    stop/start, offsets committed, state recovered — drain to a file
    sink with a ``checkpointLocation``, as
    ``test_streaming.test_stateful_gap_detector_restart_recovery`` does.
    """
    name = f"tsl_stream_{uuid.uuid4().hex[:12]}"
    pin = {}
    if shuffle_partitions is not None:
        pin["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    with scoped_conf(spark, pin):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Copy the drained rows out of the memory sink, then DROP the sink
    # table: the sink holds every emitted row on the driver for the rest
    # of the session, so repeated drains (bench loops, long notebook
    # sessions) leak one full result set per call — measured as growing
    # GC drag on every subsequent query (r9 bench probe). The returned
    # frame is checkpoint-backed, not view-backed, so it stays valid
    # after the drop and its blocks are released by the ContextCleaner
    # once the caller lets it go.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def windowed_m4_stream(
    sdf: DataFrame,
    ts_col: str,
    window: str,
    value_col: str,
    watermark: str = "10 minutes",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming M4 downsampling: the live-dashboard shape — per
    watermarked tumbling window keep first/min/max/last WITH their real
    timestamps (batch semantics: `operators/resample.py::m4_downsample`;
    same tie rules — min→earliest ts, max→latest — via the same
    lexicographic (value, ts) struct aggregates, which are all
    mergeable, so the streaming state per open window is four structs
    regardless of event volume).

    Emits one row per (window, role) in append mode once the watermark
    passes the window end; all-null windows emit nothing.
    """
    v, t = F.col(value_col), F.col(ts_col)
    vt = F.when(v.isNotNull(), F.struct(v.alias("v"), t.alias("t")))
    tv = F.when(v.isNotNull(), F.struct(t.alias("t"), v.alias("v")))
    agg = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*group_cols, F.window(ts_col, window).alias("w"))
        .agg(
            F.min(tv).alias("_f"),
            F.min(vt).alias("_mn"),
            F.max(vt).alias("_mx"),
            F.max(tv).alias("_l"),
        )
    )

    def _pt(role: str, src: str) -> Column:
        return F.struct(
            F.lit(role).alias("role"),
            F.col(f"{src}.t").alias(ts_col),
            F.col(f"{src}.v").alias(value_col),
        )

    pts = F.array(_pt("first", "_f"), _pt("min", "_mn"), _pt("max", "_mx"), _pt("last", "_l"))
    return (
        agg.select(
            *group_cols,
            F.col("w.start").alias("window_start"),
            F.explode(pts).alias("_p"),
        )
        .select(*group_cols, "window_start", "_p.*")
        .where(F.col(value_col).isNotNull())
    )
