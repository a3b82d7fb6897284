"""Single-node pandas baseline for the flagship pipeline.

The reference publishes no numbers (BASELINE.md), so this implements the
reference's own execution style — eager pandas, full in-memory frame — for
the flagship pipeline (hourly mean resample → 30-min reindex → ffill →
continuity/gap analysis) and times it against the Spark engine on the same
parquet at the same scale factor.

Usage: python tools/baseline_pandas.py [sf_dir] [replicate]
Prints one JSON line {"pandas_sec": ..., "spark_sec": ..., "speedup": ...}.

``replicate`` tiles the events table N times with shifted timelines (a
deterministic volume amplifier — same distribution, N× rows) to measure
where the Spark engine's constant job overhead crosses pandas' per-row
cost. The reference's execution model (eager single-process pandas) is the
baseline being compared.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pandas_flagship(sf_dir: str, replicate: int = 1) -> tuple[int, float]:
    t0 = time.time()
    df = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    if replicate > 1:
        span = df["ts"].max() - df["ts"].min() + pd.Timedelta(seconds=1)
        parts = [df]
        for k in range(1, replicate):
            shifted = df.copy()
            shifted["ts"] = shifted["ts"] + span * k
            parts.append(shifted)
        df = pd.concat(parts, ignore_index=True)
    df = df.sort_values("ts").set_index("ts")
    hourly = df["value"].resample("1h").mean()
    grid = hourly.reindex(
        pd.date_range(hourly.index.min(), hourly.index.max(), freq="30min")
    )
    filled = grid.ffill()
    # continuity analysis over the RAW event timeline (same work as Spark)
    diffs = df.index.to_series().diff().dt.total_seconds()
    med = diffs.median()
    gaps = diffs[diffs > 10 * med]
    n = len(filled) + len(gaps)
    return n, time.time() - t0


def spark_flagship(sf_dir: str, replicate: int = 1) -> tuple[int, float]:
    from pyspark.sql import functions as F

    from time_series_loader_spark.operators.continuity import find_gaps, infer_frequency_seconds
    from time_series_loader_spark.operators.fill import ffill
    from time_series_loader_spark.operators.grid import reindex_to_grid
    from time_series_loader_spark.operators.resample import resample
    from time_series_loader_spark.session import get_spark, read_table

    spark = get_spark("baseline-compare")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM warmup outside the timed section
    read_table(spark, sf_dir, "events").limit(1).count()

    t0 = time.time()
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    if replicate > 1:
        bounds = ev.agg(
            (F.max("ts").cast("double") - F.min("ts").cast("double") + 1).alias("span")
        ).collect()[0]
        span = float(bounds["span"])
        # STREAM the range side, BROADCAST the 100k-row table: the
        # testdata parquet is one file → one partition, and streaming it
        # through the BNLJ ran the whole 50M-row generation (and the
        # aggregation above it) on a single core — the SCALING.md
        # single-partition trap, caught in the r7 flagship profile
        # (resample pass 39 s → ~4 s). The range side carries
        # defaultParallelism partitions, so each core generates its
        # slice of copies locally from the broadcast table.
        ev = (
            spark.range(replicate)
            .withColumnRenamed("id", "_k")
            .crossJoin(F.broadcast(ev))
            .select(
                F.timestamp_seconds(
                    F.col("ts").cast("double") + F.col("_k") * span
                ).alias("ts"),
                "value",
            )
        )
        # deliberately NOT cached (r7 measurement): the 50M frame derives
        # from a 100k-row parquet crossJoin — regenerating it per pass is
        # two cheap narrow scans, while caching it costs a 50M-row
        # serialize+store pass plus sustained memory pressure (repeated
        # runs visibly degraded under accumulated cache blocks)
    hourly = resample(ev, "ts", "1h", method="mean", value_cols=["value"])
    grid = reindex_to_grid(hourly, "ts", "30min")
    filled = ffill(grid, "ts", ["value"])
    n_filled = filled.count()
    # ONE diff pass shared by median + gap detection (pandas holds the diff
    # series in RAM the same way)
    from time_series_loader_spark.operators.continuity import with_time_diff

    diffs = with_time_diff(ev.select("ts"), "ts").where(
        F.col("diff_seconds").isNotNull()
    )
    # EXACT interpolated median from value counts: time-series deltas
    # live on a tiny support (regular spacing ± gaps), so a groupBy
    # collapses 50M rows map-side to a handful of (delta, n) pairs and
    # the driver computes the same linear-interpolated median pandas
    # does — cheaper than a 10k-centroid percentile sketch updated per
    # row, and exact instead of approximate. r8: the gap COUNT is also
    # derivable from the same (delta, n) pairs driver-side, so the old
    # second 50M-row pass (and the cache that fed it — a full serialize
    # + sustained memory pressure) is gone: ONE diff window, ONE
    # map-side-combined aggregate, everything else on a handful of pairs
    counts = sorted(
        (r["diff_seconds"], r["n"])
        for r in diffs.groupBy("diff_seconds")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(n for _, n in counts)

    def _nth(k: int) -> float:  # 0-based order statistic
        seen = 0
        for v, n in counts:
            seen += n
            if seen > k:
                return v
        return counts[-1][0]

    med = (
        _nth(total // 2)
        if total % 2
        else (_nth(total // 2 - 1) + _nth(total // 2)) / 2.0
    )
    n_gaps = sum(n for v, n in counts if v > 10 * med)
    return n_filled + n_gaps, time.time() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    n_p, t_p = pandas_flagship(sf_dir, replicate)
    n_s, t_s = spark_flagship(sf_dir, replicate)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "replicate": replicate,
                "pandas_sec": round(t_p, 3),
                "spark_sec": round(t_s, 3),
                "speedup": round(t_p / t_s, 2) if t_s else None,
                "pandas_rows": n_p,
                "spark_rows": n_s,
            }
        )
    )


if __name__ == "__main__":
    main()


def _replicated_docs_path(sf_dir: str, replicate: int) -> str:
    """Materialize the N-times corpus ONCE as multi-file parquet so both
    engines read the same bytes (in-plan replication would charge Spark
    a join pandas doesn't pay, and single-file parquet would serialize
    Spark's scan — see SCALING.md's single-partition trap)."""
    if replicate <= 1:
        return f"{sf_dir}/documents.parquet"
    import os

    import re as _re

    sf_tag = _re.sub(r"[^A-Za-z0-9.]", "_", sf_dir.strip("/"))
    out = f"/tmp/tsl_textbase_{sf_tag}_{replicate}x.parquet"
    if not os.path.exists(out):
        df = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        n = df["doc_id"].max() + 1
        parts = []
        for k in range(replicate):
            c = df.copy()
            c["doc_id"] = c["doc_id"] + k * n
            parts.append(c)
        big = pd.concat(parts, ignore_index=True)
        from time_series_loader_spark.session import get_spark

        spark = get_spark("tsl-baseline-text")
        spark.createDataFrame(big).repartition(32).write.mode("overwrite").parquet(out)
    return out


def pandas_text_profile(sf_dir: str, replicate: int = 1) -> tuple[int, float]:
    """Eager-pandas version of the corpus text profile: token stats +
    quality ratios + Gopher line rules + fingerprint, row-at-a-time
    apply (the natural single-node implementation a reference-style
    library would ship)."""
    import hashlib
    import re

    path = _replicated_docs_path(sf_dir, replicate)
    t0 = time.time()
    df = pd.read_parquet(path, columns=["doc_id", "text"])
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    stops = {"the", "a", "of", "to", "and", "in", "is", "it", "you", "that"}

    def profile(s: str) -> tuple:
        if not s:  # null/empty doc: same ride-through the Spark side gives
            return (0, 0.0, 0.0, 0.0, 0.0, 0.0, None)
        toks = ws.split(s.strip().lower())
        n = len(toks)
        n_stop = sum(1 for t in toks if t in stops)
        low = s.lower()
        n_punct = sum(1 for ch in low if not (ch.isalnum() or ch.isspace()))
        n_digit = sum(1 for ch in low if ch.isdigit())
        lines = [l for l in (x.strip() for x in s.split("\n")) if l]
        bullet = sum(1 for l in lines if l[:1] in "-*•") / len(lines) if lines else 0.0
        dupl = 1 - len(set(lines)) / len(lines) if lines else 0.0
        fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
        return (n, n_stop / n, n_punct / len(s), n_digit / len(s), bullet, dupl, fp)

    out = df["text"].map(profile)
    n = len(out)
    return n, time.time() - t0


def spark_text_profile(sf_dir: str, replicate: int = 1) -> tuple[int, float]:
    from pyspark.sql import functions as F

    from time_series_loader_spark.operators.text import text_profile
    from time_series_loader_spark.session import get_spark, read_table

    spark = get_spark("tsl-baseline-text")
    spark.sparkContext.setLogLevel("ERROR")
    path = _replicated_docs_path(sf_dir, replicate)
    if replicate > 1:
        docs = spark.read.parquet(path).select("doc_id", "text")
    else:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # warm (JIT + Arrow pool), then measure steady state — the design point
    prof = text_profile(
        docs, "text", "doc_id",
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    prof.count()
    t0 = time.time()
    n = text_profile(
        docs, "text", "doc_id",
        min_parallelism=spark.sparkContext.defaultParallelism,
    ).count()
    return n, time.time() - t0
