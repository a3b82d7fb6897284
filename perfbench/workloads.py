"""The four workloads: inputs, one run through the public API, its check.

A workload generates its inputs once per process (outside every timed
region), then ``run`` is called once per iteration. ``run`` returns an
``Outcome``: the per-drain latencies (``stream_slices`` only), the
output-check failures and the per-layer values the spans cannot give.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import gen

# Input sizes: one warm iteration takes about 4.5 to 9 s on 4 cores, so a
# run, cold start included, takes 25 to 40 s and the 92 runs of a
# comparison fit in an hour (perfbench/README.md, "Run length").
LOAD_SLICES = 240          # hourly slices of 60 rows, plus the decoys
RESAMPLE_SLICES = 8        # hourly slices at 1 s, about 1% of rows dropped
RESAMPLE_DROP = 0.01
RESAMPLE_OUTAGES_S = (150, 300, 450)
STREAM_BATCHES = 3
STREAM_FILES = 40          # files per batch
STREAM_WINDOW_S = 600
STREAM_WATERMARK_S = 1800
CORPUS_DOCS = 160
CORPUS_EXACT = 20
CORPUS_NEAR = 20
CORPUS_BUDGET = 2000       # whitespace tokens per shard


@dataclass
class Outcome:
    drains: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def _expect(out: Outcome, what: str, got, want) -> None:
    if got != want:
        out.failures.append(f"{what}: got {got!r}, want {want!r}")


def _loader_layers(loader, out: Outcome) -> None:
    stats = loader.discovery_stats
    out.layers["sources.files_kept_ratio"] = len(loader.valid_paths) / stats.total_candidates
    by_sev = loader.ledger.report()["by_severity"]
    for sev in ("ERROR", "WARNING"):
        out.layers[f"errors.recorded_{sev}"] = by_sev.get(sev, 0)


class LoadSlices:
    name = "load_slices"

    def generate(self, root: str, seed: int) -> None:
        self.dir = os.path.join(root, "slices")
        self.truth = gen.hourly_slices(self.dir, seed, LOAD_SLICES, decoys=True)
        self.rows = self.truth["kept_rows"]
        self.input_bytes = self.truth["input_bytes"]

    def run(self, spark, tracer, it_dir: str) -> Outcome:
        from time_series_loader_spark.plans.loader import TimeSeriesLoader
        from time_series_loader_spark.sources.metadata import TimeMetadataExtractor

        out = Outcome()
        loader = TimeSeriesLoader.from_directory(
            spark, self.dir, extractor=TimeMetadataExtractor()
        )
        df = loader.initialize()
        with tracer.span("sources.scan"):
            df.write.format("noop").mode("overwrite").save()
        meta = loader.concat_metadata()
        summary = loader.processing_summary()

        t = self.truth
        _expect(out, "total_rows", meta["total_rows"], t["kept_rows"])
        _expect(out, "loaded files", sorted(os.path.basename(p) for p in loader.valid_paths),
                t["files"])
        _expect(out, "files_discovered", summary["files_discovered"], t["discovered"])
        rejected = set(loader.discovery_stats.invalid_reasons)
        rejected |= {e.file for e in loader.ledger.errors if e.file}
        _expect(out, "rejected files", sorted(os.path.basename(p) for p in rejected),
                sorted(t["rejected"]))
        _expect(out, "ledger by severity", summary["errors"], t["ledger"])
        _loader_layers(loader, out)
        return out


class ResampleFill:
    name = "resample_fill"

    def generate(self, root: str, seed: int) -> None:
        self.dir = os.path.join(root, "seconds")
        self.truth = gen.second_slices(
            self.dir, seed, RESAMPLE_SLICES, RESAMPLE_DROP, RESAMPLE_OUTAGES_S
        )
        self.rows = self.truth["kept_rows"]
        self.input_bytes = self.truth["input_bytes"]

    def run(self, spark, tracer, it_dir: str) -> Outcome:
        from time_series_loader_spark.config import LoadingConfig
        from time_series_loader_spark.plans.loader import TimeSeriesLoader
        from time_series_loader_spark.sources.metadata import TimeMetadataExtractor

        out = Outcome()
        loader = TimeSeriesLoader.from_directory(
            spark, self.dir, extractor=TimeMetadataExtractor(),
            loading=LoadingConfig(time_format="dd/MM/yyyy HH:mm:ss"),
        )
        loader.initialize()
        a = loader.analyze_continuity()
        # Collecting the 10 s grid (one row per occupied bucket) is the
        # sink: it materialises the resampled series once and hands the
        # check its data, where a noop write plus a check would run the
        # plan twice.
        rows = loader.resample(
            frequency=10, method_resample="mean", method_fill="interpolate"
        ).select("Time", "Temperature").collect()

        t = self.truth
        _expect(out, "n_gaps", a["n_gaps"], t["n_gaps"])
        _expect(out, "gap_seconds_total", a["gap_seconds_total"], t["gap_seconds_total"])
        _expect(out, "inferred frequency", a["inferred_frequency_seconds"],
                t["frequency_seconds"])
        _expect(out, "grid length", len(rows), t["grid_length"])
        lo = datetime.fromisoformat(t["check_slice_start"])
        got = {r["Time"].isoformat(): r["Temperature"] for r in rows
               if 0 <= (r["Time"] - lo).total_seconds() < 3600}
        want = t["check_slice_means"]
        _expect(out, "check slice buckets", sorted(got), sorted(want))
        bad = [k for k in want if k in got and not math.isclose(got[k], want[k], abs_tol=1e-9)]
        _expect(out, "check slice means off", bad, [])
        _loader_layers(loader, out)
        return out


class StreamSlices:
    name = "stream_slices"

    def generate(self, root: str, seed: int) -> None:
        self.dir = os.path.join(root, "batches")
        self.truth = gen.stream_batches(
            self.dir, seed, STREAM_BATCHES, STREAM_FILES, STREAM_WINDOW_S, STREAM_WATERMARK_S
        )
        self.rows = self.truth["kept_rows"]
        self.input_bytes = self.truth["input_bytes"]

    def run(self, spark, tracer, it_dir: str) -> Outcome:
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType

        from time_series_loader_spark.functions.timeparse import parse_timestamp_multi
        from time_series_loader_spark.streaming import (
            stream_csv_directory,
            windowed_resample_stream,
        )

        out = Outcome()
        watched, landing = os.path.join(it_dir, "watched"), os.path.join(it_dir, "landing")
        ckpt, sink = os.path.join(it_dir, "checkpoint"), os.path.join(it_dir, "sink")
        os.makedirs(watched)
        schema = StructType([
            StructField("Time", StringType()),
            StructField("Temperature", DoubleType()),
            StructField("Pressure", DoubleType()),
        ])
        progress: dict[str, list[float]] = {}
        for b in range(STREAM_BATCHES):
            bdir = os.path.join(self.dir, f"batch_{b:03d}")
            shutil.copytree(bdir, landing)
            for name in sorted(os.listdir(landing)):
                os.rename(os.path.join(landing, name), os.path.join(watched, name))
            os.rmdir(landing)
            landed = time.perf_counter()
            with tracer.span("streaming.drain"):
                with tracer.span("streaming.build"):
                    sdf = stream_csv_directory(spark, watched, schema)
                    parsed = sdf.select(
                        parse_timestamp_multi("Time", "dd/MM/yyyy HH:mm").alias("ts"),
                        "Temperature",
                    )
                    res = windowed_resample_stream(
                        parsed, "ts", f"{STREAM_WINDOW_S} seconds", "Temperature",
                        watermark=f"{STREAM_WATERMARK_S} seconds",
                    )
                q = (
                    res.writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()  # raises if the query failed
            out.drains.append(time.perf_counter() - landed)
            _progress(q.recentProgress, progress)

        got = {
            r["window_start"].isoformat(): [r["n"], r["value_mean"]]
            for r in spark.read.parquet(sink).collect()
        }
        want = self.truth["windows"]
        _expect(out, "windows", sorted(got), sorted(want))
        _expect(out, "window counts", {k: v[0] for k, v in got.items()},
                {k: v[0] for k, v in want.items()})
        bad = [k for k in want if k in got
               and not math.isclose(got[k][1], want[k][1], abs_tol=1e-9)]
        _expect(out, "window means off", bad, [])
        for k, v in progress.items():
            out.layers[k] = statistics.median(v)
        return out


def _progress(recent: list[dict], acc: dict[str, list[float]]) -> None:
    """Per-drain sums over the drain's micro-batches, from
    ``StreamingQuery.recentProgress``."""
    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in recent)

    state = (recent[-1].get("stateOperators") or [{}])[0] if recent else {}
    for k, v in (
        ("streaming.micro_batches", len(recent)),
        ("streaming.add_batch_ms", dur("addBatch")),
        ("streaming.commit_ms", dur("walCommit") + dur("commitOffsets")),
        ("streaming.query_planning_ms", dur("queryPlanning")),
        ("streaming.state_rows", state.get("numRowsTotal", 0)),
        ("streaming.state_memory_bytes", state.get("memoryUsedBytes", 0)),
    ):
        acc.setdefault(k, []).append(float(v))


class CorpusCurate:
    name = "corpus_curate"

    def generate(self, root: str, seed: int) -> None:
        self.dir = os.path.join(root, "corpus")
        self.truth = gen.corpus(self.dir, seed, CORPUS_DOCS, CORPUS_EXACT, CORPUS_NEAR)
        self.rows = self.truth["n_docs"]
        self.input_bytes = self.truth["input_bytes"]

    def run(self, spark, tracer, it_dir: str) -> Outcome:
        from time_series_loader_spark.plans.corpus import CorpusPipeline

        out = Outcome()
        shards = os.path.join(it_dir, "shards")
        docs = spark.read.parquet(self.truth["path"])
        manifest = (
            CorpusPipeline(docs, "doc_id", "text")
            .normalize()
            .scrub_pii()
            .quality_filter(min_score=0.3, gopher=False)
            .dedup_exact()
            # 8 bands of 4 rows: a planted near copy (Jaccard >= 0.96)
            # misses the LSH prefilter with probability below 1e-5.
            .dedup_near(num_hashes=32, bands=8, threshold=0.8)
            .pack_and_write(shards, CORPUS_BUDGET)
        ).collect()
        kept = [r["doc_id"] for r in spark.read.parquet(shards).select("doc_id").collect()]

        planted = set(self.truth["planted_exact"]) | set(self.truth["planted_near"])
        _expect(out, "planted duplicates left", sorted(planted & set(kept)), [])
        _expect(out, "manifest rows", sum(r["n_rows"] for r in manifest), len(kept))
        _expect(out, "duplicate ids in shards", len(kept) - len(set(kept)), 0)
        if not kept:
            out.failures.append("no documents survived")
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(shards) for f in files if f.endswith(".parquet")
        )
        out.layers["sources.bytes_written_ratio"] = written / self.input_bytes
        return out


WORKLOADS = {w.name: w for w in (LoadSlices, ResampleFill, StreamSlices, CorpusCurate)}
