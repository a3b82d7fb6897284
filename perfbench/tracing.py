"""In-memory spans around the package's layer boundaries.

The tracer wraps, from outside the package, the public functions that the
facades call: the names ``plans.loader`` imported (discovery, metadata,
sequence and header checks, the CSV plan, the continuity and resample
operators), the ``TimeSeriesLoader`` and ``CorpusPipeline`` methods, and
the operator and sink functions that ``plans.corpus`` imports when a
builder method runs. The benchmark opens the remaining spans itself (the
noop scan, the streaming build and drains).

A span records its name, start, end, parent and run id, plus the Spark
job-id range it covered. Job ids are handed out in order by the
DAGScheduler, so the jobs a span started are those whose id falls in its
range; their task counts and input bytes are read from Spark's status
store once the iteration is over.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    children_s: float = 0.0
    tasks: int = 0
    input_bytes: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo

    def to_dict(self, idx: int) -> dict:
        return {
            "id": idx, "name": self.name, "run_id": self.run_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "self_s": self.self_s, "jobs": self.jobs, "tasks": self.tasks,
            "input_bytes": self.input_bytes,
        }


class SparkJobs:
    """Job ids and per-job counts from the driver's scheduler and status
    store (both work with the UI disabled)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._scheduler = sc.dagScheduler()
        self._store = sc.statusStore()

    def next_id(self) -> int:
        # py4j hands the AtomicInteger back as its current int value
        return int(self._scheduler.nextJobId())

    def counts(self, lo: int, hi: int) -> tuple[int, int]:
        """(tasks run, input bytes read) of jobs lo..hi-1."""
        tasks = read = 0
        for job_id in range(lo, hi):
            job = self._store.job(job_id)
            tasks += job.numCompletedTasks()
            stage_ids = job.stageIds()  # a Scala Seq
            for k in range(stage_ids.size()):
                try:
                    read += self._store.lastStageAttempt(stage_ids.apply(k)).inputBytes()
                except Py4JJavaError:  # a skipped stage never gets an attempt
                    continue
        return tasks, read


class Tracer:
    def __init__(self, spark) -> None:
        self.jobs = SparkJobs(spark)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.active = False
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, parent, time.perf_counter(), self.jobs.next_id())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.job_hi = self.jobs.next_id()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.duration

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def finish(self, spans: list[Span]) -> None:
        """Fill task and input-byte counts once the spans' jobs are done."""
        for sp in spans:
            sp.tasks, sp.input_bytes = self.jobs.counts(sp.job_lo, sp.job_hi)


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the workloads cross."""
    from time_series_loader_spark.operators import dedup, graph
    from time_series_loader_spark.plans import corpus, loader
    from time_series_loader_spark.sources import sink

    for attr, name in (
        ("discover_files", "sources.discover"),
        ("extract_metadata", "sources.metadata"),
        ("is_valid_sequence", "sources.sequence"),
        ("validate_headers", "sources.headers"),
        ("load_csv_timeseries", "sources.plan"),
        ("infer_frequency_seconds", "operators.infer_frequency"),
        ("find_gaps", "operators.find_gaps"),
        ("continuity_stats", "operators.continuity_stats"),
        ("resample", "operators.resample"),
        ("interpolate_time", "operators.interpolate"),
    ):
        tracer.wrap(loader, attr, name)
    for attr in ("initialize", "analyze_continuity", "resample", "concat_metadata",
                 "processing_summary"):
        tracer.wrap(loader.TimeSeriesLoader, attr, f"plans.{attr}")
    for attr in ("normalize", "scrub_pii", "quality_filter", "dedup_exact", "dedup_near"):
        tracer.wrap(corpus.CorpusPipeline, attr, "plans.corpus_build")
    tracer.wrap(corpus.CorpusPipeline, "pack_and_write", "plans.pack_and_write")
    tracer.wrap(dedup, "dedup_exact", "operators.dedup_exact")
    tracer.wrap(dedup, "near_dup_pairs", "operators.near_dup_pairs")
    tracer.wrap(graph, "keep_representatives", "operators.keep_representatives")
    tracer.wrap(sink, "write_packed_shards", "sources.write")
