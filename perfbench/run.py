"""Workload benchmark for time_series_loader_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload load_slices --seed 1 --seconds 3 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def process_age_s() -> float:
    """Seconds since this process was exec'd, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


NPROC = len(os.sched_getaffinity(0))  # what `nproc` reports
CPUS = min(4, NPROC)
DRIVER_MEM = "1g"


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every live descendant: the gateway JVM and its Python workers."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def calibration_ms() -> float:
    """Time of a fixed pure-Python loop: a stamp of how fast the box ran."""
    t0 = time.perf_counter()
    sum(k * k for k in range(1_000_000))
    return round(1000 * (time.perf_counter() - t0), 1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def environment(work: str) -> None:
    """Pin cores, heap and every scratch location before pyspark loads."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])


def start_spark(work: str):
    from time_series_loader_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # The heap is capped by DRIVER_MEM but neither pinned nor
            # pre-touched, so resident memory follows use. Fixed generation
            # ratios make the heap grow with allocation rather than with GC
            # pause times: with G1's time-driven sizing, peak RSS spread by
            # up to 17% (quartile spread over median) across runs of one
            # workload, and by 2 to 4% with this setting.
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# Per-layer metrics read from spans: (metric, span name, Span attribute).
SPAN_METRICS = tuple(
    [(f"sources.{k}_s", f"sources.{k}", "duration")
     for k in ("discover", "metadata", "sequence", "headers", "plan", "scan")]
    + [("sources.plan_jobs", "sources.plan", "jobs"),
       ("sources.plan_tasks", "sources.plan", "tasks"),
       ("plans.initialize_self_s", "plans.initialize", "self_s")]
    + [(f"plans.{k}_{a}", f"plans.{k}", "duration" if a == "s" else "jobs")
       for k in ("concat_metadata", "analyze_continuity", "resample")
       for a in ("s", "jobs")]
    + [("plans.corpus_build_s", "plans.corpus_build", "duration"),
       ("plans.corpus_build_jobs", "plans.corpus_build", "jobs"),
       ("plans.pack_and_write_s", "plans.pack_and_write", "duration"),
       ("sources.write_s", "sources.write", "duration")]
    + [(f"operators.{k}_{a}", f"operators.{k}", "duration" if a == "s" else "jobs")
       for k in ("infer_frequency", "find_gaps", "continuity_stats", "resample",
                 "interpolate", "dedup_exact", "near_dup_pairs", "keep_representatives")
       for a in ("s", "jobs")]
)
# Per-layer metrics a workload reports itself in Outcome.layers.
OUTCOME_METRICS = (
    "sources.files_kept_ratio", "sources.bytes_written_ratio",
    "streaming.micro_batches", "streaming.add_batch_ms", "streaming.commit_ms",
    "streaming.query_planning_ms", "streaming.state_rows", "streaming.state_memory_bytes",
    "errors.recorded_ERROR", "errors.recorded_WARNING",
)


def layer_metrics(wl, spans, outcome) -> dict[str, float]:
    """Per-layer values of one traced iteration; 0 for a layer it never entered."""
    by: dict[str, list] = {}
    for sp in spans:
        by.setdefault(sp.name, []).append(sp)
    m = {metric: float(sum(getattr(sp, attr) for sp in by.get(name, ())))
         for metric, name, attr in SPAN_METRICS}
    m.update(dict.fromkeys(OUTCOME_METRICS, 0.0))
    m.update(outcome.layers)
    roots = [sp for sp in spans if sp.parent is None]
    m["sources.input_read_ratio"] = sum(sp.input_bytes for sp in roots) / wl.input_bytes
    m["streaming.drain_s"] = median([sp.duration for sp in by.get("streaming.drain", ())])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_process = time.perf_counter() - process_age_s()

    if not os.path.isdir(os.path.join(ROOT, "time_series_loader_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "time_series_loader_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    import tracing

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    environment(work)
    spark = None
    try:
        spark = start_spark(work)
        t_ready = time.perf_counter()
        wl.generate(os.path.join(work, "inputs"), args.seed)

        tracer = tracing.Tracer(spark)
        if args.trace:
            tracing.install(tracer)
        attempted = failed = 0
        drains: list[float] = []
        walls: dict[bool, list[float]] = {False: [], True: []}
        cpus: list[float] = []
        layers: list[dict[str, float]] = []
        spans_out: list[dict] = []

        def iteration(i: int, traced: bool) -> float:
            nonlocal attempted, failed
            it_dir = os.path.join(work, f"it{i}")
            os.makedirs(it_dir)
            tracer.active = traced
            tracer.run_id = f"{wl.name}-s{args.seed}-it{i}"
            first = len(tracer.spans)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                with tracer.span("run"):
                    outcome = wl.run(spark, tracer, it_dir)
            except Exception:
                traceback.print_exc()
                outcome = workloads.Outcome(failures=["raised"])
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            tracer.active = False
            attempted += 1
            if outcome.failures:
                print(f"perfbench: check failed: {outcome.failures}", file=sys.stderr)
                failed += 1
            if i > 0:  # measured
                drains.extend(outcome.drains)
                walls[traced].append(wall)
                if not traced:
                    cpus.append(cpu)
            if traced and i > 0:
                spans = tracer.spans[first:]
                tracer.finish(spans)
                layers.append(layer_metrics(wl, spans, outcome))
                spans_out.extend(sp.to_dict(first + k) for k, sp in enumerate(spans))
            shutil.rmtree(it_dir, ignore_errors=True)
            return wall

        # The first iteration runs cold (class loading, Python workers,
        # code generation, the JIT); its cost belongs to set-up.
        cold = iteration(0, False)
        setup_s = (t_ready - t_process) + cold
        # Measure whole iterations until --seconds have passed. Traced mode
        # alternates untraced and traced iterations, at least untraced,
        # traced, untraced, so one run gives both the layers and the tracing
        # overhead, and the untraced median brackets the traced iteration
        # on the warm-up curve.
        calib_ms = calibration_ms()
        t_start, ticks = time.perf_counter(), cpu_ticks()
        i = 1
        while i <= 3 * args.trace or time.perf_counter() - t_start < args.seconds:
            iteration(i, bool(args.trace) and i % 2 == 0)
            i += 1

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        if args.trace:
            names = sorted({k for lm in layers for k in lm})
            metrics = {k: {"value": median([lm[k] for lm in layers]), "unit": _unit(k)}
                       for k in names}
            metrics["trace.wall_s"] = {"value": median(walls[True]), "unit": "s"}
            metrics["trace.overhead_s"] = {
                "value": median(walls[True]) - median(walls[False]), "unit": "s"}
            metrics["streaming.drain_samples"] = {"value": len(drains), "unit": "count"}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{wl.name}-s{args.seed}.jsonl")
            with open(path, "w", encoding="utf-8") as f:
                for sp in spans_out:
                    f.write(json.dumps(sp) + "\n")
            print(f"perfbench: {len(spans_out)} spans written to {path}", file=sys.stderr)
        else:
            wall = median(walls[False])
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "rows_per_s": {"value": wl.rows / wall, "unit": "1/s"},
                "cpu_s": {"value": median(cpus), "unit": "s"},
                "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            }
        env = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "iterations": i - 1, "drains": len(drains),
            "nproc": NPROC, "spark_cpus": CPUS, "driver_mem": DRIVER_MEM,
            "mem_total_kb": _mem_total_kb(), "pyspark": _pyspark_version(),
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "input_rows": wl.rows, "input_bytes": wl.input_bytes,
            "session_s": t_ready - t_process, "cold_s": cold,
            "walls": [round(w, 3) for w in walls[False] + walls[True]],
            "cpus": [round(c, 2) for c in cpus],
            "measured_s": time.perf_counter() - t_start,
            # share of the box's CPU time the hypervisor gave to others
            "steal_pct": _steal_pct(ticks, cpu_ticks()),
            "calibration_ms": calib_ms,
        }
        print("perfbench: " + json.dumps(env), file=sys.stderr)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result), flush=True)
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return round(100.0 * (after[1] - before[1]) / total, 1) if total else 0.0


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    sys.exit(main())
