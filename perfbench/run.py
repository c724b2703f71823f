"""MusicFlow pipeline benchmark: one workload, one seed, one result.

    python3 perfbench/run.py --workload incremental_sync --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Generates the workload's inputs
from the seed, starts a local Spark session with the program's own
session factory, then repeats the timed iteration until ``--seconds``
have passed (at least once), verifying every iteration's outputs
outside the timed region.  There is no warm-up iteration: the first
iteration runs in a fresh driver JVM, as a scheduled daily sync does.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when any output check fails, 2 when the checkout has no
program to run.  perfbench/README.md describes every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cold_sync", "incremental_sync", "mart_analytics")
#: repetitions of the input set-up, reported as their median
SETUP_REPS = 3
DRIVER_MEM = "3g"
#: layers whose summed self time the traced run reports
LAYERS = ("plans.dag", "plans.pipeline", "plans.marts", "plans.analyses", "matching.engine",
          "matching.candidates", "matching.cache", "checks.runner")
#: the spans no other span encloses that run Spark jobs (per-model
#: spans of one layer summed): the event-log counters are reported per
#: such span.  plans.dag.extract, plans.dag.models and build_all only
#: build plans, so they cause no job.
TOP_SPANS = ("plans.dag.match", "plans.dag.materialize", "plans.marts", "plans.analyses",
             "checks.runner.run")
#: counted per-layer metrics and their units
COUNT_METRICS = {
    "plans.dag.rows_written": "count",
    "matching.engine.videos_searched": "count",
    "matching.engine.matched_per_searched": "ratio",
    "matching.candidates.search_calls": "count",
    "matching.cache.hit_ratio": "ratio",
    "matching.cache.bytes_written": "B",
    "checks.runner.assertions": "count",
    "checks.runner.failed": "count",
}
#: the tracer's counters, summed over the traced iterations
PER_ITERATION = ("matching.candidates.search_calls",)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(workdir: str, trace: bool):
    """The program's own session factory, with local temporary dirs and,
    for the traced run, the uncompressed single-file event log."""
    from musicflow_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.eventLog.enabled": str(trace).lower(),
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.dir": os.path.join(workdir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(workload: str, seed: int, seconds: float, trace: bool, workdir: str) -> dict:
    from instrument import NullTracer, instrumented
    from tracing import Tracer
    from workloads import Workload

    # ---- set-up: inputs landed SETUP_REPS times (median), session once
    prep = []
    for i in range(SETUP_REPS):
        wl = Workload(workload, seed)
        t0 = time.perf_counter()
        wl.prepare(os.path.join(workdir, f"prep{i}"))
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = start_spark(workdir, trace)
    session_s = time.perf_counter() - t0
    wl.spark = spark
    log(f"set-up: inputs {[round(p, 3) for p in prep]} s, session {session_s:.2f} s")

    tracer = Tracer(spark.sparkContext) if trace else NullTracer()
    run_s, bytes_per_row, attempted, failed = [], [], 0, 0
    try:
        begin = time.perf_counter()
        while True:
            wl.reset()
            attempted += 1
            t0 = time.perf_counter()
            with instrumented(tracer) if trace else nullcontext():
                out = wl.iterate(tracer)
            run_s.append(time.perf_counter() - t0)
            ok = wl.verify(out, tracer if trace else None)
            if not ok:
                failed += 1
                log("verification failed: " + "; ".join(wl.problems[:5]))
            bytes_per_row.append(out.bytes_written / wl.data.library_rows)
            log(f"iteration {attempted}: {run_s[-1]:.2f} s, ok={ok}")
            collect_garbage(spark)
            if time.perf_counter() - begin >= seconds:
                break
        peak_mb = jvm_rss_peak_mb(spark)
    finally:
        stop_spark(spark)

    if trace:
        metrics = per_layer(wl, tracer, workdir, attempted)
        metrics["trace.run_s"] = (statistics.median(run_s), "s")
    else:
        metrics = {
            "run_s": (statistics.median(run_s), "s"),
            "setup_s": (statistics.median(prep) + session_s, "s"),
            "match_recall": (wl.recall, "ratio"),
            "match_precision": (wl.precision, "ratio"),
            "warehouse_bytes_per_row": (statistics.median(bytes_per_row), "B/row"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(wl, tracer, workdir: str, iterations: int) -> dict:
    """Per-layer metrics of the traced run: span times and event-log
    counters per iteration, counts of the last verified iteration."""
    from tracing import COUNTERS, parse_event_log
    from workloads import ANALYSES, MARTS

    n = iterations
    total = {k: v / n for k, v in tracer.totals().items()}
    own = {k: v / n for k, v in tracer.self_times().items()}
    counts = {**tracer.counts, **wl.counts}
    out = {}
    for task in ("extract", "match", "models", "materialize"):
        out[f"plans.dag.{task}_s"] = (total.get(f"plans.dag.{task}", 0.0), "s")
    for fn in ("compute_matches", "compute_matches_others", "assemble"):
        out[f"matching.engine.{fn}_s"] = (total.get(f"matching.engine.{fn}", 0.0), "s")
    # match_with_cache encloses the engine spans: report only its own part
    out["matching.cache.lookup_s"] = (own.get("matching.cache.lookup", 0.0), "s")
    out["matching.cache.flush_s"] = (total.get("matching.cache.flush", 0.0), "s")
    for name in MARTS:
        out[f"plans.marts.{name}_s"] = (total.get(f"plans.marts.{name}", 0.0), "s")
    for name in ANALYSES:
        out[f"plans.analyses.{name}_s"] = (total.get(f"plans.analyses.{name}", 0.0), "s")
    out["checks.runner.run_s"] = (total.get("checks.runner.run", 0.0), "s")
    for name, unit in COUNT_METRICS.items():
        out[name] = (counts.get(name, 0) / (n if name in PER_ITERATION else 1), unit)
    # self time per layer (span-name prefix): where the time goes
    for layer in LAYERS:
        out[f"{layer}.self_s"] = (
            sum(v for k, v in own.items() if k.startswith(layer + ".")), "s"
        )
    with open(event_log(workdir)) as f:
        by_group = parse_event_log(f)
    units = {"jobs": "count", "tasks": "count", "executor_cpu_s": "s",
             "shuffle_write_bytes": "B", "spill_bytes": "B", "gc_s": "s"}
    by_root = tracer.spark_by_root(by_group)
    for top in TOP_SPANS:
        mine = [v for k, v in by_root.items() if k == top or k.startswith(top + ".")]
        for c in COUNTERS:
            out[f"spark.{top}.{c}"] = (sum(v[c] for v in mine) / n, units[c])
    return out


def event_log(workdir: str) -> str:
    d = os.path.join(workdir, "eventlog")
    (name,) = [n for n in os.listdir(d) if not n.startswith(".")]
    return os.path.join(d, name)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "musicflow_spark")):
        log(f"no musicflow_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
