#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload elb_pipeline --seed 1 --seconds 30 --trace 0

Run from the root of the repository (or of a checkout of it).  With
``--trace 0`` the last stdout line is one JSON object with the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics of a separate
traced run, and the spans and per-operation detail go to a trace file
whose path is printed before it.  Inputs are generated from ``--seed``
under ``.perfbench_work/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3


def _environment() -> None:
    """Pin parallelism, memory and every scratch location inside the
    checkout before the JVM starts."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Parallel GC over a fixed heap and young generation: peak RSS then
    # follows retained memory instead of G1's heap-sizing heuristics.
    # No perf-data files: a JVM writes them under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC "
                 f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn512m -XX:-UseAdaptiveSizePolicy")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions={java_opts}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _enable_event_log(log_dir: str) -> None:
    os.makedirs(log_dir, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        + os.environ["PYSPARK_SUBMIT_ARGS"]
    )


def _start_session():
    from advanced_elb_logs_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Shut the driver JVM down and wait for it (its Python workers end
    with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _setup(workload, prepare_s: float):
    """Set up ``SETUP_REPS`` times (session start, warm-up) and keep the
    last session.  The first repetition counts from process start, minus
    input generation; later ones stop and restart the session."""
    times = []
    spark = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _start_session()
        workload.warm(spark)
        elapsed = time.perf_counter() - t0
        if rep == 0:
            elapsed = time.perf_counter() - _PROCESS_T0 - prepare_s
        times.append(elapsed)
    return spark, times


def _timed_runs(workload, spark, seconds: float) -> list:
    """Closed loop: at least the workload's ``MIN_PASSES``, then pass
    after pass while the next one, taking as long as the last, still ends
    within ``seconds``."""
    runs = []
    t0 = time.perf_counter()
    while (len(runs) < workload.MIN_PASSES
           or time.perf_counter() - t0 + runs[-1].seconds <= seconds):
        runs.append(workload.run(spark))
    return runs


def _untraced_median(workload: str) -> float | None:
    """Median run time of the untraced runs of ``workload`` recorded in
    this checkout, if any."""
    import glob

    times = []
    for path in glob.glob(os.path.join(WORK, f"run-{workload}-*.json")):
        with open(path) as fh:
            times.extend(r["seconds"] for r in json.load(fh)["runs"] if not r["warm"])
    return statistics.median(times) if times else None


def end_to_end(workload, runs, setup_times, rss_mb) -> dict:
    """Every end-to-end metric, for either workload: a workload's
    operations are its queries (``query_window``) or its pipeline calls
    (``elb_pipeline``), and its input lines are its log lines or the
    rows of its tables.  ``runs`` are the measured passes, warm-up passes
    left out."""
    from workloads import percentile

    run_s = statistics.median(r.seconds for r in runs)
    ops = workload.op_latencies(runs)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "run_s": (run_s, "s"),
        "lines_per_s": (workload.input_lines() / run_s, "lines/s"),
        "query_p50_s": (percentile(ops, 0.5), "s"),
        "query_p80_s": (percentile(ops, 0.8), "s"),
        "peak_rss_mb": (sum(rss_mb.values()), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # Fail fast, before any work, when the program is not beside us.
    import advanced_elb_logs_etl_spark.plans.pipeline  # noqa: F401
    import __spark_entry__  # noqa: F401

    import probes as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    _environment()
    conditions = tr.RunConditions()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    log_dir = os.path.join(WORK, "eventlog", run_id)
    if args.trace:
        _enable_event_log(log_dir)

    workload = WORKLOADS[args.workload](args.seed, WORK)
    p0 = time.perf_counter()
    workload.prepare()
    prepare_s = time.perf_counter() - p0

    spark, setup_times = _setup(workload, prepare_s)
    conditions.versions(spark)
    runs = []
    try:
        if args.trace:
            import layers

            runs = [workload.run(spark) for _ in range(workload.WARM_PASSES)]
            result = layers.traced_run(workload, spark, run_id, WORK)
        else:
            runs = _timed_runs(workload, spark, args.seconds)
        rss = tr.peak_rss_mb(spark)
    finally:
        spark.stop()
        _stop_jvm()
    record = {"run_id": run_id, "conditions": conditions.finish(),
              "setup_s": setup_times, "prepare_s": prepare_s, "peak_rss_mb": rss}
    print(json.dumps({"run_conditions": record["conditions"]}))

    failures = [f for r in runs for f in r.failures]
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    if args.trace:
        metrics = layers.finish(result, log_dir)
        failures += result.failures
        attempted += result.attempted
        failed += result.failed
        metrics["failed_share"] = (failed / attempted, "ratio")
        untraced = _untraced_median(args.workload)
        overhead = {"probe_s": result.tracer.probe_s, "untraced_median_run_s": untraced,
                    "traced_minus_untraced_median_s":
                        None if untraced is None else metrics["trace.run_s"][0] - untraced}
        record.update(overhead=overhead, spans=result.tracer.spans,
                      operations=result.operations, metrics=metrics, failures=failures)
        path = os.path.join(WORK, f"trace-{run_id}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
        print(f"tracing overhead: {json.dumps(overhead)}")
        print(f"trace file: {path}")
    else:
        metrics = end_to_end(workload, runs[workload.WARM_PASSES:], setup_times, rss)
        record.update(runs=[{"seconds": r.seconds, "warm": i < workload.WARM_PASSES,
                             "attempted": r.attempted, "failed": r.failed,
                             "latencies": r.latencies} for i, r in enumerate(runs)],
                      failures=failures)
        with open(os.path.join(WORK, f"run-{run_id}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        shown = dict(metrics, failed_share=(failed / attempted, "ratio"))
        print("metrics: " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in shown.items()))
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
