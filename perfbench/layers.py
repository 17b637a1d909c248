"""The traced run: per-layer metrics, measured from outside the program.

A traced run replaces the timed run in its process: same set-up, same
warmth, one run of the workload with spans around the benchmark's calls
into each layer's public functions.  For ``elb_pipeline`` the pipeline's
own calls are timed by rebinding the names ``plans.pipeline`` imported
to timing wrappers for the duration of the run (the program's code is
unchanged), and a stage split follows.  Each operation runs under its
own Spark job group, so the event log's task, shuffle and spill numbers
can be attributed to it.  The time spent inside the tracer's own probes
is its overhead (``trace.overhead_s``).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import checks
import probes

#: Per-layer metric name -> unit; every traced run reports all of them
#: (0 for a layer the workload does not run).
PER_LAYER: dict[str, str] = {
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.files": "count",
    "parse.parse_s": "s",
    "parse.lines_in": "count",
    "parse.lines_rejected": "count",
    "geo.enrich_s": "s",
    "geo.hit_ratio": "ratio",
    "features.features_s": "s",
    "sessions.windows_s": "s",
    "sessions.shuffle_write_bytes": "bytes",
    "sessions.spill_bytes": "bytes",
    "pipeline.persist_s": "s",
    "pipeline.persist_bytes": "bytes",
    "pipeline.shuffle_partitions": "count",
    "reports.cleaned_logs_s": "s",
    "reports.hourly_agg_s": "s",
    "reports.error_report_s": "s",
    "reports.bot_reports_s": "s",
    "reports.files_written": "count",
    "reports.bytes_written": "bytes",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_nodes": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "fetch.rows": "count",
    "fetch.bytes": "bytes",
    "iter.jobs": "count",
    "iter.build_s": "s",
    "iter.plan_nodes": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.harness_s": "s",
    "streaming.state_rows": "count",
    "storage.cached_rdds_end": "count",
    "storage.cached_bytes_end": "bytes",
    "storage.cached_bytes_peak": "bytes",
    "session.temp_dirs_left": "count",
    "session.conf_changed": "count",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "failed_share": "ratio",
}

#: The correctness window's queries built by the driver-driven iterative
#: operators (operators.graph, operators.cc, operators.bpe).
ITERATIVE = {"kcore_copurchase_report", "alternating_components", "bpe_train_merges"}


@dataclass
class TracedResult:
    tracer: probes.Tracer
    values: dict[str, float] = field(default_factory=dict)
    operations: list[dict] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: job group -> the layer whose work it ran
    groups: dict[str, str] = field(default_factory=dict)

    def record(self, failures: list[str]) -> None:
        """Count one operation, failed when it has any failure."""
        self.attempted += 1
        self.failed += bool(failures)
        self.failures.extend(failures)


class _Hygiene:
    """Storage, conf and temp-dir probes around each operation; their
    time counts as tracing overhead."""

    def __init__(self, spark, tracer: probes.Tracer, tmp_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.tmp_dir = tmp_dir
        with tracer.probing():
            self.tmp_before = set(os.listdir(tmp_dir))
            self.peak = probes.storage_snapshot(spark)["bytes"]
        self.conf_changed = 0
        self._conf: dict[str, str] = {}

    def before(self) -> None:
        with self.tracer.probing():
            self._conf = probes.conf_snapshot(self.spark)

    def sample(self) -> int:
        """Cached bytes now, kept in the peak."""
        with self.tracer.probing():
            cached = probes.storage_snapshot(self.spark)["bytes"]
        self.peak = max(self.peak, cached)
        return cached

    def after(self) -> dict:
        with self.tracer.probing():
            snap = probes.storage_snapshot(self.spark)
            changed = probes.conf_changes(self._conf, probes.conf_snapshot(self.spark))
        self.peak = max(self.peak, snap["bytes"])
        self.conf_changed += changed
        return {"cached_rdds": snap["rdds"], "cached_bytes": snap["bytes"],
                "conf_changed": changed}

    def close(self, values: dict) -> None:
        with self.tracer.probing():
            snap = probes.storage_snapshot(self.spark)
            left = set(os.listdir(self.tmp_dir)) - self.tmp_before
        values["storage.cached_rdds_end"] = snap["rdds"]
        values["storage.cached_bytes_end"] = snap["bytes"]
        values["storage.cached_bytes_peak"] = max(self.peak, snap["bytes"])
        values["session.temp_dirs_left"] = len(left)
        values["session.conf_changed"] = self.conf_changed


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


# ------------------------------------------------------------ elb_pipeline


def _elb_traced_pipeline(workload, spark, res: TracedResult, run_id: str,
                         hygiene: _Hygiene) -> float:
    """One ``run_pipeline`` call with its calls into each layer timed.
    The persisted frame is materialized (counted) before the first sink,
    so that the persist is timed on its own instead of inside that sink."""
    from pyspark.sql import Observation

    from advanced_elb_logs_etl_spark.plans import pipeline

    tr = res.tracer
    obs = Observation(f"perfbench_pipeline_parse_{len(tr.spans)}")
    span_s: dict[str, float] = {}
    persisted: dict[str, float] = {}
    originals = {}

    def wrap(attr: str, span_name: str, group: str | None = None, before=None):
        fn = getattr(pipeline, attr)
        originals[attr] = fn

        def timed(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with tr.span(span_name) as sp:
                if group is not None:
                    _group(spark, f"{run_id}:{group}")
                    res.groups[f"{run_id}:{group}"] = group
                out = fn(*args, **kwargs)
            span_s[span_name] = tr.duration(sp)
            return out

        setattr(pipeline, attr, timed)

    def add_observation(args, kwargs):
        kwargs["observation"] = obs

    def materialize_persist(args, kwargs):
        with tr.span("plans.pipeline.persist") as sp:
            _group(spark, f"{run_id}:persist")
            res.groups[f"{run_id}:persist"] = "persist"
            args[0].count()
        persisted["s"] = tr.duration(sp)
        persisted["bytes"] = hygiene.sample()

    wrap("autosize_for_inputs", "plans.pipeline.autosize")
    wrap("read_alb_lines", "sources.elb.read_alb_lines")
    wrap("parse_alb_lines", "operators.parse.parse_alb_lines", before=add_observation)
    wrap("enrich_with_geolocation", "operators.geo.enrich_with_geolocation")
    wrap("add_features", "operators.features.add_features")
    wrap("add_session_features", "operators.sessions.add_session_features")
    wrap("write_cleaned_logs", "reports.cleaned_logs", "cleaned_logs", before=materialize_persist)
    wrap("write_hourly_aggregation", "reports.hourly_agg", "hourly_agg")
    wrap("write_error_report", "reports.error_report", "error_report")
    wrap("write_bot_traffic_reports", "reports.bot_reports", "bot_reports")
    cfg = workload.config(os.path.join(workload.inputs, "logs"), workload.output)
    hygiene.before()
    try:
        with tr.span("run", workload="elb_pipeline") as run_span:
            paths = pipeline.run_pipeline(spark, cfg, transport=None)
    finally:
        for attr, fn in originals.items():
            setattr(pipeline, attr, fn)
        spark.sparkContext.setJobGroup("", "")
    detail = hygiene.after()
    run_s = tr.duration(run_span)

    v = res.values
    v["exec.action_s"] = run_s  # every pipeline call ends in a write action
    v["pipeline.persist_s"] = persisted.get("s", 0.0)
    v["pipeline.persist_bytes"] = persisted.get("bytes", 0)
    v["pipeline.shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for sink in ("cleaned_logs", "hourly_agg", "error_report", "bot_reports"):
        v[f"reports.{sink}_s"] = span_s.get(f"reports.{sink}", 0.0)
    files, size = 0, 0
    for root, _dirs, names in os.walk(workload.output):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    v["reports.files_written"] = files
    v["reports.bytes_written"] = size
    observed = obs.get
    v["parse.lines_in"] = observed.get("lines_in", 0)
    v["parse.lines_rejected"] = observed.get("lines_rejected", 0)

    failures = checks.check_sinks(paths, workload.tallies)
    failures += checks.check_parse_counts(observed, workload.tallies)
    if not failures:
        counts = checks.sink_counts(paths)
        v["geo.hit_ratio"] = 1.0 - counts["unk_rows"] / counts["cleaned_rows"]
    res.record(failures)
    res.operations.append({"op": "run_pipeline", "seconds": run_s, "spans_s": span_s,
                           "parse_observation": observed, **detail})
    return run_s


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _elb_stage_split(workload, spark, res: TracedResult, run_id: str) -> None:
    """Noop-materialize each public stage function's output in turn
    (the faster of two writes); a stage's time is its cumulative time
    minus the previous stage's, so a stage that costs next to nothing
    can read slightly negative."""
    from pyspark.sql import Observation

    from advanced_elb_logs_etl_spark.operators.features import add_features
    from advanced_elb_logs_etl_spark.operators.geo import enrich_with_geolocation
    from advanced_elb_logs_etl_spark.operators.parse import parse_alb_lines
    from advanced_elb_logs_etl_spark.operators.sessions import add_session_features
    from advanced_elb_logs_etl_spark.session import apply_runtime_confs
    from advanced_elb_logs_etl_spark.sources.elb import read_alb_lines

    cfg = workload.config(os.path.join(workload.inputs, "logs"), workload.output)
    apply_runtime_confs(spark)
    tr = res.tracer
    obs = Observation(f"perfbench_parse_{len(tr.spans)}")
    stages = [
        ("sources.scan", lambda _: read_alb_lines(spark, cfg.input_paths)),
        ("operators.parse", lambda df: parse_alb_lines(df, observation=obs)),
        ("operators.geo", lambda df: enrich_with_geolocation(
            spark, df, cfg.geo_cache_path, transport=None)),
        ("operators.features", add_features),
        ("operators.sessions", add_session_features),
    ]
    df = None
    cumulative = []
    with tr.span("elb.stage_split"):
        for name, fn in stages:
            with tr.span(name):
                with tr.span(f"{name}.build"):
                    df = fn(df)
                writes = []
                for attempt in range(2):  # the faster of two damps the noise
                    group = f"{run_id}:split:{name}:{attempt}"
                    if attempt == 0:  # the counters of one write feed the metrics
                        res.groups[group] = name
                    _group(spark, group)
                    with tr.span(f"{name}.noop_write") as sp:
                        _noop(df)
                    writes.append(tr.duration(sp))
            cumulative.append(min(writes))
            if name == "sources.scan":
                res.values["sources.files"] = len(df.inputFiles())
    spark.sparkContext.setJobGroup("", "")
    split_obs = obs.get
    res.record(checks.check_parse_counts(split_obs, workload.tallies))
    marginal = [cumulative[0]] + [b - a for a, b in zip(cumulative, cumulative[1:])]
    for key, secs in zip(["sources.scan_s", "parse.parse_s", "geo.enrich_s",
                          "features.features_s", "sessions.windows_s"], marginal):
        res.values[key] = secs
    logs = os.path.join(workload.inputs, "logs")
    res.values["sources.input_bytes"] = sum(
        os.path.getsize(os.path.join(logs, n)) for n in os.listdir(logs))
    res.operations.append({"op": "stage_split", "cumulative_s": cumulative,
                           "marginal_s": marginal, "parse_observation": split_obs})


def _trace_elb(workload, spark, res, run_id, hygiene) -> float:
    """The traced pipeline run first, as cold as a timed run; then the
    stage split."""
    run_s = _elb_traced_pipeline(workload, spark, res, run_id, hygiene)
    _elb_stage_split(workload, spark, res, run_id)
    return run_s


# ------------------------------------------------------------ query_window


def _settle(listener, quiet_s: float = 0.3, limit_s: float = 5.0) -> None:
    """Wait until no streaming progress event arrived for ``quiet_s``."""
    deadline = time.perf_counter() + limit_s
    seen = listener.count()
    while time.perf_counter() < deadline:
        time.sleep(quiet_s)
        now = listener.count()
        if now == seen:
            return
        seen = now


def _traced_query(workload, spark, res, run_id, name, listener, hygiene) -> tuple:
    """One query with its build and action in spans under their own job
    groups; returns (op detail, result frame or None, failures)."""
    tr = res.tracer
    build_group = f"{run_id}:{name}:build"
    action_group = f"{run_id}:{name}:action"
    res.groups[action_group] = "action"
    events_before = listener.count()
    hygiene.before()
    op = {"op": name}
    pdf, failures = None, []
    with tr.span(f"query:{name}") as q_span:
        try:
            with tr.span("plans.catalog.build") as b_span:
                _group(spark, build_group)
                df = workload.fns[name](spark, workload.tables)
            with tr.span("exec.action") as a_span:
                _group(spark, action_group)
                pdf = df.toPandas()
            with tr.probing():
                op.update(
                    build_s=tr.duration(b_span), action_s=tr.duration(a_span),
                    build_jobs=probes.jobs_in_group(spark, build_group),
                    fetch_rows=len(pdf),
                    fetch_bytes=int(pdf.memory_usage(deep=True).sum()),
                    phases_ms=probes.planning_phases_ms(df),
                    plan_nodes=probes.plan_nodes(df),
                )
        except Exception as exc:  # an operation that raised counts as failed
            failures.append(f"{name} raised: {exc!r}"[:300])
        finally:
            spark.sparkContext.setJobGroup("", "")
        if name.startswith("stream_"):
            with tr.span("streaming.settle"), tr.probing():
                _settle(listener)
    op["seconds"] = tr.duration(q_span)
    op["streaming"] = listener.since(events_before)
    op.update(hygiene.after())
    return op, pdf, failures


def _trace_query_window(workload, spark, res, run_id, hygiene) -> float:
    listener = probes.make_progress_listener()
    spark.streams.addListener(listener)
    frames = {}
    try:
        with res.tracer.span("run", workload="query_window") as run_span:
            for name in workload.names:
                op, frames[name], failures = _traced_query(
                    workload, spark, res, run_id, name, listener, hygiene)
                op["failures"] = failures
                res.operations.append(op)
    finally:
        spark.streams.removeListener(listener)
    for op in res.operations:
        pdf = frames.get(op["op"])
        if pdf is not None:
            op["failures"] += checks.check_query(workload.oracle, op["op"], pdf)
        res.record(op["failures"])

    ok = [o for o in res.operations if "build_s" in o]
    it = [o for o in ok if o["op"] in ITERATIVE]
    v = res.values
    v["catalog.build_s"] = sum(o["build_s"] for o in ok)
    v["catalog.build_jobs"] = sum(o["build_jobs"] for o in ok)
    v["catalyst.analysis_ms"] = sum(o["phases_ms"]["analysis"] for o in ok)
    v["catalyst.optimization_ms"] = sum(o["phases_ms"]["optimization"] for o in ok)
    v["catalyst.planning_ms"] = sum(o["phases_ms"]["planning"] for o in ok)
    v["catalyst.plan_nodes"] = sum(o["plan_nodes"] for o in ok)
    v["exec.action_s"] = sum(o["action_s"] for o in ok)
    v["fetch.rows"] = sum(o["fetch_rows"] for o in ok)
    v["fetch.bytes"] = sum(o["fetch_bytes"] for o in ok)
    v["iter.jobs"] = sum(o["build_jobs"] for o in it)
    v["iter.build_s"] = sum(o["build_s"] for o in it)
    v["iter.plan_nodes"] = sum(o["plan_nodes"] for o in it)

    streamed = [o for o in res.operations if o["streaming"]]
    events = [e for o in streamed for e in o["streaming"]]
    trigger_ms = sum(e["duration_ms"].get("triggerExecution", 0) for e in events)
    v["streaming.batches"] = len(events)
    v["streaming.input_rows"] = sum(e["input_rows"] for e in events)
    v["streaming.trigger_ms"] = trigger_ms
    v["streaming.add_batch_ms"] = sum(e["duration_ms"].get("addBatch", 0) for e in events)
    v["streaming.query_planning_ms"] = sum(
        e["duration_ms"].get("queryPlanning", 0) for e in events)
    v["streaming.commit_ms"] = sum(
        e["duration_ms"].get("commitOffsets", 0) + e["duration_ms"].get("walCommit", 0)
        for e in events)
    in_call = sum(o.get("build_s", 0.0) + o.get("action_s", 0.0) for o in streamed)
    v["streaming.harness_s"] = in_call - trigger_ms / 1000.0
    last_state: dict[str, int] = {}
    for e in events:
        last_state[e["query_id"]] = e["state_rows"]
    v["streaming.state_rows"] = sum(last_state.values())
    return res.tracer.duration(run_span)


# ------------------------------------------------------------ entry points


def traced_run(workload, spark, run_id: str, work: str) -> TracedResult:
    res = TracedResult(probes.Tracer(run_id))
    res.values = {k: 0 for k in PER_LAYER}
    hygiene = _Hygiene(spark, res.tracer, os.path.join(work, "tmp"))
    if workload.name == "elb_pipeline":
        run_s = _trace_elb(workload, spark, res, run_id, hygiene)
    else:
        run_s = _trace_query_window(workload, spark, res, run_id, hygiene)
    hygiene.close(res.values)
    res.values["trace.run_s"] = run_s
    res.values["trace.overhead_s"] = res.tracer.probe_s
    res.record([f"trace: {e}" for e in probes.nesting_errors(res.tracer.spans)])
    return res


def finish(res: TracedResult, log_dir: str) -> dict[str, tuple[float, str]]:
    """Fold the event log (complete once the session stopped) into the
    exec and window-shuffle metrics, and return every per-layer metric
    but ``failed_share``, which the caller adds."""
    totals = probes.event_log_totals(log_dir)
    v = res.values
    exec_groups = [g for g, layer in res.groups.items()
                   if not layer.startswith(("sources.", "operators."))]
    for key in ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        v[f"exec.{key}"] = sum(totals.get(g, {}).get(key, 0) for g in exec_groups)
    windows = [g for g, layer in res.groups.items() if layer == "operators.sessions"]
    v["sessions.shuffle_write_bytes"] = sum(
        totals.get(g, {}).get("shuffle_write_bytes", 0) for g in windows)
    v["sessions.spill_bytes"] = sum(totals.get(g, {}).get("spill_bytes", 0) for g in windows)
    res.operations.append({"op": "event_log", "groups": totals})
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER if k != "failed_share"}
