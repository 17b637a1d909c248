"""Run instrumentation from outside the program: spans, Spark counters,
storage and session hygiene probes, and the run-conditions record.

The Spark surfaces read are the status tracker, the event log, the
action's ``QueryPlanningTracker`` and optimized plan (through the
DataFrame's JVM handle), ``getRDDStorageInfo`` and a Python
``StreamingQueryListener``.  Nothing is installed into the program;
spans wrap the benchmark's own calls into the program's public functions.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. A span is (id, name, parent, run, start,
    end, attrs); ``start``/``end`` are seconds since the tracer began.
    Spans opened inside another span get it as parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        #: seconds spent inside the tracer's own probes: its overhead
        self.probe_s = 0.0

    @contextmanager
    def probing(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.probe_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def nesting_errors(spans: list[dict]) -> list[str]:
    """Every span must be closed and lie within its parent's interval."""
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errors.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errors.append(f"span {s['id']} {s['name']} has unknown parent")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            errors.append(f"span {s['id']} {s['name']} escapes parent {p['id']} {p['name']}")
    return errors


# ------------------------------------------------------------ Spark counters


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def planning_phases_ms(df) -> dict[str, int]:
    """Analysis/optimization/planning ms from the DataFrame's
    ``QueryPlanningTracker`` (read after its action ran)."""
    tracker = df._jdf.queryExecution().tracker()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = tracker.phases().get(phase)
        out[phase] = int(summary.get().durationMs()) if summary.isDefined() else 0
    return out


def plan_nodes(df) -> int:
    """Nodes in the optimized logical plan (one treeString line each)."""
    return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())


def storage_snapshot(spark) -> dict[str, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return {
        "rdds": len(cached),
        "bytes": int(sum(i.memSize() + i.diskSize() for i in cached)),
    }


def conf_snapshot(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def conf_changes(before: dict[str, str], after: dict[str, str]) -> int:
    return sum(1 for k in before.keys() | after.keys() if before.get(k) != after.get(k))


def _event_log_files(log_dir: str) -> list[str]:
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files.extend(os.path.join(root, n) for n in names)
    return sorted(files)


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, task seconds, input, shuffle and
    spill bytes, attributed through the job-group property the way
    ``tools/query_metrics.py`` does.  Read after the session stopped, so
    the log is complete."""
    totals: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return totals.setdefault(group, dict(
            jobs=0, stages=0, tasks=0, task_s=0.0, input_bytes=0,
            shuffle_write_bytes=0, shuffle_read_bytes=0,
            spill_bytes=0, spill_memory_bytes=0,
        ))

    for path in _event_log_files(log_dir):
        app_stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    t = bucket(group)
                    t["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        app_stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = (ev.get("Stage Info") or {}).get("Stage ID")
                    g = app_stage_group.get(sid)
                    if g is not None:
                        bucket(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = app_stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    t = bucket(g)
                    t["tasks"] += 1
                    t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    srm = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += (srm.get("Local Bytes Read", 0)
                                                + srm.get("Remote Bytes Read", 0))
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["spill_memory_bytes"] += m.get("Memory Bytes Spilled", 0)
    return totals


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's
    batch id, input rows, phase durations and state rows, in arrival
    order."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "query_id": str(p.id),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def count(self) -> int:
            with self._lock:
                return len(self.events)

        def since(self, start: int) -> list[dict]:
            with self._lock:
                return list(self.events[start:])

    return ProgressLog()


# ------------------------------------------------------------ run conditions


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    values = [int(v) for v in fields]
    steal = values[7] if len(values) > 7 else 0
    return sum(values[:8]), steal


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


class RunConditions:
    """nproc, SPARK_GRAFT_CPUS, load average at start and end, CPU steal
    over the run, and the Spark and Java versions."""

    def __init__(self):
        self.record: dict = {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": platform.python_version(),
            "loadavg_start": _loadavg(),
        }
        self._jiffies = _cpu_jiffies()

    def versions(self, spark) -> None:
        self.record["spark"] = spark.version
        self.record["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")

    def finish(self) -> dict:
        total0, steal0 = self._jiffies
        total1, steal1 = _cpu_jiffies()
        self.record["loadavg_end"] = _loadavg()
        self.record["cpu_steal_share"] = (
            (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0)
        return self.record


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM of this Python process and of its driver JVM, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out = {}
    for name, pid in (("python", os.getpid()), ("jvm", jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out
