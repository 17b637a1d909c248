"""The benchmark's workloads.  Each one is a closed loop with one client:
one operation at a time, from this process, on ``local[$SPARK_GRAFT_CPUS]``.

A workload provides:

- ``prepare()`` — write its inputs from the seed, once per seed (not part
  of ``setup_s``);
- ``warm(spark)`` — the warm-up that is part of every set-up;
- ``run(spark)`` — one timed pass with its correctness check, returning
  ``RunResult``;
- ``WARM_PASSES`` — how many leading passes of a run only warm the JIT
  and code-generation caches: they are timed, checked and recorded, but
  left out of the medians (and run before the traced pass);
- ``MIN_PASSES`` — the fewest passes a run makes, warm-up passes
  included;
- ``input_lines()`` and ``op_latencies(runs)`` — what ``lines_per_s``
  and the ``query_p*_s`` percentiles are taken over.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import gen_alb
import gen_tables


@dataclass
class RunResult:
    seconds: float
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    latencies: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (``statistics.quantiles``,
    inclusive method), q in (0, 1)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


# ------------------------------------------------------------ elb_pipeline


class ElbPipeline:
    """``plans.pipeline.run_pipeline`` (the reference ``main()``, all five
    outputs written) over one directory of seeded gzip ALB logs, with the
    geo cache pre-seeded and no transport (offline)."""

    name = "elb_pipeline"
    WARM_PASSES = 0
    MIN_PASSES = 1
    WARM_FILES = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.inputs = os.path.join(work, f"alb-{seed}")
        self.output = os.path.join(work, f"elb-out-{seed}")
        self.warm_inputs = os.path.join(self.inputs, "warm")
        self.tallies: dict = {}

    def prepare(self) -> None:
        self.tallies = gen_alb.ensure(self.inputs, self.seed)
        if not os.path.isdir(self.warm_inputs):
            os.makedirs(self.warm_inputs + ".tmp", exist_ok=True)
            logs = os.path.join(self.inputs, "logs")
            for name in sorted(os.listdir(logs))[: self.WARM_FILES]:
                shutil.copyfile(os.path.join(logs, name),
                                os.path.join(self.warm_inputs + ".tmp", name))
            os.rename(self.warm_inputs + ".tmp", self.warm_inputs)

    def config(self, inputs: str, output: str):
        from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            input_paths=[inputs],
            output_dir=output,
            geo_cache_path=os.path.join(self.inputs, "geo_cache.parquet"),
        )

    def warm(self, spark) -> None:
        """The pipeline's lazy frame over the first input file,
        materialized with a noop write: warms scan, parse, enrich and
        window code without paying for the sinks."""
        from advanced_elb_logs_etl_spark.plans.pipeline import build_final_frame

        cfg = self.config(self.warm_inputs, self.output)
        frame = build_final_frame(spark, cfg.input_paths, cfg.geo_cache_path, transport=None)
        frame.write.format("noop").mode("overwrite").save()

    def run(self, spark) -> RunResult:
        from advanced_elb_logs_etl_spark.plans.pipeline import run_pipeline

        cfg = self.config(os.path.join(self.inputs, "logs"), self.output)
        t0 = time.perf_counter()
        try:
            paths = run_pipeline(spark, cfg, transport=None)
        except Exception as exc:  # an operation that raised counts as failed
            return RunResult(time.perf_counter() - t0, 1, 1,
                             [f"run_pipeline raised: {exc!r}"[:300]])
        seconds = time.perf_counter() - t0
        failures = checks.check_sinks(paths, self.tallies)
        return RunResult(seconds, 1, int(bool(failures)), failures)

    def input_lines(self) -> int:
        """Well-formed log lines in the input."""
        return self.tallies["lines_kept"]

    def op_latencies(self, runs: list[RunResult]) -> list[float]:
        """One ``run_pipeline`` call per run."""
        return [r.seconds for r in runs]


# ------------------------------------------------------------ query_window


class QueryWindow:
    """Twelve queries of the catalog's 50-query correctness window
    (registration order): its first query ``kcore_copurchase_report``, the
    ten at positions ``LIGHT`` and its cheapest stream replay, each in its
    registered form, one at a time, fetched with ``toPandas`` and checked
    against its DuckDB oracle outside the timed window.

    The whole window takes 60-80 s per pass on 4 cores.  A pass of these
    twelve takes 15-20 s cold, about 10 s next and 8-9 s once the JIT
    has settled, so a run holds two warm-up passes and three measured
    ones.  ``kcore`` keeps the
    iterative operators and the stream replay keeps ``streaming``;
    positions 1-2 (``sorted_neighborhood_linkage``, ``sq_adc_topk``), the
    two heaviest plain queries, are left out for time."""

    name = "query_window"
    WARM_PASSES = 2
    MIN_PASSES = 5
    WINDOW = 50
    ITERATIVE = "kcore_copurchase_report"
    LIGHT = range(3, 13)
    STREAM = "stream_latency_histogram"
    SF = 0.002
    #: two light queries of the window warm each set-up
    WARM_FROM, WARM_QUERIES = 3, 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.tables = os.path.join(work, f"tables-{seed}")
        self.names: list[str] = []
        self.fns: dict = {}
        self.oracle = None

    def prepare(self) -> None:
        import __spark_entry__ as entry

        gen_tables.ensure(self.tables, self.seed, self.SF)
        queries = entry.queries()
        window = list(queries)[: self.WINDOW]
        for name in (self.ITERATIVE, self.STREAM):
            if name not in window:
                raise ValueError(f"{name} left the catalog's correctness window")
        self.names = [self.ITERATIVE] + [window[i] for i in self.LIGHT] + [self.STREAM]
        self.fns = {n: queries[n] for n in self.names}
        oracles = entry.oracle_sql()
        self.oracle = checks.Oracle(self.tables, gen_tables.TABLES,
                                    {n: oracles[n] for n in self.names if n in oracles})

    def warm(self, spark) -> None:
        for name in self.names[self.WARM_FROM:self.WARM_FROM + self.WARM_QUERIES]:
            self.fns[name](spark, self.tables).toPandas()

    def run(self, spark) -> RunResult:
        result = RunResult(0.0)
        results = {}
        failed = set()
        t0 = time.perf_counter()
        for name in self.names:
            q0 = time.perf_counter()
            try:
                results[name] = self.fns[name](spark, self.tables).toPandas()
            except Exception as exc:  # an operation that raised counts as failed
                result.failures.append(f"{name} raised: {exc!r}"[:300])
                failed.add(name)
            result.latencies[name] = time.perf_counter() - q0
            result.attempted += 1
        result.seconds = time.perf_counter() - t0
        for name, pdf in results.items():
            problems = checks.check_query(self.oracle, name, pdf)
            if problems:
                failed.add(name)
                result.failures.extend(problems)
        result.failed = len(failed)
        return result

    def input_lines(self) -> int:
        """Rows of the generated tables."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(os.path.join(self.tables, f"{t}.parquet")).num_rows
                   for t in gen_tables.TABLES)

    def op_latencies(self, runs: list[RunResult]) -> list[float]:
        """Every query's latency in every pass: 36 samples for three
        measured passes."""
        return [r.latencies[n] for r in runs for n in self.names]


WORKLOADS = {w.name: w for w in (ElbPipeline, QueryWindow)}
