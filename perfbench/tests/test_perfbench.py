"""The benchmark's own tests: input generators are seed-deterministic,
each correctness check fails on a tampered result, spans nest, and
BENCHMARK.json names exactly the metrics the runner prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen_alb  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from workloads import RunResult  # noqa: E402

SMALL = dict(lines=3000, files=4, ips=200)


def _tree(d):
    return sorted(os.path.relpath(os.path.join(r, n), d)
                  for r, _ds, ns in os.walk(d) for n in ns)


# ------------------------------------------------------------- generators


def test_alb_same_seed_same_bytes_and_tallies(tmp_path):
    a = gen_alb.generate(str(tmp_path / "a"), 7, **SMALL)
    b = gen_alb.generate(str(tmp_path / "b"), 7, **SMALL)
    assert a == b
    files = _tree(tmp_path / "a")
    assert files == _tree(tmp_path / "b")
    _match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files,
                                                shallow=False)
    assert not mismatch and not errors


def test_alb_other_seed_other_bytes_and_tallies(tmp_path):
    a = gen_alb.generate(str(tmp_path / "a"), 7, **SMALL)
    b = gen_alb.generate(str(tmp_path / "b"), 8, **SMALL)
    assert {k: v for k, v in a.items() if k != "seed"} != {
        k: v for k, v in b.items() if k != "seed"}
    logs = sorted(os.listdir(tmp_path / "a" / "logs"))
    _match, mismatch, _errors = filecmp.cmpfiles(tmp_path / "a" / "logs",
                                                 tmp_path / "b" / "logs", logs, shallow=False)
    assert mismatch


def test_alb_tallies_are_consistent(tmp_path):
    t = gen_alb.generate(str(tmp_path), 3, **SMALL)
    assert t["lines_kept"] + t["lines_rejected_arity"] + t["lines_rejected_timestamp"] == t["lines"]
    assert t["cached_rows"] + t["unk_rows"] == t["lines_kept"]
    assert 0 < t["bot_rows"] < t["lines_kept"] and 0 < t["error_rows"] < t["lines_kept"]
    assert len(os.listdir(tmp_path / "logs")) == SMALL["files"]


def test_tables_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen_tables.generate(str(tmp_path / name), seed, sf=0.001)
    files = [f"{t}.parquet" for t in gen_tables.TABLES]
    _m, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors
    _m, mismatch, _e = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    assert "lineitem.parquet" in mismatch


# ------------------------------------------------------------- checks


@pytest.fixture()
def oracle(tmp_path):
    gen_tables.generate(str(tmp_path), 1, sf=0.001)
    sql = "SELECT n_regionkey AS k, count(*) AS n FROM nation GROUP BY n_regionkey"
    return checks.Oracle(str(tmp_path), gen_tables.TABLES, {"q": sql})


def test_query_check_passes_on_the_oracle_result(oracle):
    pdf = oracle.con.execute(oracle.oracles["q"]).df()
    assert checks.check_query(oracle, "q", pdf.iloc[::-1]) == []


@pytest.mark.parametrize("tamper", ["value", "row", "column"])
def test_query_check_fails_on_a_tampered_result(oracle, tamper):
    pdf = oracle.con.execute(oracle.oracles["q"]).df()
    if tamper == "value":
        pdf.loc[0, "n"] = pdf.loc[0, "n"] + 1
    elif tamper == "row":
        pdf = pdf.iloc[1:]
    else:
        pdf = pdf.rename(columns={"n": "count"})
    assert checks.check_query(oracle, "q", pdf)


def test_query_check_fails_on_an_oracle_outside_the_type_gate(tmp_path):
    gen_tables.generate(str(tmp_path), 1, sf=0.001)
    o = checks.Oracle(str(tmp_path), gen_tables.TABLES,
                      {"q": "SELECT sum(n_regionkey)::HUGEINT AS s FROM nation"})
    pdf = o.con.execute(o.oracles["q"]).df()
    assert any("type gate" in f for f in checks.check_query(o, "q", pdf))


PATHS = ("cleaned_logs", "hourly_agg", "error_report", "bot_details", "bot_summary")


def _fake_sinks(out, tallies):
    """Sink files shaped like the pipeline's, with the tallied row counts;
    returns the sink paths the way ``run_pipeline`` does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def part(path, table):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)

    kept, unk = tallies["lines_kept"], tallies["unk_rows"]
    part(os.path.join(out, "cleaned_logs", "year=2025", "month=05", "day=26",
                      "countryCode=US", "part-0.parquet"), pa.table({"x": range(kept - unk)}))
    part(os.path.join(out, "cleaned_logs", "year=2025", "month=05", "day=26",
                      "countryCode=UNK", "part-0.parquet"), pa.table({"x": range(unk)}))
    paths = {k: os.path.join(out, k) for k in PATHS}
    part(os.path.join(paths["hourly_agg"], "part-0.parquet"),
         pa.table({"request_count": [tallies["cached_rows"] - 1, 1]}))
    part(os.path.join(paths["bot_details"], "part-0.parquet"),
         pa.table({"x": range(tallies["bot_rows"])}))
    for sink, rows in (("error_report", tallies["error_rows"]), ("bot_summary", 2)):
        d = paths[sink]
        os.makedirs(d, exist_ok=True)
        half = rows // 2
        for i, n in enumerate((half, rows - half)):
            pd.DataFrame({"ua": ["Mozilla/5.0 (KHTML, like Gecko)"] * n}).to_csv(
                os.path.join(d, f"part-{i}.csv"), index=False)
    return paths


TALLIES = {"lines": 1000, "lines_rejected_arity": 6, "lines_kept": 988, "unk_rows": 90,
           "cached_rows": 898, "error_rows": 80, "bot_rows": 101}


def test_sink_check_passes_on_matching_outputs(tmp_path):
    paths = _fake_sinks(str(tmp_path), TALLIES)
    assert checks.check_sinks(paths, TALLIES) == []


@pytest.mark.parametrize("key", ["lines_kept", "unk_rows", "cached_rows", "error_rows",
                                 "bot_rows"])
def test_sink_check_fails_on_each_tampered_count(tmp_path, key):
    paths = _fake_sinks(str(tmp_path), dict(TALLIES, **{key: TALLIES[key] - 1}))
    assert checks.check_sinks(paths, TALLIES)


def test_sink_check_fails_on_a_missing_sink(tmp_path):
    paths = _fake_sinks(str(tmp_path), TALLIES)
    for n in os.listdir(paths["bot_summary"]):
        os.remove(os.path.join(paths["bot_summary"], n))
    assert checks.check_sinks(paths, TALLIES)


def test_parse_count_check_fails_on_tampered_observation():
    good = {"lines_in": 1000, "lines_rejected": 6}
    assert checks.check_parse_counts(good, TALLIES) == []
    assert checks.check_parse_counts(dict(good, lines_rejected=5), TALLIES)
    assert checks.check_parse_counts(dict(good, lines_in=999), TALLIES)


# ------------------------------------------------------------- spans, contract


def test_spans_nest_and_an_escaping_span_is_reported():
    tr = probes.Tracer("t")
    with tr.span("run"):
        with tr.span("child"):
            with tr.span("grandchild"):
                pass
    assert probes.nesting_errors(tr.spans) == []
    assert [s["parent"] for s in tr.spans] == [None, 0, 1]
    tr.spans[2]["end"] = tr.spans[0]["end"] + 1.0
    assert probes.nesting_errors(tr.spans)


# ------------------------------------------------------------ pass loop


class _Passes:
    """A workload whose passes take the given seconds on a fake clock."""

    def __init__(self, monkeypatch, seconds, warm=0, least=1):
        self.seconds, self.WARM_PASSES, self.MIN_PASSES = list(seconds), warm, least
        self.now = 0.0
        monkeypatch.setattr(run.time, "perf_counter", lambda: self.now)

    def run(self, spark):
        took = self.seconds.pop(0)
        self.now += took
        return RunResult(took)


def test_pass_loop_makes_the_minimum_then_stops_before_overrunning(monkeypatch):
    w = _Passes(monkeypatch, [17.0, 10.0, 10.0, 10.0, 10.0], warm=1, least=4)
    assert len(run._timed_runs(w, None, 30.0)) == 4
    w = _Passes(monkeypatch, [22.0, 22.0])
    assert len(run._timed_runs(w, None, 30.0)) == 1


def test_pass_loop_continues_while_the_next_pass_fits(monkeypatch):
    w = _Passes(monkeypatch, [5.0] * 9)
    assert len(run._timed_runs(w, None, 30.0)) == 6


def test_warm_up_passes_stay_out_of_the_medians():
    class Fake:
        def input_lines(self):
            return 100

        def op_latencies(self, runs):
            return [r.seconds for r in runs]

    passes = [RunResult(17.0), RunResult(10.0), RunResult(11.0), RunResult(9.0)]
    m = run.end_to_end(Fake(), passes[1:], [1.0, 2.0, 3.0], {"python": 1.0, "jvm": 2.0})
    assert m["run_s"] == (10.0, "s")
    assert m["setup_s"] == (2.0, "s")
    assert m["lines_per_s"] == (10.0, "lines/s")


def test_benchmark_json_names_what_the_runner_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["elb_pipeline", "query_window"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s": "s", "run_s": "s", "lines_per_s": "lines/s",
                   "query_p50_s": "s", "query_p80_s": "s", "peak_rss_mb": "MB"}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
