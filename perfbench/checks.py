"""Correctness gates, run outside the timed window.

- Catalog queries: each Spark result (fetched through ``toPandas``, the
  path the catalog's correctness check uses) must equal its DuckDB
  oracle after the normalization ``tools/oracle_sim.py`` defines, and the
  oracle's declared types must pass that tool's type gate.
- ELB pipeline: the sinks' row counts must equal the input generator's
  own tallies.

Each check returns a list of failure strings; empty means it passed.
"""

from __future__ import annotations

import glob
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from oracle_sim import _norm, _pdf_rows, type_gate  # noqa: E402


class Oracle:
    """DuckDB over the generated tables, answering each query's oracle
    SQL once and caching the normalized rows.  ``oracles`` maps the
    checked query names to their SQL; all of them pass the type gate at
    construction."""

    def __init__(self, tables_dir: str, table_names, oracles: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for t in table_names:
            path = os.path.join(tables_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.oracles = oracles
        self.type_bad = type_gate(self.con, oracles)
        self._rows: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._rows:
            self._rows[name] = normalized(self.con.execute(self.oracles[name]).df())
        return self._rows[name]


def normalized(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted rows with columns in that order)."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    rows = sorted(tuple(_norm(r[j]) for j in order) for r in _pdf_rows(pdf))
    return [cols[j] for j in order], rows


def check_query(oracle: Oracle, name: str, pdf) -> list[str]:
    if name not in oracle.oracles:
        return [f"{name}: no oracle"]
    failures = []
    bad_type = oracle.type_bad.get(name)
    if bad_type:
        failures.append(f"{name}: oracle type gate: {bad_type}")
    cols, rows = normalized(pdf)
    want_cols, want_rows = oracle.expected(name)
    if cols != want_cols:
        failures.append(f"{name}: columns {cols} != oracle {want_cols}")
    elif len(rows) != len(want_rows):
        failures.append(f"{name}: {len(rows)} rows != oracle {len(want_rows)}")
    elif rows != want_rows:
        diff = sum(1 for a, b in zip(rows, want_rows) if a != b)
        failures.append(f"{name}: {diff} rows differ from oracle")
    return failures


# ------------------------------------------------------------- ELB sinks


def sink_counts(paths: dict[str, str]) -> dict[str, int]:
    """Row counts read back with DuckDB from the sinks ``run_pipeline``
    wrote (``paths`` is the mapping it returns)."""
    import duckdb

    def files(sink: str, pattern: str) -> list[str]:
        found = sorted(glob.glob(os.path.join(paths[sink], pattern), recursive=True))
        if not found:
            raise FileNotFoundError(f"sink {sink} wrote no {pattern} files")
        return found

    con = duckdb.connect()
    cleaned = files("cleaned_logs", "**/*.parquet")
    total, unk = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE countryCode = 'UNK') "
        "FROM read_parquet(?, hive_partitioning = true)", [cleaned]).fetchone()
    hourly = con.execute(
        "SELECT coalesce(sum(request_count), 0) FROM read_parquet(?)",
        [files("hourly_agg", "*.parquet")]).fetchone()[0]
    errors = sum(
        con.execute("SELECT count(*) FROM read_csv(?, header = true, all_varchar = true)",
                    [f]).fetchone()[0]
        for f in files("error_report", "*.csv"))
    bots = con.execute("SELECT count(*) FROM read_parquet(?)",
                       [files("bot_details", "*.parquet")]).fetchone()[0]
    files("bot_summary", "*.csv")
    con.close()
    return {"cleaned_rows": int(total), "unk_rows": int(unk), "hourly_request_count": int(hourly),
            "error_rows": int(errors), "bot_rows": int(bots)}


def check_sinks(paths: dict[str, str], tallies: dict) -> list[str]:
    try:
        got = sink_counts(paths)
    except Exception as exc:  # a missing or unreadable sink is a failed check
        return [f"sinks unreadable: {exc}"]
    want = {
        "cleaned_rows": tallies["lines_kept"],
        "unk_rows": tallies["unk_rows"],
        "hourly_request_count": tallies["cached_rows"],
        "error_rows": tallies["error_rows"],
        "bot_rows": tallies["bot_rows"],
    }
    return [f"{k}: sinks have {got[k]}, generator tallied {v}"
            for k, v in want.items() if got[k] != v]


def check_parse_counts(observed: dict, tallies: dict) -> list[str]:
    """The parser's own ``lines_in``/``lines_rejected`` observation."""
    want = {"lines_in": tallies["lines"], "lines_rejected": tallies["lines_rejected_arity"]}
    return [f"{k}: parser observed {observed.get(k)}, generator tallied {v}"
            for k, v in want.items() if observed.get(k) != v]
