"""Feature-engineering edge tests: Eastern-wall-clock date parts across DST
and ISO-week/year boundaries (verified against Python zoneinfo +
isocalendar — the same semantics the reference gets from pytz/pandas), and
source resilience parity (corrupt gz files are skipped, not fatal)."""

from __future__ import annotations

import gzip
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators.features import add_features
from advanced_elb_logs_etl_spark.operators.sessions import add_session_features
from advanced_elb_logs_etl_spark.sources.elb import read_alb_lines
from elb_fixtures import corpus, make_line, write_gz

EASTERN = ZoneInfo("America/New_York")

# UTC instants that straddle interesting boundaries in Eastern local time:
BOUNDARY_UTC = [
    datetime(2025, 1, 1, 2, 30),    # UTC new year; still 2024 in Eastern!
    datetime(2024, 12, 30, 1, 0),   # ISO week 1 of 2025 starts 2024-12-30
    datetime(2025, 3, 9, 6, 30),    # DST spring-forward gap morning (EST->EDT)
    datetime(2025, 3, 9, 7, 30),    # just after the jump
    datetime(2025, 11, 2, 5, 30),   # fall-back morning (ambiguous local hour)
    datetime(2025, 6, 15, 12, 0),   # plain summer control
]


def test_eastern_date_parts_match_zoneinfo(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(BOUNDARY_UTC)],
        "client_ip string, time timestamp",
    ).withColumn("path", F.lit("/a/b")).withColumn("elb_status_code", F.lit("200")) \
     .withColumn("target_status_code", F.lit("200")) \
     .withColumn("received_bytes", F.lit("1")).withColumn("sent_bytes", F.lit("1"))
    out = {r.client_ip: r for r in add_features(df).collect()}
    for i, t_utc in enumerate(BOUNDARY_UTC):
        local = t_utc.replace(tzinfo=timezone.utc).astimezone(EASTERN)
        r = out[str(i)]
        assert (r.request_year, r.request_month, r.request_day, r.request_hour) == (
            local.year, local.month, local.day, local.hour
        ), f"instant {t_utc} -> local {local}"
        assert r.request_day_of_week == local.strftime("%A")
        assert r.request_week_of_year == local.isocalendar().week


def test_corrupt_gz_skipped_not_fatal(spark, tmp_path):
    """Reference behavior (:169-171): a bad input object degrades to a logged
    error; the rest of the batch still processes."""
    good = write_gz(str(tmp_path / "good.gz"), corpus())
    bad = tmp_path / "bad.gz"
    with gzip.open(bad, "wt") as fh:
        fh.write("x" * 1000)
    # truncate mid-stream -> invalid gzip trailer
    data = bad.read_bytes()
    bad.write_bytes(data[: len(data) // 2])

    df = read_alb_lines(spark, [str(tmp_path)])
    n = df.count()
    assert n == len(corpus())  # every line of the good file, none of the bad


@pytest.mark.parametrize("n_files", [2, 8])
def test_read_alb_lines_explicit_file_list(spark, tmp_path, n_files):
    """An explicit multi-file list reads every file (the run_pipeline
    path when ELB_INPUT_PATHS names several inputs)."""
    lines = corpus()
    paths = [
        write_gz(str(tmp_path / f"alb{i}.gz"), lines[: i + 1])
        for i in range(n_files)
    ]
    df = read_alb_lines(spark, paths)
    assert df.count() == sum(i + 1 for i in range(n_files))
    assert df.select("log_source_file").distinct().count() == n_files


def test_pipeline_checkpoint_materialization(spark, tmp_path):
    """materialize='checkpoint_dir:<path>' writes the intermediate frame to
    parquet and re-reads it for the sink fan-out (the 100 TB variant)."""
    from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

    gz = write_gz(str(tmp_path / "alb.gz"), corpus())
    ckpt = str(tmp_path / "ckpt")
    config = PipelineConfig(
        input_paths=[gz],
        output_dir=str(tmp_path / "out"),
        geo_cache_path=str(tmp_path / "cache.parquet"),
        materialize=f"checkpoint_dir:{ckpt}",
    )
    paths = run_pipeline(spark, config, transport=None)
    assert spark.read.parquet(ckpt).count() == 13
    assert spark.read.parquet(paths["cleaned_logs"]).count() == 13


def test_session_tiebreak_deterministic_on_equal_timestamps(spark):
    """ADVICE r1 pin: on duplicate (key, time) pairs the pipeline path
    (add_session_features, no explicit tiebreak) must order by a row-content
    hash, so prev_time / new_session / session_id are identical regardless
    of input row order or partitioning."""
    t0 = datetime(2025, 1, 1, 12, 0, tzinfo=timezone.utc)
    rows = [
        ("1.1.1.1", t0, 10.0, "GET /a"),
        ("1.1.1.1", t0, 20.0, "GET /b"),      # exact tie with /a
        ("1.1.1.1", t0, 30.0, "GET /c"),      # three-way tie
        ("1.1.1.1", datetime(2025, 1, 1, 13, 0, tzinfo=timezone.utc), 40.0, "GET /d"),
    ]
    schema = ("client_ip string, time timestamp, "
              "total_processing_time_ms double, request string")

    def run(ordering):
        df = spark.createDataFrame(ordering, schema).repartition(4)
        out = add_session_features(df)
        return sorted(
            (r.request, r.prev_time, r.new_session, r.session_id,
             r.rolling_5min_req_count, r.rolling_1h_avg_proc_time)
            for r in out.collect()
        )

    first = run(rows)
    assert first == run(list(reversed(rows)))
    assert first == run([rows[2], rows[0], rows[3], rows[1]])
    # the helper tiebreak column must not leak into the output schema
    df = spark.createDataFrame(rows, schema)
    assert "_order_tiebreak" not in add_session_features(df).columns
