"""Streaming session/rolling operators: drive with file-source micro-batches
into a memory sink and check emitted results against batch semantics."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.streaming.sessions import (
    rolling_counts_stream,
    sessionize_stream,
)


@pytest.fixture()
def stream_input(spark, tmp_path):
    """JSON-lines file source: two ips; ip A has a 45-min gap (2 sessions)."""
    rows = [
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:00:00"},
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:05:00"},
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:50:00"},
        {"client_ip": "2.2.2.2", "time": "2025-05-26 12:00:00"},
        # late-horizon event that advances the watermark past everything
        {"client_ip": "9.9.9.9", "time": "2025-05-26 20:00:00"},
    ]
    d = tmp_path / "in"
    d.mkdir()
    (d / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "client_ip string, time timestamp"
    return spark.readStream.schema(schema).json(str(d))


def _run_to_memory(df, name, timeout_s=60):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_sessionize_stream_gap_semantics(spark, stream_input):
    out = sessionize_stream(stream_input, gap="30 minutes", watermark="0 seconds")
    _run_to_memory(out, "sessions_out")
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    by_ip = {}
    for r in rows:
        by_ip.setdefault(r.client_ip, []).append(r)
    # ip1: 45-min gap -> two closed sessions (2 events + 1 event)
    ip1 = sorted(by_ip.get("1.1.1.1", []), key=lambda r: r.session_start)
    assert [r.event_count for r in ip1] == [2, 1]
    assert by_ip["2.2.2.2"][0].event_count == 1


def test_rolling_counts_stateful_exact_boundary(spark, tmp_path):
    """applyInPandasWithState variant: exact per-event trailing count with
    the reference's left-OPEN (t-300s, t] frame."""
    from advanced_elb_logs_etl_spark.streaming.sessions import rolling_counts_stateful

    rows = [
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:00:00"},
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:03:00"},
        # exactly 300s after the first event -> first event excluded
        {"client_ip": "1.1.1.1", "time": "2025-05-26 12:05:00"},
    ]
    d = tmp_path / "statein"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    src = spark.readStream.schema("client_ip string, time timestamp").json(str(d))
    _run_to_memory(rolling_counts_stateful(src, window_sec=300), "state_out")
    got = [
        r.trailing_count
        for r in spark.sql("SELECT * FROM state_out ORDER BY event_time").collect()
    ]
    assert got == [1, 2, 2]


def test_rolling_counts_stream(spark, stream_input):
    out = rolling_counts_stream(
        stream_input, window="10 minutes", slide="5 minutes", watermark="0 seconds"
    )
    _run_to_memory(out, "rolling_out")
    rows = spark.sql(
        "SELECT * FROM rolling_out WHERE client_ip='1.1.1.1' ORDER BY window_start"
    ).collect()
    # events at 12:00 and 12:05: the [12:00,12:10) window holds both
    counts = {(r.window_start.strftime("%H:%M"), r.req_count) for r in rows}
    assert ("12:00", 2) in counts


def test_streaming_parse_incremental(spark, tmp_path):
    """Batch parse operators lifted onto a file stream: drop two gz objects
    in sequence; each micro-batch parses only the new file."""
    from elb_fixtures import corpus, make_line, write_gz
    from datetime import datetime
    from advanced_elb_logs_etl_spark.streaming.pipeline import parse_alb_stream

    d = tmp_path / "drops"
    d.mkdir()
    write_gz(str(d / "b1.gz"), corpus())
    out = parse_alb_stream(spark, str(d))
    q = (
        out.selectExpr("client_ip", "status_code_type", "request_year")
        .writeStream.format("memory").queryName("parse_stream").outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) FROM parse_stream").first()[0]
        assert n1 == 13  # valid lines of the fixture corpus
        write_gz(str(d / "b2.gz"), [make_line(datetime(2025, 6, 1, 9, 0, 0), ip="9.9.9.9")])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM parse_stream").collect()
        assert len(rows) == 14
        assert any(r.client_ip == "9.9.9.9" for r in rows)
        assert all(r.status_code_type in {"2xx_Success", "4xx_ClientError",
                                          "5xx_ServerError"} for r in rows)
    finally:
        q.stop()


def test_streaming_parse_survives_corrupt_file(spark, tmp_path):
    """A truncated gz landing in the stream directory must not kill the
    query (the streaming source needs the session conf, not the reader
    option — regression pinned)."""
    import gzip
    from elb_fixtures import corpus, make_line, write_gz
    from datetime import datetime
    from advanced_elb_logs_etl_spark.streaming.pipeline import parse_alb_stream

    d = tmp_path / "drops2"
    d.mkdir()
    write_gz(str(d / "b1.gz"), corpus())
    q = (
        parse_alb_stream(spark, str(d)).selectExpr("client_ip")
        .writeStream.format("memory").queryName("corrupt_stream").outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        before = spark.sql("SELECT count(*) FROM corrupt_stream").first()[0]
        bad = d / "bad.gz"
        with gzip.open(bad, "wt") as fh:
            fh.write("y" * 500)
        data = bad.read_bytes()
        bad.write_bytes(data[: len(data) // 2])
        write_gz(str(d / "b2.gz"), [make_line(datetime(2025, 6, 1, 10, 0), ip="7.7.7.7")])
        q.processAllAvailable()
        after = spark.sql("SELECT count(*) FROM corrupt_stream").first()[0]
        assert after == before + 1
    finally:
        q.stop()


def test_rolling_counts_stateful_late_event_frame(spark, tmp_path):
    """A late event's count must reflect ITS OWN frame — state entries with
    later timestamps are ignored (review finding, pinned)."""
    from advanced_elb_logs_etl_spark.streaming.sessions import rolling_counts_stateful

    d = tmp_path / "latein"
    d.mkdir()
    (d / "b1.json").write_text(json.dumps({"client_ip": "k", "time": "2025-05-26 12:10:00"}))
    src = spark.readStream.schema("client_ip string, time timestamp").json(str(d))
    q = (rolling_counts_stateful(src, window_sec=300)
         .writeStream.format("memory").queryName("late_out").outputMode("append").start())
    try:
        q.processAllAvailable()
        # late event 10 minutes earlier, within the 1h watermark
        (d / "b2.json").write_text(json.dumps({"client_ip": "k", "time": "2025-05-26 12:00:00"}))
        q.processAllAvailable()
        got = {r.event_time.strftime("%H:%M"): r.trailing_count
               for r in spark.sql("SELECT * FROM late_out").collect()}
        assert got["12:10"] == 1
        # frame (11:55, 12:00] contains only the late event itself
        assert got["12:00"] == 1
    finally:
        q.stop()


def test_stream_alb_pipeline_end_to_end(spark, tmp_path):
    """Full streaming pipeline: gz drop -> parse -> stream-static geo join
    -> features -> watermarked hourly agg, append mode. The 12:00 window
    closes when the 20:00 horizon event advances the watermark; uncached
    ips are dropped by the null-country filter (batch parity)."""
    from datetime import datetime, timedelta

    from advanced_elb_logs_etl_spark.operators.geo import GEO_CACHE_SCHEMA
    from advanced_elb_logs_etl_spark.streaming.pipeline import stream_alb_pipeline
    from elb_fixtures import UA_BOT, make_line, write_gz

    base = datetime(2025, 5, 26, 12, 0, 0)
    lines = [make_line(base + timedelta(minutes=i), ip="1.1.1.1") for i in range(5)]
    lines += [
        make_line(base, ip="2.2.2.2", status=404),
        make_line(base + timedelta(minutes=1), ip="2.2.2.2", status=503),
        make_line(base + timedelta(minutes=2), ip="3.3.3.3", ua=UA_BOT),
        make_line(base + timedelta(minutes=4), ip="3.3.3.3", ua=UA_BOT),
        # watermark horizon: must be a CACHED ip — rows filtered before the
        # watermark operator cannot advance event time
        make_line(base + timedelta(hours=8), ip="9.9.9.9"),
    ]
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    write_gz(str(in_dir / "drop0.gz"), lines)

    def geo_row(ip, country, city):
        return {f.name: None for f in GEO_CACHE_SCHEMA.fields} | {
            "query": ip, "status": "success", "country": country, "city": city,
        }

    cache_path = str(tmp_path / "geo_cache.parquet")
    spark.createDataFrame(
        [geo_row("1.1.1.1", "United States", "New York"),
         geo_row("2.2.2.2", "United States", "New York"),
         geo_row("3.3.3.3", "Germany", "Berlin"),
         geo_row("9.9.9.9", "France", "Paris")],
        GEO_CACHE_SCHEMA,
    ).write.mode("overwrite").parquet(cache_path)

    out = stream_alb_pipeline(spark, str(in_dir), cache_path, watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("hourly_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {(r.countryName, r.city): r
            for r in spark.sql("SELECT * FROM hourly_stream").collect()}
    # only the 12:00 window is closed; the 20:00 horizon window stays open
    assert set(rows) == {("United States", "New York"), ("Germany", "Berlin")}
    us = rows[("United States", "New York")]
    assert us.window_start == base and us.window_end == base + timedelta(hours=1)
    assert us.request_count == 7
    assert us.unique_client_ips_count == 2
    assert (us.count_2xx, us.count_4xx, us.count_5xx) == (5, 1, 1)
    assert us.median_total_processing_time == 304.0
    de = rows[("Germany", "Berlin")]
    assert de.request_count == 2 and de.count_2xx == 2
    assert de.sum_received_bytes == 2 * 74 and de.sum_sent_bytes == 2 * 1013


def test_dedup_stream_drops_replays(spark, tmp_path):
    import json as _json

    from advanced_elb_logs_etl_spark.streaming.sessions import dedup_stream

    d = tmp_path / "dedup_in"
    d.mkdir()
    rows = [
        {"msg_id": "a", "client_ip": "1.1.1.1", "time": "2024-01-01T00:00:00Z"},
        {"msg_id": "a", "client_ip": "1.1.1.1", "time": "2024-01-01T00:00:05Z"},  # replay
        {"msg_id": "b", "client_ip": "1.1.1.1", "time": "2024-01-01T00:01:00Z"},
        {"msg_id": "a", "client_ip": "2.2.2.2", "time": "2024-01-01T00:02:00Z"},  # replay again
    ]
    (d / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema(
        "msg_id string, client_ip string, time timestamp"
    ).json(str(d))
    out = dedup_stream(stream, keys=["msg_id"], watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT msg_id FROM dedup_out").collect()
    assert sorted(r.msg_id for r in got) == ["a", "b"]


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-restart with a checkpointLocation: batch 1's rows are not
    re-emitted after restart, and batch 2's rows arrive exactly once — the
    recovery contract a production stream relies on."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")
    schema = "msg_id string, time timestamp"
    rows1 = [
        {"msg_id": "a", "time": "2024-01-01T00:00:00Z"},
        {"msg_id": "b", "time": "2024-01-01T00:01:00Z"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))

    def start():
        stream = spark.readStream.schema(schema).json(str(src))
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.msg_id for r in spark.read.parquet(sink).collect()) == ["a", "b"]

    rows2 = [{"msg_id": "c", "time": "2024-01-01T00:02:00Z"}]
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.msg_id for r in spark.read.parquet(sink).collect())
    assert got == ["a", "b", "c"]  # no duplicates of batch 1, c exactly once


def test_attribution_join_stream_horizon(spark, tmp_path):
    """Stream-stream interval join: a click within the 10-min horizon
    attributes to the view; one outside it (or on another key) does not."""
    import json as _json

    from advanced_elb_logs_etl_spark.streaming.sessions import attribution_join_stream

    vd = tmp_path / "views"; cd = tmp_path / "clicks"
    vd.mkdir(); cd.mkdir()
    (vd / "v.json").write_text("\n".join(_json.dumps(r) for r in [
        {"client_ip": "1.1.1.1", "view_time": "2024-01-01T00:00:00Z"},
        {"client_ip": "2.2.2.2", "view_time": "2024-01-01T00:00:00Z"},
    ]))
    (cd / "c.json").write_text("\n".join(_json.dumps(r) for r in [
        {"client_ip": "1.1.1.1", "click_time": "2024-01-01T00:05:00Z"},  # in horizon
        {"client_ip": "1.1.1.1", "click_time": "2024-01-01T00:30:00Z"},  # too late
        {"client_ip": "3.3.3.3", "click_time": "2024-01-01T00:01:00Z"},  # no view
    ]))
    views = spark.readStream.schema("client_ip string, view_time timestamp").json(str(vd))
    clicks = spark.readStream.schema("client_ip string, click_time timestamp").json(str(cd))
    out = attribution_join_stream(views, clicks)
    q = out.writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM attr_out").collect()
    assert len(rows) == 1
    assert rows[0].client_ip == "1.1.1.1" and str(rows[0].click_time).endswith("00:05:00")


def test_per_row_band_keys_match_batch_kernel(spark):
    """streaming/neardup.band_key_rows (per-row HOF path) must produce the
    EXACT band keys the batch posexplode kernel produces — the invariant
    that lets the streaming LSH surface share the batch oracle."""
    from pyspark.sql import functions as F

    from advanced_elb_logs_etl_spark.operators import dedup
    from advanced_elb_logs_etl_spark.sources.testdata import load_table
    from advanced_elb_logs_etl_spark.streaming.neardup import band_key_rows

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    got = {
        (r.doc_id, r.band, r.key) for r in band_key_rows(docs).collect()
    }
    sigs = dedup.minhash_signatures(docs)
    want = set()
    for b in range(dedup.NUM_BANDS):
        for r in sigs.select("doc_id", dedup._band_key(b).alias("k")).collect():
            want.add((r.doc_id, b, r.k))
    # batch kernel keeps all docs incl. shingle-less; per-row path drops
    # them — compare on the per-row domain and assert only empty docs differ
    missing = want - got
    empty_ids = {
        r.doc_id
        for r in dedup.with_shingle_hashes(docs)
        .where(F.size("hashes") == 0)
        .collect()
    }
    assert got <= want
    assert {d for d, _, _ in missing} <= empty_ids


def test_replay_parquet_sink_empty_emission(spark):
    """A replayed query that never emits an output batch (append-mode
    build whose triggers all filter to nothing) must return an EMPTY
    frame with the sink schema under sink='parquet' — matching the
    memory sink — not raise path-not-found (ADVICE r6)."""
    from advanced_elb_logs_etl_spark.streaming.replay import replay_stream

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")

    def build(stream):
        return stream.filter(F.col("id") < 0).select("id", "v")

    for sink in ("parquet", "memory"):
        got = replay_stream(
            spark, docs, build, output_mode="append", sink=sink,
            query_name=f"empty_{sink}",
        )
        assert got.count() == 0
        assert got.columns == ["id", "v"]


def test_stage_cache_misses_for_another_application(spark):
    """The shared staged-source cache is keyed on the application id: a
    copy staged by another application (a restarted context) is never
    reused, and clear_stage_cache removes every staged copy."""
    import os
    import tempfile

    from advanced_elb_logs_etl_spark.streaming import replay

    key = ("stage_cache_app_test",)
    foreign = tempfile.mkdtemp(prefix="sparkgraft_stage_")
    stale = os.path.join(foreign, "src")
    spark.createDataFrame([(9, "z")], "id bigint, v string").write.parquet(stale)
    replay._STAGE_CACHE[("another-application",) + key] = stale
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    try:
        got = replay.replay_stream(
            spark, docs, lambda s: s.select("id", "v"), "stage_cache",
            output_mode="append", staging_key=key,
        )
        assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (2, "b")]
        own = replay._STAGE_CACHE[(spark.sparkContext.applicationId,) + key]
        assert own != stale and os.path.isdir(own)
    finally:
        replay.clear_stage_cache()
    assert not os.path.exists(foreign) and not os.path.exists(own)
