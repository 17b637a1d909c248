"""Streaming Count-Min sketch (streaming/cmstream.py): slicing
invariance (streamed cumulative cells == single-pass batch build),
retry idempotence, a real micro-batch replay, and the DuckDB twin
rehearsal for the queued r10 gate (`stream_cm_point_frequency`)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import cmsketch as cm
from advanced_elb_logs_etl_spark.streaming import cmstream as cms
from advanced_elb_logs_etl_spark.streaming.store import fold_batch

W, D = 64, 4


def _rows(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


BATCHES = [list("aaabbc"), list("aabbbbddddde"), list("cccccfffa")]
ALL = [k for b in BATCHES for k in b]


def test_batch_fold_equals_single_build(spark):
    state = None
    for keys in BATCHES:
        out = cms.cm_batch_step(_rows(spark, keys), state, width=W, depth=D)
        state = spark.createDataFrame(
            out.collect(), "row int, bucket int, cnt bigint"
        )
    whole = cm.cm_build(_rows(spark, ALL), width=W, depth=D)
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_process_batch_retry_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_cms_") as store:
        fold_batch(_rows(spark, BATCHES[0]), 0, store, *cms.cm_fold("key", W, D))
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *cms.cm_fold("key", W, D))
        first = sorted(
            map(tuple, cms.current_sketch(spark, store).collect())
        )
        # a retried batch must read only batch-0 state and overwrite
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *cms.cm_fold("key", W, D))
        assert (
            sorted(map(tuple, cms.current_sketch(spark, store).collect()))
            == first
        )


def test_replay_equals_batch_build_and_estimates(spark):
    rows = [(i, k) for i, k in enumerate(ALL)]
    df = spark.createDataFrame(rows, "rid bigint, key string")
    got = cms.replay_cm(
        spark, df.select("rid", "key"), "key", width=W, depth=D,
        num_batches=3, order_col="rid",
    )
    whole = cm.cm_build(_rows(spark, ALL), width=W, depth=D)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # the streamed sketch answers point queries exactly like the batch one
    probes = _rows(spark, sorted(set(ALL)) + ["absent"])
    est = {
        r.key: r.est
        for r in cm.cm_estimate(got, probes, width=W, depth=D).collect()
    }
    exact = {k: ALL.count(k) for k in set(ALL)}
    for k, n in exact.items():
        assert est[k] >= n, k


def test_empty_store_and_geometry_guard(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_cms_") as store:
        assert cms.current_sketch(spark, store).collect() == []
    with pytest.raises(ValueError):
        cms.cm_stream(None, "/tmp/x", width=0)


# --- the registered r10 streaming gate, rehearsed against DuckDB ---------
# Registration body moved to plans/catalog_r10.py in round 10; the
# rehearsal imports the registered entry.

from advanced_elb_logs_etl_spark.plans.catalog_r10 import (  # noqa: E402
    _STREAM_CM_ORACLE as STREAM_CM_ORACLE_QUEUED_R10,
    q_stream_cm_point_frequency,
)


def test_queued_stream_gate_matches_duckdb_twin(spark):
    """Full driver-protocol rehearsal of the queued r10 streaming entry
    at sf0.01 (real micro-batch engine on the Spark side)."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    sdf = q_stream_cm_point_frequency(spark, sf)
    scols = sorted(sdf.columns)
    srows = sorted(
        tuple(str(x) for x in r) for r in sdf.select(*scols).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    d = con.execute(STREAM_CM_ORACLE_QUEUED_R10)
    cols = [c[0] for c in d.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    drows = sorted(tuple(str(r[i]) for i in idx) for r in d.fetchall())
    assert sorted(cols) == scols
    assert srows == drows
    assert len(srows) >= 2


def test_store_prunes_superseded_snapshots(spark):
    """ADVICE r10: the cumulative store keeps only the latest snapshot
    and its immediate predecessor (the retry-read target) — older
    batch partitions are deleted after a successful write, so store
    size is bounded on a long-lived stream."""
    import os

    with tempfile.TemporaryDirectory(prefix="sparkgraft_cms_") as store:
        for i, keys in enumerate(BATCHES):
            fold_batch(_rows(spark, keys), i, store, *cms.cm_fold("key", W, D))
        cells_dir = os.path.join(store, "cells")
        kept = sorted(
            d for d in os.listdir(cells_dir) if d.startswith("batch=")
        )
        assert kept == ["batch=1", "batch=2"]
        # the surviving latest snapshot still equals the single-pass build
        whole = cm.cm_build(_rows(spark, ALL), width=W, depth=D)
        assert sorted(
            map(tuple, cms.current_sketch(spark, store).collect())
        ) == sorted(map(tuple, whole.collect()))
        # a retry of the LAST batch still sees its predecessor
        fold_batch(_rows(spark, BATCHES[2]), 2, store, *cms.cm_fold("key", W, D))
        assert sorted(
            map(tuple, cms.current_sketch(spark, store).collect())
        ) == sorted(map(tuple, whole.collect()))


# --- grouped streaming CM: per-group cells on the stream -------------------

G_BATCHES = [
    [("h1", k) for k in list("aaabbc")] + [("h2", "z")],
    [("h1", k) for k in list("bcdd")],
    [("h2", k) for k in list("zzy")] + [("h1", "a")],
]
G_ALL = [r for b in G_BATCHES for r in b]


def _grows(spark, rows):
    return spark.createDataFrame(rows, "hour string, key string")


def _cells_by_group(rows):
    out = {}
    for r in rows:
        out.setdefault(r.hour, {})[(r.row, r.bucket)] = r.cnt
    return out


def test_grouped_batch_fold_equals_single_grouped_build(spark):
    state = None
    for rows in G_BATCHES:
        out = cms.cm_grouped_batch_step(
            _grows(spark, rows), state, ["hour"], width=W, depth=D
        )
        state = spark.createDataFrame(
            out.collect(), "hour string, row int, bucket int, cnt long"
        )
    whole = cm.cm_build_grouped(_grows(spark, G_ALL), ["hour"], width=W, depth=D)
    assert _cells_by_group(state.collect()) == _cells_by_group(whole.collect())


def test_grouped_process_batch_retry_and_missing_group(spark):
    """Retry reads only prior state and overwrites; a batch missing a
    group carries that group's cells forward verbatim (cell counts are
    monotone per group — the no-sentinel argument)."""
    import tempfile

    fold = cms.cm_fold_grouped(["hour"], "hour string", "key", W, D)
    with tempfile.TemporaryDirectory(prefix="sparkgraft_gcm_") as store:
        fold_batch(_grows(spark, G_BATCHES[0]), 0, store, *fold)
        # batch 1 has NO h2 rows: h2 cells must survive unchanged
        fold_batch(_grows(spark, G_BATCHES[1]), 1, store, *fold)
        first = _cells_by_group(
            cms.current_sketch_grouped(spark, store, "hour string").collect()
        )
        want01 = _cells_by_group(
            cm.cm_build_grouped(
                _grows(spark, G_BATCHES[0] + G_BATCHES[1]), ["hour"],
                width=W, depth=D,
            ).collect()
        )
        assert first == want01
        fold_batch(_grows(spark, G_BATCHES[1]), 1, store, *fold)  # retry
        assert (
            _cells_by_group(
                cms.current_sketch_grouped(
                    spark, store, "hour string"
                ).collect()
            )
            == first
        )


def test_grouped_replay_equals_batch_build_and_estimates(spark):
    """Real 3-batch replay == the batch grouped build; per-(group, key)
    estimates from the streamed cells match cm_estimate_grouped of that
    build and stay one-sided vs true per-group counts."""
    rows = [(i, h, k_) for i, (h, k_) in enumerate(G_ALL)]
    df = spark.createDataFrame(rows, "rid bigint, hour string, key string")
    got = cms.replay_cm_grouped(
        spark, df.select("rid", "hour", "key"), ["hour"], "hour string",
        "key", width=W, depth=D, num_batches=3, order_col="rid",
    )
    whole = cm.cm_build_grouped(_grows(spark, G_ALL), ["hour"], width=W, depth=D)
    assert _cells_by_group(got.collect()) == _cells_by_group(whole.collect())
    probes = spark.createDataFrame(
        [(k,) for k in ["a", "b", "z", "absent"]], "key string"
    )
    est = {
        (r.hour, r.key): r.est
        for r in cm.cm_estimate_grouped(
            got, probes, ["hour"], width=W, depth=D
        ).collect()
    }
    truth = {}
    for h, k_ in G_ALL:
        truth[(h, k_)] = truth.get((h, k_), 0) + 1
    for (h, k_), e in est.items():
        assert e >= truth.get((h, k_), 0), (h, k_)


def test_grouped_empty_store_and_guards(spark):
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sparkgraft_gcm_") as store:
        assert (
            cms.current_sketch_grouped(
                spark, store, "hour string"
            ).collect()
            == []
        )
    with pytest.raises(ValueError, match="use cm_stream"):
        cms.cm_stream_grouped(None, "/tmp/x", [], "hour string")
    with pytest.raises(ValueError):
        cms.cm_stream_grouped(None, "/tmp/x", ["hour"], "hour string", width=0)
