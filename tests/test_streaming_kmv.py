"""Streaming KMV sketch (streaming/kmvstream.py): slicing invariance
(streamed cumulative minima == single-pass batch build), retry
idempotence, snapshot pruning, a real micro-batch replay, and the
DuckDB twin rehearsal for the queued r11 gate (`stream_kmv_distinct`)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import kmv
from advanced_elb_logs_etl_spark.streaming import kmvstream as kms
from advanced_elb_logs_etl_spark.streaming.store import fold_batch

K = 8


def _rows(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


BATCHES = [
    [f"u{i}" for i in range(10)],
    [f"u{i}" for i in range(5, 25)],
    [f"u{i}" for i in range(20, 40)] + ["u1", "u2"],
]
ALL = [k for b in BATCHES for k in b]


def test_batch_fold_equals_single_build(spark):
    state = None
    for keys in BATCHES:
        out = kms.kmv_batch_step(_rows(spark, keys), state, k=K)
        state = spark.createDataFrame(out.collect(), "h long")
    whole = kmv.kmv_build(_rows(spark, ALL), k=K)
    assert sorted(r.h for r in state.collect()) == sorted(
        r.h for r in whole.collect()
    )


def test_process_batch_retry_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_kmv_") as store:
        fold_batch(_rows(spark, BATCHES[0]), 0, store, *kms.kmv_fold("key", K))
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *kms.kmv_fold("key", K))
        first = sorted(r.h for r in kms.current_kmv(spark, store).collect())
        # a retried batch must read only batch-0 state and overwrite
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *kms.kmv_fold("key", K))
        assert (
            sorted(r.h for r in kms.current_kmv(spark, store).collect())
            == first
        )


def test_store_prunes_superseded_snapshots(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_kmv_") as store:
        for i, keys in enumerate(BATCHES):
            fold_batch(_rows(spark, keys), i, store, *kms.kmv_fold("key", K))
        hashes_dir = os.path.join(store, "hashes")
        kept = sorted(
            d for d in os.listdir(hashes_dir) if d.startswith("batch=")
        )
        assert kept == ["batch=1", "batch=2"]
        whole = kmv.kmv_build(_rows(spark, ALL), k=K)
        assert sorted(
            r.h for r in kms.current_kmv(spark, store).collect()
        ) == sorted(r.h for r in whole.collect())


def test_replay_equals_batch_build_and_estimates(spark):
    rows = [(i, k) for i, k in enumerate(ALL)]
    df = spark.createDataFrame(rows, "rid bigint, key string")
    got = kms.replay_kmv(
        spark, df.select("rid", "key"), "key", k=K,
        num_batches=3, order_col="rid",
    )
    whole = kmv.kmv_build(_rows(spark, ALL), k=K)
    assert sorted(r.h for r in got.collect()) == sorted(
        r.h for r in whole.collect()
    )
    # the streamed sketch estimates exactly like the batch one
    est = kmv.kmv_estimate(got, k=K).collect()[0]
    want = kmv.kmv_estimate(whole, k=K).collect()[0]
    assert tuple(est) == tuple(want)


def test_empty_store_and_k_guard(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_kmv_") as store:
        assert kms.current_kmv(spark, store).collect() == []
    with pytest.raises(ValueError):
        kms.kmv_stream(None, "/tmp/x", k=1)


# --- the r11 streaming gate (REGISTERED in plans/catalog_r11.py; the
# rehearsal imports the registered body + oracle so it exercises the
# exact catalog entry — the catalog_r10/cmstream pattern) --------------

from advanced_elb_logs_etl_spark.plans.catalog_r11 import (  # noqa: E402
    STREAM_KMV_ORACLE as STREAM_KMV_ORACLE_QUEUED_R11,
    q_stream_kmv_distinct,
)


def test_queued_stream_gate_matches_duckdb_twin(spark):
    """Full driver-protocol rehearsal of the queued r11 streaming entry
    at sf0.01 (real micro-batch engine on the Spark side)."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    sdf = q_stream_kmv_distinct(spark, sf)
    scols = sorted(sdf.columns)
    srows = sorted(
        tuple(str(x) for x in r) for r in sdf.select(*scols).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    d = con.execute(STREAM_KMV_ORACLE_QUEUED_R11)
    cols = [c[0] for c in d.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    drows = sorted(tuple(str(r[i]) for i in idx) for r in d.fetchall())
    assert sorted(cols) == scols
    assert srows == drows
    assert len(srows) == 1


# --- grouped streaming KMV: per-group minima on the stream ----------------
# (the streaming form of the reference's per-hour COUNT(DISTINCT
# client_ip), reference :345-363)

G_BATCHES = [
    [("h1", f"u{i}") for i in range(10)] + [("h2", f"v{i}") for i in range(3)],
    [("h1", f"u{i}") for i in range(5, 25)],
    [("h2", f"v{i}") for i in range(2, 20)] + [("h1", "u1")],
]
G_ALL = [r for b in G_BATCHES for r in b]


def _grows(spark, rows):
    return spark.createDataFrame(rows, "hour string, key string")


def _by_group(frame_rows):
    out = {}
    for r in frame_rows:
        out.setdefault(r.hour, []).append(r.h)
    return {g: sorted(v) for g, v in out.items()}


def test_grouped_batch_fold_equals_single_grouped_build(spark):
    from advanced_elb_logs_etl_spark.operators import kmv as kmv_ops

    state = None
    for rows in G_BATCHES:
        out = kms.kmv_grouped_batch_step(
            _grows(spark, rows), state, ["hour"], k=K
        )
        state = spark.createDataFrame(out.collect(), "hour string, h long")
    whole = kmv_ops.kmv_build_grouped(_grows(spark, G_ALL), ["hour"], k=K)
    assert _by_group(state.collect()) == _by_group(whole.collect())


def test_grouped_process_batch_retry_idempotent_and_missing_group(spark):
    """A retried batch reads only prior state and overwrites; a batch
    that misses a group entirely carries that group's prior minima
    forward verbatim (the no-sentinel argument, per group)."""
    import tempfile

    fold = kms.kmv_fold_grouped(["hour"], "hour string", "key", K)
    with tempfile.TemporaryDirectory(prefix="sparkgraft_gkmv_") as store:
        fold_batch(_grows(spark, G_BATCHES[0]), 0, store, *fold)
        # batch 1 has NO h2 rows: h2 state must survive unchanged
        fold_batch(_grows(spark, G_BATCHES[1]), 1, store, *fold)
        first = _by_group(
            kms.current_kmv_grouped(spark, store, "hour string").collect()
        )
        from advanced_elb_logs_etl_spark.operators import kmv as kmv_ops

        want01 = _by_group(
            kmv_ops.kmv_build_grouped(
                _grows(spark, G_BATCHES[0] + G_BATCHES[1]), ["hour"], k=K
            ).collect()
        )
        assert first == want01
        fold_batch(_grows(spark, G_BATCHES[1]), 1, store, *fold)  # retry
        assert (
            _by_group(
                kms.current_kmv_grouped(spark, store, "hour string").collect()
            )
            == first
        )


def test_grouped_replay_equals_batch_build_and_estimates(spark):
    """Real 3-batch micro-batch replay == the batch grouped build, and
    the per-group estimates match kmv_estimate_grouped of that build."""
    from advanced_elb_logs_etl_spark.operators import kmv as kmv_ops

    rows = [(i, h, k_) for i, (h, k_) in enumerate(G_ALL)]
    df = spark.createDataFrame(rows, "rid bigint, hour string, key string")
    got = kms.replay_kmv_grouped(
        spark, df.select("rid", "hour", "key"), ["hour"], "hour string",
        "key", k=K, num_batches=3, order_col="rid",
    )
    whole = kmv_ops.kmv_build_grouped(
        _grows(spark, G_ALL), ["hour"], k=K
    )
    assert _by_group(got.collect()) == _by_group(whole.collect())
    est_stream = {
        r.hour: (r.n_hashes, r.est_distinct)
        for r in kmv_ops.kmv_estimate_grouped(got, ["hour"], k=K).collect()
    }
    est_batch = {
        r.hour: (r.n_hashes, r.est_distinct)
        for r in kmv_ops.kmv_estimate_grouped(whole, ["hour"], k=K).collect()
    }
    assert est_stream == est_batch
    # real distinct counts per group, exact where under k
    truth = {}
    for h, k_ in G_ALL:
        truth.setdefault(h, set()).add(k_)
    for g, (n, est) in est_batch.items():
        if n < K:
            assert est == len(truth[g]), g


def test_streamed_store_feeds_pairwise_retention(spark):
    """Composition pin: the grouped minima STREAMED through real
    micro-batches feed kmv_pairwise_intersect unchanged — the streaming
    retention matrix equals the batch one because the per-group states
    are identical (slicing invariance), no re-scan of the corpus."""
    from advanced_elb_logs_etl_spark.operators import kmv as kmv_ops

    rows = [(i, h, k_) for i, (h, k_) in enumerate(G_ALL)]
    df = spark.createDataFrame(rows, "rid bigint, hour string, key string")
    streamed = kms.replay_kmv_grouped(
        spark, df.select("rid", "hour", "key"), ["hour"], "hour string",
        "key", k=K, num_batches=3, order_col="rid",
    )
    batch = kmv_ops.kmv_build_grouped(_grows(spark, G_ALL), ["hour"], k=K)
    hours = sorted({h for h, _ in G_ALL})
    pairs = spark.createDataFrame(
        list(zip(hours, hours[1:])), "g1 string, g2 string"
    )
    got = {
        (r.g1, r.g2): tuple(r)[2:]
        for r in kmv_ops.kmv_pairwise_intersect(
            streamed, "hour", pairs, k=K
        ).collect()
    }
    want = {
        (r.g1, r.g2): tuple(r)[2:]
        for r in kmv_ops.kmv_pairwise_intersect(
            batch, "hour", pairs, k=K
        ).collect()
    }
    assert got == want and len(got) == len(hours) - 1


def test_grouped_empty_store_and_guards(spark):
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sparkgraft_gkmv_") as store:
        assert (
            kms.current_kmv_grouped(spark, store, "hour string").collect()
            == []
        )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="use kmv_stream"):
        kms.kmv_stream_grouped(None, "/tmp/x", [], "hour string", k=K)
    with _pytest.raises(ValueError):
        kms.kmv_stream_grouped(None, "/tmp/x", ["hour"], "hour string", k=1)
