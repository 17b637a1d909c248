"""Streaming quantile sketch (streaming/qstream.py): slicing invariance
(streamed cumulative sample == single-pass batch build), retry
idempotence, snapshot pruning, a real micro-batch replay, the grouped
form, and the DuckDB twin rehearsal for the queued r14 gate
(`stream_quantile_sketch`) — the freeze discipline's pre-rehearsal."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import qsketch
from advanced_elb_logs_etl_spark.streaming import qstream as qst
from advanced_elb_logs_etl_spark.streaming.store import fold_batch

K = 8


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id string, v double")


BATCHES = [
    [(f"r{i}", float((i * 31) % 40)) for i in range(10)],
    [(f"r{i}", float((i * 31) % 40)) for i in range(10, 30)],
    [(f"r{i}", float((i * 31) % 40)) for i in range(30, 55)],
]
ALL = [r for b in BATCHES for r in b]


def test_batch_fold_equals_single_build(spark):
    state = None
    for rows in BATCHES:
        out = qst.q_batch_step(_rows(spark, rows), state, k=K, id_col="id")
        state = spark.createDataFrame(out.collect(), "h long, v double")
    whole = qsketch.q_build(_rows(spark, ALL), "v", "id", k=K)
    assert sorted((r.h, r.v) for r in state.collect()) == sorted(
        (r.h, r.v) for r in whole.collect()
    )


def test_process_batch_retry_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_qsk_") as store:
        fold_batch(_rows(spark, BATCHES[0]), 0, store, *qst.q_fold("v", "id", K))
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *qst.q_fold("v", "id", K))
        first = sorted(
            (r.h, r.v) for r in qst.current_qsketch(spark, store).collect()
        )
        # a retried batch must read only batch-0 state and overwrite
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *qst.q_fold("v", "id", K))
        assert (
            sorted(
                (r.h, r.v)
                for r in qst.current_qsketch(spark, store).collect()
            )
            == first
        )


def test_store_prunes_superseded_snapshots(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_qsk_") as store:
        for i, rows in enumerate(BATCHES):
            fold_batch(_rows(spark, rows), i, store, *qst.q_fold("v", "id", K))
        sample_dir = os.path.join(store, "sample")
        kept = sorted(
            d for d in os.listdir(sample_dir) if d.startswith("batch=")
        )
        assert kept == ["batch=1", "batch=2"]
        whole = qsketch.q_build(_rows(spark, ALL), "v", "id", k=K)
        assert sorted(
            (r.h, r.v) for r in qst.current_qsketch(spark, store).collect()
        ) == sorted((r.h, r.v) for r in whole.collect())


def test_replay_equals_batch_build_and_quantiles(spark):
    rows = [(i, rid, v) for i, (rid, v) in enumerate(ALL)]
    df = spark.createDataFrame(rows, "seq bigint, id string, v double")
    got = qst.replay_qsketch(
        spark, df.select("seq", "id", "v"), "v", "id", k=K,
        num_batches=3, order_col="seq",
    )
    whole = qsketch.q_build(_rows(spark, ALL), "v", "id", k=K)
    assert sorted((r.h, r.v) for r in got.collect()) == sorted(
        (r.h, r.v) for r in whole.collect()
    )
    # the streamed sketch answers quantiles exactly like the batch one
    est = sorted(
        tuple(r) for r in qsketch.q_quantiles(got, [0.5, 0.9], k=K).collect()
    )
    want = sorted(
        tuple(r)
        for r in qsketch.q_quantiles(whole, [0.5, 0.9], k=K).collect()
    )
    assert est == want


def test_empty_store_and_k_guard(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_qsk_") as store:
        assert qst.current_qsketch(spark, store).collect() == []
    with pytest.raises(ValueError):
        qst.q_stream(None, "/tmp/x", k=1)


# ---------------------------------------------------------------------------
# Grouped streaming quantile sketch
# ---------------------------------------------------------------------------

G_BATCHES = [
    [("x", f"x{i}", float(i % 20)) for i in range(12)],
    [("x", f"x{i}", float(i % 20)) for i in range(12, 25)]
    + [("y", f"y{i}", float((i * 3) % 20)) for i in range(6)],
    [("y", f"y{i}", float((i * 3) % 20)) for i in range(6, 20)],
]
G_ALL = [r for b in G_BATCHES for r in b]


def _grows(spark, rows):
    return spark.createDataFrame(rows, "g string, id string, v double")


def test_grouped_batch_fold_equals_single_grouped_build(spark):
    state = None
    for rows in G_BATCHES:
        out = qst.q_grouped_batch_step(
            _grows(spark, rows), state, ["g"], "v", "id", k=K
        )
        state = spark.createDataFrame(
            out.collect(), "g string, h long, v double"
        )
    whole = qsketch.q_build_grouped(_grows(spark, G_ALL), ["g"], "v", "id", k=K)
    assert sorted((r.g, r.h, r.v) for r in state.collect()) == sorted(
        (r.g, r.h, r.v) for r in whole.collect()
    )


def test_grouped_process_batch_retry_idempotent_and_missing_group(spark):
    """A batch that carries only group y must rewrite group x's prior
    rows verbatim (the state is the full per-group sample), and a
    retried batch reads only its predecessor state."""
    fold = qst.q_fold_grouped(["g"], "g string", "v", "id", K)
    with tempfile.TemporaryDirectory(prefix="sparkgraft_qskg_") as store:
        fold_batch(_grows(spark, G_BATCHES[0]), 0, store, *fold)
        only_y = [r for r in G_BATCHES[2]]
        fold_batch(_grows(spark, only_y), 1, store, *fold)
        cur = qst.current_qsketch_grouped(spark, store, "g string")
        first = sorted((r.g, r.h, r.v) for r in cur.collect())
        want_x = qsketch.q_build_grouped(
            _grows(spark, G_BATCHES[0]), ["g"], "v", "id", k=K
        )
        assert [t for t in first if t[0] == "x"] == sorted(
            (r.g, r.h, r.v) for r in want_x.collect()
        )
        # retry batch 1: identical state afterwards
        fold_batch(_grows(spark, only_y), 1, store, *fold)
        cur2 = qst.current_qsketch_grouped(spark, store, "g string")
        assert sorted((r.g, r.h, r.v) for r in cur2.collect()) == first


def test_grouped_replay_equals_batch_build_and_guards(spark):
    rows = [(i, g, rid, v) for i, (g, rid, v) in enumerate(G_ALL)]
    df = spark.createDataFrame(
        rows, "seq bigint, g string, id string, v double"
    )
    got = qst.replay_qsketch_grouped(
        spark, df.select("seq", "g", "id", "v"), ["g"], "g string",
        "v", "id", k=K, num_batches=3, order_col="seq",
    )
    whole = qsketch.q_build_grouped(_grows(spark, G_ALL), ["g"], "v", "id", k=K)
    assert sorted((r.g, r.h, r.v) for r in got.collect()) == sorted(
        (r.g, r.h, r.v) for r in whole.collect()
    )
    with tempfile.TemporaryDirectory(prefix="sparkgraft_qskg_") as store:
        assert (
            qst.current_qsketch_grouped(spark, store, "g string").collect()
            == []
        )
    with pytest.raises(ValueError):
        qst.q_stream_grouped(None, "/tmp/x", [], "g string")
    with pytest.raises(ValueError):
        qst.q_stream_grouped(None, "/tmp/x", ["g"], "g string", k=1)


# --- the r12 catalog gate (REGISTERED in plans/catalog_r12.py; the
# rehearsal imports the registered body + oracle so it exercises the
# exact catalog entry) ------------------------------------------------

from advanced_elb_logs_etl_spark.plans.catalog_r12 import (  # noqa: E402
    SQS_GATE_K as GATE_K,
    SQS_GATE_PROBS as GATE_PROBS,
    STREAM_QSKETCH_ORACLE as STREAM_QSKETCH_ORACLE_QUEUED_R14,
    q_stream_quantile_sketch,
)


def test_queued_stream_gate_matches_duckdb_twin(spark):
    """Full driver-protocol rehearsal of the registered r12 entry at
    sf0.01 through the pandas fetch path (driver-equivalent, r10
    postmortem)."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    sdf = q_stream_quantile_sketch(spark, sf)
    scols = sorted(sdf.columns)
    spd = sdf.select(*scols).toPandas()
    srows = sorted(tuple(str(x) for x in r) for r in spd.itertuples(index=False))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    dpd = con.execute(STREAM_QSKETCH_ORACLE_QUEUED_R14).df()
    assert sorted(dpd.columns) == scols
    drows = sorted(
        tuple(str(x) for x in r) for r in dpd[scols].itertuples(index=False)
    )
    assert srows == drows
    assert len(srows) == len(GATE_PROBS)
    # the gate exercises the SATURATED regime
    assert all(r.n_sample == GATE_K for r in spd.itertuples(index=False))


def test_bigint_value_stream_roundtrips_bit_exact(spark):
    """ADVICE r11: the store schema is derived from the STREAM's value
    type, so a BIGINT value column writes long parquet and reads back
    long — the replayed sample equals the batch build bit-exactly and
    keeps the long dtype (previously the double-pinned reader broke on
    non-double stores)."""
    rows = [(f"r{i}", (i * 7919) % 1000) for i in range(40)]
    df = spark.createDataFrame(rows, "id string, v bigint")
    got = qst.replay_qsketch(
        spark, df, "v", "id", k=K, num_batches=3, order_col="id"
    )
    assert got.schema["v"].dataType.simpleString() == "bigint"
    whole = qsketch.q_build(df, "v", "id", k=K)
    assert sorted((r.h, r.v) for r in got.collect()) == sorted(
        (r.h, r.v) for r in whole.collect()
    )


def test_bigint_value_grouped_stream_roundtrips(spark):
    """The grouped store derives its value type the same way."""
    rows = [(f"r{i}", "g%d" % (i % 2), (i * 104729) % 500) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, g string, v bigint")
    got = qst.replay_qsketch_grouped(
        spark, df, ["g"], "g string", "v", "id",
        k=K, num_batches=2, order_col="id",
    )
    assert got.schema["v"].dataType.simpleString() == "bigint"
    whole = qsketch.q_build_grouped(df, ["g"], "v", "id", k=K)
    assert sorted((r.g, r.h, r.v) for r in got.collect()) == sorted(
        (r.g, r.h, r.v) for r in whole.collect()
    )
