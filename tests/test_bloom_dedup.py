"""Bloom first-seen dedup (operators/bloom.py dedup lane +
streaming/bloomstream.py): a pure-Python replica differential, the
no-false-negative invariant, the first_set injection contract, guards,
a real 3-micro-batch replay, retry idempotence, and the DuckDB twin
rehearsal for the queued r13+ catalog gates (`bloom_dedup_report`,
`stream_bloom_dedup`) — the freeze discipline's pre-rehearsal."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import bloom
from advanced_elb_logs_etl_spark.streaming import bloomstream as bst
from advanced_elb_logs_etl_spark.streaming.store import fold_batch

K, M = 3, 64  # tiny geometry so false positives are common in tests


def _pos_py(key: str, k=K, m=M) -> list[int]:
    return [
        int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % m
        for i in range(k)
    ]


def _flags_py(rows, k=K, m=M) -> dict[int, bool]:
    """order -> bloom_dup under the item-level prefix semantics."""
    first = {}
    for o, key in sorted(rows):
        for b in _pos_py(key, k, m):
            first.setdefault(b, o)
    out = {}
    for o, key in rows:
        out[o] = all(first[b] < o for b in _pos_py(key, k, m))
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "o long, key string")


def test_randomized_replica_differential(spark):
    rng = random.Random(0xB100)
    rows = [(i, f"k{rng.randrange(40)}") for i in range(300)]
    got = {
        r.o: r.bloom_dup
        for r in bloom.bloom_first_seen_flags(
            _df(spark, rows), "key", "o", k=K, m_bits=M
        ).collect()
    }
    assert got == _flags_py(rows)
    # the tiny geometry really does produce false positives here
    exact_first = {min(o for o, kk in rows if kk == key) for _, key in rows}
    fps = [o for o, d in got.items() if d and o in exact_first]
    assert fps, "geometry too large to exercise the fp regime"


def test_no_false_negatives(spark):
    rng = random.Random(0xB101)
    rows = [(i, f"k{rng.randrange(25)}") for i in range(200)]
    rep = bloom.bloom_dedup_report(
        _df(spark, rows), "key", "o", k=K, m_bits=M
    ).collect()[0]
    assert rep.n_false_neg == 0
    assert rep.n_bloom_dup == rep.n_exact_dup + rep.n_false_pos
    assert rep.n_items == 200


def test_first_set_injection_equals_concatenated_batch(spark):
    """Flags of batch B computed with batch A's state injected == the
    whole-frame flags restricted to B (the streaming fold's core
    contract; requires A's orders < B's)."""
    rng = random.Random(0xB102)
    rows = [(i, f"k{rng.randrange(30)}") for i in range(240)]
    a, b = rows[:120], rows[120:]
    bits_a = (
        _df(spark, a)
        .select(
            F.col("o"),
            F.explode(
                bloom.bloom_positions_md5(F.col("key"), K, M)
            ).alias("bit"),
        )
        .groupBy("bit")
        .agg(F.min("o").alias("t_first"))
    )
    got_b = {
        r.o: r.bloom_dup
        for r in bloom.bloom_first_seen_flags(
            _df(spark, b), "key", "o", k=K, m_bits=M, first_set=bits_a
        ).collect()
    }
    whole = _flags_py(rows)
    assert got_b == {o: whole[o] for o, _ in b}


def test_empty_input_report_is_null_not_divide_by_zero(spark):
    """ADVICE r12: fp_per_million divides by (n_items - n_exact_dup) = 0
    on empty input — the nullif guard must yield NULL (not a
    DIVIDE_BY_ZERO on an ANSI-on session)."""
    rep = bloom.bloom_dedup_report(
        _df(spark, []), "key", "o", k=K, m_bits=M
    ).collect()[0]
    assert rep.n_items == 0
    assert rep.fp_per_million is None


def test_large_geometry_state_join_is_not_broadcast(spark):
    """ADVICE r12: production geometries (10-15 bits/key over billions
    of keys) put m_bits far past any broadcast — above
    BROADCAST_STATE_MAX_BITS the first-set join must run as a plain
    (shuffled) join, with flags unchanged."""
    rows = [(i, f"k{i % 9}") for i in range(60)]
    big_m = bloom.BROADCAST_STATE_MAX_BITS * 2
    df = bloom.bloom_first_seen_flags(
        _df(spark, rows), "key", "o", k=K, m_bits=big_m
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    got = {r.o: r.bloom_dup for r in df.collect()}
    assert got == _flags_py(rows, k=K, m=big_m)


def test_non_integral_order_column_rejected_at_stream_entry(spark):
    """ADVICE r12: the store pins t_first as LONG but the in-batch flag
    comparison uses the order column's native type — a timestamp order
    column must be rejected at the stream entrypoints, not silently
    diverge."""
    ts_df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a")], "o string, key string"
    ).select(F.to_timestamp("o").alias("o"), "key")
    with pytest.raises(TypeError, match="integral"):
        bst.replay_bloom(spark, ts_df, "key", "o", k=K, m_bits=M)
    with pytest.raises(TypeError, match="integral"):
        bst.bloom_stream(ts_df, "/tmp/unused", "key", "o", k=K, m_bits=M)


def test_guards_and_null_dropping(spark):
    with pytest.raises(ValueError):
        bloom.bloom_first_seen_flags(_df(spark, []), "key", "o", k=0)
    with pytest.raises(ValueError):
        bloom.bloom_first_seen_flags(_df(spark, []), "key", "o", m_bits=1)
    rows = [(1, "a"), (2, None), (None, "b"), (3, "a")]
    got = bloom.bloom_first_seen_flags(
        _df(spark, rows), "key", "o", k=K, m_bits=M
    ).collect()
    assert {r.o for r in got} == {1, 3}


def test_stream_replay_equals_batch_flags(spark):
    """Three real micro-batches (order-aligned slicing): the summed
    per-batch summaries equal the batch operator's flags on the whole
    frame; intermediate state is <= m_bits rows."""
    rng = random.Random(0xB103)
    rows = [(i, f"k{rng.randrange(35)}") for i in range(260)]
    summaries = bst.replay_bloom(
        spark, _df(spark, rows), "key", "o", k=K, m_bits=M, num_batches=3
    )
    got = summaries.collect()
    assert len(got) == 3
    batch_flags = bloom.bloom_first_seen_flags(
        _df(spark, rows), "key", "o", k=K, m_bits=M
    )
    n_dup = batch_flags.filter("bloom_dup").count()
    assert sum(r.n_items for r in got) == 260
    assert sum(r.n_bloom_dup for r in got) == n_dup


def test_process_batch_retry_idempotent(spark, tmp_path):
    rows1 = [(i, f"k{i % 7}") for i in range(40)]
    rows2 = [(i, f"k{i % 7}") for i in range(40, 80)]
    store = str(tmp_path / "store")
    fold_batch(_df(spark, rows1), 0, store, *bst.bloom_fold("key", "o", K, M))
    fold_batch(_df(spark, rows2), 1, store, *bst.bloom_fold("key", "o", K, M))
    before_bits = sorted(
        (r.bit, r.t_first)
        for r in bst.current_bloom_state(spark, store).collect()
    )
    before_sum = sorted(
        tuple(r) for r in bst.current_bloom_summary(spark, store).collect()
    )
    # retry batch 1: same outputs
    fold_batch(_df(spark, rows2), 1, store, *bst.bloom_fold("key", "o", K, M))
    assert (
        sorted(
            (r.bit, r.t_first)
            for r in bst.current_bloom_state(spark, store).collect()
        )
        == before_bits
    )
    assert (
        sorted(
            tuple(r)
            for r in bst.current_bloom_summary(spark, store).collect()
        )
        == before_sum
    )
    assert len(before_bits) <= M


# --- the r13 catalog gates (REGISTERED in plans/catalog_r13.py; the
# rehearsals import the registered bodies + oracles so they exercise
# the exact catalog entries — the catalog_r12 pattern) ----------------

from advanced_elb_logs_etl_spark.plans.catalog_r13 import (  # noqa: E402
    BLOOM_REPORT_ORACLE as BLOOM_REPORT_ORACLE_QUEUED,
    STREAM_BLOOM_ORACLE as STREAM_BLOOM_ORACLE_QUEUED,
    q_bloom_dedup_report,
    q_stream_bloom_dedup,
)


def _rehearse(spark, fn, oracle, sf="/root/testdata/sf0.01"):
    import duckdb

    sdf = fn(spark, sf)
    scols = sorted(sdf.columns)
    spd = sdf.select(*scols).toPandas()
    srows = sorted(
        tuple(str(x) for x in r) for r in spd.itertuples(index=False)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    dpd = con.execute(oracle).df()
    assert sorted(dpd.columns) == scols
    drows = sorted(
        tuple(str(x) for x in r) for r in dpd[scols].itertuples(index=False)
    )
    assert srows == drows
    return spd


def test_queued_report_gate_matches_duckdb_twin(spark):
    """Full driver-protocol rehearsal at sf0.01 through the pandas fetch
    path (all-integer surface)."""
    spd = _rehearse(
        spark, q_bloom_dedup_report, BLOOM_REPORT_ORACLE_QUEUED
    )
    row = next(spd.itertuples(index=False))
    assert row.n_false_neg == 0
    assert row.n_items == row.n_bloom_dup + (
        row.n_items - row.n_exact_dup - row.n_false_pos
    )


def test_queued_stream_gate_matches_duckdb_twin(spark):
    """Full driver-protocol rehearsal at sf0.01 through the pandas fetch
    path — a REAL 3-batch replay against the batch SQL twin."""
    spd = _rehearse(spark, q_stream_bloom_dedup, STREAM_BLOOM_ORACLE_QUEUED)
    assert len(spd) == 1
