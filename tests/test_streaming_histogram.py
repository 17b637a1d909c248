"""Streaming log-bucketed histogram (streaming/histogram.py): exact
bucket math vs a pure-Python replica (incl. octave boundaries), merge
exactness and arrival-order independence, quantile bound correctness vs
exact sorted data, retry idempotence, and a real micro-batch replay."""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.streaming import histogram as hg
from advanced_elb_logs_etl_spark.streaming.store import fold_batch

S = 8


def _bucket_py(v: int, s: int = S) -> int:
    if v <= 0:
        return -1
    b = v.bit_length() - 1
    sub = (v - (1 << b)) * s // (1 << b)
    return b * s + sub


def _vals(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "value bigint")


BOUNDARIES = (
    [0, 1, 2, 3, 4, 7, 8, 9, 15, 16, 17]
    + [2**b for b in (5, 10, 20, 30, 40)]
    + [2**b - 1 for b in (5, 10, 20, 30, 40)]
    + [2**b + 2 ** (b - 3) for b in (5, 10, 20, 30)]  # exact sub edges
    + [123, 999, 123_456, 987_654_321, 5_000_000_000]
)


def test_bucket_of_matches_python_on_boundaries(spark):
    df = _vals(spark, BOUNDARIES).select(
        "value", hg.bucket_of(F.col("value"), S).alias("b")
    )
    got = {r.value: r.b for r in df.collect()}
    for v in BOUNDARIES:
        assert got[v] == _bucket_py(v), v


def test_bucket_bounds_bracket_their_values(spark):
    df = _vals(spark, [v for v in BOUNDARIES if v > 0])
    b = hg.bucket_of(F.col("value"), S)
    lo, hi = hg.bucket_bounds(b, S)
    rows = df.select("value", lo.alias("lo"), hi.alias("hi")).collect()
    for r in rows:
        assert r.lo <= r.value < r.hi, (r.value, r.lo, r.hi)
        # relative width of the bracket is the 1/S guarantee
        assert (r.hi - r.lo) <= r.lo / S + 1


def test_merge_is_exact_and_order_independent(spark):
    b1, b2 = [1, 5, 9, 300, 5, 16], [2, 5, 1024, 300, 0]
    fwd = hg.histogram_batch_step(
        _vals(spark, b2),
        hg.histogram_batch_step(_vals(spark, b1), None),
    )
    rev = hg.histogram_batch_step(
        _vals(spark, b1),
        hg.histogram_batch_step(_vals(spark, b2), None),
    )
    one = hg.histogram_batch_step(_vals(spark, b1 + b2), None)
    as_dict = lambda df: {r.bucket: r.cnt for r in df.collect()}
    assert as_dict(fwd) == as_dict(rev) == as_dict(one)
    want: dict[int, int] = {}
    for v in b1 + b2:
        k = _bucket_py(v)
        want[k] = want.get(k, 0) + 1
    assert as_dict(one) == want


def test_negative_and_null_dropped_zero_reserved(spark):
    df = spark.createDataFrame([(-5,), (None,), (0,), (1,)], "value bigint")
    got = {r.bucket: r.cnt for r in hg.histogram_batch_step(df, None).collect()}
    assert got == {-1: 1, 0: 1}


def test_quantile_bounds_hold_vs_exact(spark):
    vals = [int(1.37**i) + 1 for i in range(40)] * 3
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hist_") as store:
        fold_batch(_vals(spark, vals[:60]), 0, store, *hg.histogram_fold("value", S))
        fold_batch(_vals(spark, vals[60:]), 1, store, *hg.histogram_fold("value", S))
        out = hg.quantile_estimates(spark, store, [0.1, 0.5, 0.9, 0.99], S)
        rows = {r.q: r for r in out.collect()}
    srt = sorted(vals)
    n = len(srt)
    for q in (0.1, 0.5, 0.9, 0.99):
        true_val = srt[max(1, math.ceil(q * n)) - 1]
        r = rows[q]
        assert r.n == n
        assert r.lo <= true_val < r.hi, (q, true_val, r.lo, r.hi)


def test_process_batch_retry_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hist_") as store:
        fold_batch(_vals(spark, [1, 2, 3]), 0, store, *hg.histogram_fold("value", S))
        fold_batch(_vals(spark, [4, 5, 6]), 1, store, *hg.histogram_fold("value", S))
        first = hg.quantile_estimates(spark, store, [0.5], S).collect()
        fold_batch(_vals(spark, [4, 5, 6]), 1, store, *hg.histogram_fold("value", S))
        again = hg.quantile_estimates(spark, store, [0.5], S).collect()
        assert [tuple(r) for r in first] == [tuple(r) for r in again]


def test_replay_equals_single_pass(spark):
    rows = [(i, (i * 37) % 4096 + 1) for i in range(600)]
    df = spark.createDataFrame(rows, "rid bigint, value bigint")
    got = hg.replay_histogram(
        spark, df, "value", S, num_batches=3, order_col="rid"
    )
    want = hg.histogram_batch_step(df, None, "value", S)
    assert {r.bucket: r.cnt for r in got.collect()} == {
        r.bucket: r.cnt for r in want.collect()
    }


def test_subbucket_power_of_two_guard(spark):
    with pytest.raises(ValueError):
        hg.bucket_of(F.lit(5), 6)


def test_quantile_range_guard(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hist_") as store:
        fold_batch(_vals(spark, [1, 2]), 0, store, *hg.histogram_fold("value", S))
        with pytest.raises(ValueError):
            hg.quantile_estimates(spark, store, [0.5, 1.5], S)


def test_bucket_of_matches_duckdb_twin_fuzz(spark):
    """Seeded fuzz of the Spark bucket Column against the exact DuckDB
    SQL replica the (future) catalog registration uses — boundary values
    (2^b - 1, 2^b, 2^b + 1) at every octave plus random longs, at two
    sub-bucket settings."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(808)
    vals = [0, 1, 2]
    for b in range(1, 63):
        base = 1 << b
        vals += [base - 1, base, base + 1]
    vals += [rng.randrange(1, 1 << 62) for _ in range(500)]
    for s in (8, 16):
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {
            r.v: r.bucket
            for r in df.select("v", hg.bucket_of(F.col("v"), s).alias("bucket")).collect()
        }
        vals_sql = ", ".join(f"({v})" for v in vals)
        want = {
            int(v): (int(b) if b is not None else None)
            for v, b in duckdb.sql(f"""
                SELECT v, CASE WHEN v < 0 THEN NULL WHEN v = 0 THEN -1
                    ELSE (strlen(bin(v)) - 1) * {s}
                         + floor((v - power(2, strlen(bin(v)) - 1)) * {s}
                                 / power(2, strlen(bin(v)) - 1))::BIGINT
                END AS bucket
                FROM (VALUES {vals_sql}) AS t(v)
            """).fetchall()
        }
        assert got == want, s


def test_store_prunes_superseded_snapshots(spark):
    """r10: the cumulative counts dir keeps only the latest snapshot and
    its retry-read predecessor; quantiles and a retried last batch are
    unaffected."""
    import os

    with tempfile.TemporaryDirectory(prefix="sparkgraft_hist_") as store:
        for i, vals in enumerate([[1, 2, 3], [4, 5, 6], [7, 8, 9]]):
            fold_batch(_vals(spark, vals), i, store, *hg.histogram_fold("value", S))
        kept = sorted(
            d
            for d in os.listdir(os.path.join(store, "counts"))
            if d.startswith("batch=")
        )
        assert kept == ["batch=1", "batch=2"]
        before = [
            tuple(r)
            for r in hg.quantile_estimates(spark, store, [0.5], S).collect()
        ]
        fold_batch(_vals(spark, [7, 8, 9]), 2, store, *hg.histogram_fold("value", S))
        again = [
            tuple(r)
            for r in hg.quantile_estimates(spark, store, [0.5], S).collect()
        ]
        assert again == before
