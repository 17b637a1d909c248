"""Streaming Misra-Gries heavy hitters (streaming/heavyhitters.py):
pure-Python differential of the merge+compact step, exactness at
capacity >= cardinality, the MG error bound, retry idempotence, and a
real micro-batch replay equal to the batch fold."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.streaming import heavyhitters as hh
from advanced_elb_logs_etl_spark.streaming.store import fold_batch


def _rows(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


def _mg_py(batches, capacity):
    """Reference MG fold: returns (summary dict, d_total)."""
    state: dict[str, int] = {}
    d_total = 0
    for keys in batches:
        for k in keys:
            state[k] = state.get(k, 0) + 1
        items = sorted(state.items(), key=lambda t: (-t[1], t[0]))
        if len(items) > capacity:
            d = items[capacity][1]
            d_total += d
            state = {k: c - d for k, c in items if c - d > 0}
        else:
            state = dict(items)
    return state, d_total


BATCHES = [
    list("aaabbc"),
    list("aabbbbddddde"),
    list("cccccfffa"),
    list("ggggggghhb"),
]


@pytest.mark.parametrize("capacity", [2, 3, 5, 100])
def test_fold_matches_python_replica(spark, capacity):
    summary, meta = None, None
    for keys in BATCHES:
        summary, meta = hh.mg_batch_step(
            _rows(spark, keys), summary, meta, "key", capacity
        )
        # materialize each step like the store does (state frames are tiny)
        summary = spark.createDataFrame(summary.collect(), "key string, cnt bigint")
        meta = spark.createDataFrame(meta.collect(), "d_total bigint")
    want_state, want_d = _mg_py(BATCHES, capacity)
    got = {r.key: r.cnt for r in summary.collect()}
    assert got == want_state, f"capacity={capacity}"
    assert meta.collect()[0].d_total == want_d


def test_exact_when_capacity_covers_cardinality(spark):
    summary, meta = None, None
    for keys in BATCHES:
        summary, meta = hh.mg_batch_step(_rows(spark, keys), summary, meta, "key", 64)
        summary = spark.createDataFrame(summary.collect(), "key string, cnt bigint")
        meta = spark.createDataFrame(meta.collect(), "d_total bigint")
    exact: dict[str, int] = {}
    for keys in BATCHES:
        for k in keys:
            exact[k] = exact.get(k, 0) + 1
    assert {r.key: r.cnt for r in summary.collect()} == exact
    assert meta.collect()[0].d_total == 0


def test_mg_bound_holds_at_small_capacity(spark):
    state, d_total = _mg_py(BATCHES, 3)
    exact: dict[str, int] = {}
    for keys in BATCHES:
        for k in keys:
            exact[k] = exact.get(k, 0) + 1
    assert d_total > 0  # compaction actually happened
    for k, c in state.items():
        assert c <= exact[k] <= c + d_total, k
    for k, n in exact.items():
        if k not in state:
            assert n <= d_total, k


def test_process_batch_retry_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        fold_batch(_rows(spark, BATCHES[0]), 0, store, *hh.mg_fold("key", 3))
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *hh.mg_fold("key", 3))
        after_first = sorted(
            (r.key, r.cnt_lower, r.cnt_upper)
            for r in hh.current_heavy_hitters(spark, store).collect()
        )
        # retry of batch 1 (same id, possibly different task order) must
        # not double-merge: it reads only batch 0 state and overwrites
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *hh.mg_fold("key", 3))
        after_retry = sorted(
            (r.key, r.cnt_lower, r.cnt_upper)
            for r in hh.current_heavy_hitters(spark, store).collect()
        )
        assert after_retry == after_first


def test_replay_matches_batch_fold_and_exact_oracle(spark):
    # 3 micro-batches over the events-free synthetic frame, keyed by a
    # deterministic order column so the arrival slicing is reproducible
    rows = [(i, k) for i, k in enumerate(
        list("aaabbc") + list("aabbbbddddde") + list("cccccfffa")
    )]
    df = spark.createDataFrame(rows, "rid bigint, key string")
    got = hh.replay_heavy_hitters(
        spark, df, "key", capacity=64, num_batches=3, order_col="rid"
    )
    exact = {}
    for _, k in rows:
        exact[k] = exact.get(k, 0) + 1
    got_rows = {r.key: (r.cnt_lower, r.cnt_upper) for r in got.collect()}
    assert got_rows == {k: (c, c) for k, c in exact.items()}


def test_current_heavy_hitters_empty_store(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        out = hh.current_heavy_hitters(spark, store)
        assert out.collect() == []
        assert out.columns == ["key", "cnt_lower", "cnt_upper"]


def test_capacity_guard(spark):
    with pytest.raises(ValueError):
        hh.mg_batch_step(_rows(spark, ["a"]), None, None, "key", 0)


def test_empty_summary_batch_stays_visible(spark):
    """A compaction can legitimately EMPTY the summary (all merged
    counts <= d).  The per-batch sentinel row keeps that batch visible,
    so the reader's consistent cut advances to it instead of silently
    pairing the stale batch-N-1 summary with the stale d_total
    (ADVICE r8). capacity=2 with 'ccddee' after 'aab' merges to
    a2,b1,c2,d2,e2 -> d = 3rd-largest = 2 -> zero survivors."""
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        fold_batch(_rows(spark, list("aab")), 0, store, *hh.mg_fold("key", 2))
        fold_batch(_rows(spark, list("ccddee")), 1, store, *hh.mg_fold("key", 2))
        got = hh.current_heavy_hitters(spark, store).collect()
        # cut at batch 1: empty summary (absent-key bound d_total=2 is
        # the store's whole statement).  A row-presence fallback to
        # batch 0 would wrongly report [(a,2,2),(b,1,1)].
        assert got == []


def test_state_chain_survives_empty_summary_batch(spark):
    """The NEXT batch after an emptying compaction must merge with the
    EMPTY summary, not resurrect batch N-1's rows (which would inflate
    cnt above the true count and break the lower bound)."""
    batches = [list("aab"), list("ccddee"), ["f"]]
    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        for i, keys in enumerate(batches):
            fold_batch(_rows(spark, keys), i, store, *hh.mg_fold("key", 2))
        got = sorted(
            (r.key, r.cnt_lower, r.cnt_upper)
            for r in hh.current_heavy_hitters(spark, store).collect()
        )
        want_state, want_d = _mg_py(batches, 2)  # {'f': 1}, d_total=2
        assert want_state == {"f": 1} and want_d == 2  # fixture sanity
        assert got == [("f", 1, 3)]


def test_consistent_cut_on_crash_between_writes(spark):
    """A crash between the two per-batch writes must never pair a newer
    summary with an older d_total (that UNDERSTATES cnt_upper — ADVICE
    r7). The batch step writes meta first, so the crash state is meta at
    batch N+1 with summary still at N; current_heavy_hitters reads both
    stores at the max batch present in BOTH and must report exactly the
    batch-N pairing."""
    import os
    import shutil

    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        fold_batch(_rows(spark, BATCHES[0]), 0, store, *hh.mg_fold("key", 3))
        at_batch0 = sorted(
            (r.key, r.cnt_lower, r.cnt_upper)
            for r in hh.current_heavy_hitters(spark, store).collect()
        )
        # simulate batch 1 crashing AFTER the meta write, BEFORE the
        # summary write: run the full step, then delete summary/batch=1
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *hh.mg_fold("key", 3))
        shutil.rmtree(os.path.join(store, "summary", "batch=1"))
        crashed = sorted(
            (r.key, r.cnt_lower, r.cnt_upper)
            for r in hh.current_heavy_hitters(spark, store).collect()
        )
        assert crashed == at_batch0
        # the retry completes batch 1 and the cut advances
        fold_batch(_rows(spark, BATCHES[1]), 1, store, *hh.mg_fold("key", 3))
        final = hh.current_heavy_hitters(spark, store).collect()
        assert len(final) > 0


def test_store_fold_matches_python_on_random_batches(spark):
    """Differential of the STORE semantics (not just the pure step):
    fold random batch sequences through store.fold_batch with a real
    parquet store — including sequences whose compactions legitimately
    EMPTY the summary (the r9 sentinel fix) — and compare the reader's
    final state to the pure-Python MG fold.  Deterministic seeds instead
    of hypothesis: each case runs a real multi-write store fold, so a
    handful of adversarial seeds beats hundreds of shrunk examples."""
    import random

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        capacity = rng.choice([1, 2, 3])
        batches = [
            [rng.choice("abcdef") for _ in range(rng.randrange(0, 9))]
            for _ in range(4)
        ]
        # bias one case toward the emptying-compaction regime: uniform
        # singleton batches at capacity < distinct count
        if seed == 7:
            batches[1] = list("abcdef")
        with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
            for i, keys in enumerate(batches):
                fold_batch(_rows(spark, keys), i, store, *hh.mg_fold("key", capacity))
            got = {
                r.key: (r.cnt_lower, r.cnt_upper)
                for r in hh.current_heavy_hitters(spark, store).collect()
            }
        state, d_total = _mg_py(batches, capacity)
        want = {k: (c, c + d_total) for k, c in state.items()}
        assert got == want, (seed, capacity, batches, d_total)


def test_store_prunes_superseded_snapshots(spark):
    """r10: both cumulative dirs keep only the latest snapshot and its
    retry-read predecessor; the reader's consistent cut and a retry of
    the last batch still work after pruning."""
    import os

    with tempfile.TemporaryDirectory(prefix="sparkgraft_hh_") as store:
        for i, keys in enumerate(BATCHES[:3]):
            fold_batch(_rows(spark, keys), i, store, *hh.mg_fold("key", 3))
        for sub in ("summary", "meta"):
            kept = sorted(
                d
                for d in os.listdir(os.path.join(store, sub))
                if d.startswith("batch=")
            )
            assert kept == ["batch=1", "batch=2"], (sub, kept)
        before = sorted(
            map(tuple, hh.current_heavy_hitters(spark, store).collect())
        )
        fold_batch(_rows(spark, BATCHES[2]), 2, store, *hh.mg_fold("key", 3))
        assert (
            sorted(
                map(tuple, hh.current_heavy_hitters(spark, store).collect())
            )
            == before
        )
