"""The fixpoint driver (operators/fixpoint.py): its round contract, and
bounded block storage for every iterative operator that runs on it."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import (
    bpe,
    cc,
    dedup,
    fixpoint,
    graph,
    similarity,
)


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


# --- bounded storage: R and 2R rounds leave the same blocks ---------------


def _edges(spark, pairs, cols=("u", "v")):
    return spark.createDataFrame(pairs, f"{cols[0]} long, {cols[1]} long")


def _layered(n=22):
    # nested density layers: the densest peel needs 4 rounds to empty it
    return [(i, j) for i in range(n) for j in range(i + 1, n) if j <= 1.2 * i + 1]


def _chain(n):
    return [(i, i + 1) for i in range(n)]


def _raises(run):
    def wrapped(spark, rounds):
        with pytest.raises(RuntimeError, match="did not converge"):
            run(spark, rounds)

    return wrapped


def _vectors(spark):
    rows = [(i, [float(i % 5 + 1), float(i % 3), float(i % 7) / 2.0]) for i in range(24)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


#: operator -> run(spark, rounds); each input needs more than 2 rounds
#: to reach its fixpoint, so R=1 and 2R=2 both run every round
RUNS = {
    # "d" dangles: the per-round dangling-mass path
    "pagerank": lambda spark, r: graph.pagerank(
        spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
        ),
        iterations=r,
    ),
    "lpa_communities": lambda spark, r: graph.lpa_communities(
        _edges(spark, _layered()), rounds=r
    ),
    "k_core": lambda spark, r: graph.k_core(_edges(spark, _chain(12)), 2, max_rounds=r),
    "densest_subgraph_peel": lambda spark, r: graph.densest_subgraph_peel(
        _edges(spark, _layered()), max_rounds=r
    ),
    "alternating_components": _raises(
        lambda spark, r: cc.alternating_components(
            _edges(spark, _chain(16), ("id_a", "id_b")), max_iterations=r
        )
    ),
    "neardup_components": _raises(
        lambda spark, r: dedup.neardup_components(
            _edges(spark, _chain(12), ("id_a", "id_b")), max_iterations=r
        )
    ),
    "refine_centroids": lambda spark, r: similarity.refine_centroids(
        _vectors(spark), _vectors(spark).where("vec_id < 3"), iterations=r
    ),
    "bpe_train": lambda spark, r: bpe.bpe_train(
        spark.createDataFrame(
            [("lower lowest newer newest wider widest",)] * 3, "text string"
        ),
        num_merges=r,
    ),
}


def _growth(spark, run, rounds: int) -> int:
    """Persistent RDDs a call leaves, counted the moment it returns: every
    round is already materialized then, and an unreleased frame the call
    dropped has had no time to be garbage-collected."""
    before = _persistent(spark)
    out = run(spark, rounds)  # noqa: F841 - the caller holds its result
    return len(_persistent(spark) - before)


@pytest.mark.parametrize("name", sorted(RUNS))
def test_storage_does_not_grow_with_rounds(spark, name):
    run = RUNS[name]
    assert _growth(spark, run, 1) == _growth(spark, run, 2), name


# --- the driver contract --------------------------------------------------


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _decrement(cur: fixpoint.Round) -> DataFrame:
    # narrow: drops the zero row and shifts the rest down by one
    return cur.df.where(F.col("x") > 0).select((F.col("x") - 1).alias("x"))


def test_one_job_per_round_and_input_checkpoint_is_kept(spark):
    src = spark.range(0, 6, 1, 1).toDF("x")  # one partition: no count exchange
    fp, jobs = _jobs(spark, "fixpoint-rounds", lambda: fixpoint.iterate(src, _decrement, 3))
    assert jobs == 4  # round 0 (copy + count) and three rounds
    assert [r[:2] for r in fp.rounds] == [(0, 6), (1, 5), (2, 4), (3, 3)]
    assert not fp.converged

    ck = src.localCheckpoint(eager=True)
    leaf = ck.select("x")  # a no-op projection of a checkpoint is the leaf
    read = []

    def step(cur: fixpoint.Round) -> DataFrame:
        read.append(cur.df is leaf)
        return _decrement(cur)

    before = _persistent(spark)
    fp, jobs = _jobs(spark, "fixpoint-leaf", lambda: fixpoint.iterate(leaf, step, 2))
    assert jobs == 3 and read == [True, False]  # counted, not copied
    after = _persistent(spark)
    assert before <= after  # the caller's input survives
    assert len(after - before) == 1  # only the final state is new
    assert ck.count() == 6


def test_superseded_round_released_after_successor_counted(spark):
    src = spark.range(0, 8, 1, 1).toDF("x")
    before = _persistent(spark)
    seen = []

    def live() -> int:
        return len(_persistent(spark) - before)

    def step(cur: fixpoint.Round) -> DataFrame:
        seen.append(("step", live()))
        cur.hold(cur.df.where("x % 2 = 0"))  # a side frame of this round
        return _decrement(cur)

    def done(prev: fixpoint.Round, cur: fixpoint.Round) -> bool:
        # the successor is counted; the round it read and its side frame
        # are still materialized while the stop test runs
        assert cur.rows == prev.rows - 1
        seen.append(("done", live()))
        return False

    fp = fixpoint.iterate(src, step, 3, done)
    assert seen == [("step", 1), ("done", 3)] * 3
    assert live() == 1 and fp.state.count() == 5


def test_max_rounds_done_and_early_stop(spark):
    src = spark.range(0, 4, 1, 1).toDF("x")
    same = lambda prev, cur: cur.rows == prev.rows  # noqa: E731
    # rows 4, 3, 2, 1, 0, 0: the fixpoint shows at round 5
    fp = fixpoint.iterate(src, _decrement, 10, same)
    assert fp.converged and [r[1] for r in fp.rounds] == [4, 3, 2, 1, 0, 0]
    fp = fixpoint.iterate(src, _decrement, 2, same)
    assert not fp.converged and len(fp.rounds) == 3 and fp.state.count() == 2
    # a step returning None ends the fold on the state it read
    stop = lambda cur: None if cur.rows == 2 else _decrement(cur)  # noqa: E731
    fp = fixpoint.iterate(src, stop, 10, same)
    assert not fp.converged and len(fp.rounds) == 3 and fp.state.count() == 2


def test_failing_step_frees_what_the_driver_created(spark):
    ck = spark.range(0, 5, 1, 1).toDF("x").localCheckpoint(eager=True)
    before = _persistent(spark)

    def step(cur: fixpoint.Round) -> DataFrame:
        cur.hold(cur.df)
        if cur.rows == 3:
            raise ValueError("boom")
        return _decrement(cur)

    with pytest.raises(ValueError, match="boom"):
        fixpoint.iterate(ck, step, 10)
    assert _persistent(spark) == before  # the input kept, nothing else left
    with pytest.raises(ValueError, match="boom"):
        fixpoint.iterate(ck.where("x >= 0"), step, 10)  # copied at round 0
    assert _persistent(spark) == before
