"""The cumulative-snapshot store (streaming/store.py).  The ADVICE-r10
prune-race fix is structural — the batch is selected from the directory
listing and ONLY that partition is scanned — so the pin here is on the
scan footprint (inputFiles), not on winning a timing race.  The store
contract (retry-safe reads, {M, N} pruning, harness cleanup on a
failing step) is checked once, parametrized over every sketch's Fold."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import types as T

from advanced_elb_logs_etl_spark.streaming import (
    bloomstream,
    cmstream,
    heavyhitters,
    histogram,
    kmvstream,
    qstream,
    store,
)
from advanced_elb_logs_etl_spark.streaming.replay import replay_store

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)


def _write(spark, root, batch, rows):
    spark.createDataFrame(rows, "k string, v long").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"batch={batch}"))


def test_missing_store_and_no_prior_read_as_none(spark):
    with tempfile.TemporaryDirectory(prefix="sparkgraft_store_") as tmp:
        missing = os.path.join(tmp, "nope")
        assert store.list_batches(spark, missing) is None
        assert store.read_latest_snapshot(spark, missing, SCHEMA, 5) is None
        root = os.path.join(tmp, "s")
        _write(spark, root, 3, [("a", 1)])
        # no batch strictly before 3 -> no prior state (retry of batch 3
        # after a crash before any earlier batch existed)
        assert store.read_latest_snapshot(spark, root, SCHEMA, 3) is None
        assert sorted(store.list_batches(spark, root)) == [3]


def test_reads_only_the_selected_partition(spark):
    """The race-fix contract: whatever other snapshot directories exist
    (including ones a concurrent prune is about to delete), the read's
    file footprint is exactly the chosen batch directory."""
    with tempfile.TemporaryDirectory(prefix="sparkgraft_store_") as tmp:
        root = os.path.join(tmp, "s")
        _write(spark, root, 0, [("old", 1)])
        _write(spark, root, 1, [("mid", 2)])
        _write(spark, root, 2, [("new", 3)])
        df = store.read_latest_snapshot(spark, root, SCHEMA, 2)
        assert [tuple(r) for r in df.collect()] == [("mid", 2)]
        assert df.columns == ["k", "v"]  # partition col dropped
        files = df.inputFiles()
        assert files and all("batch=1" in f for f in files), files
        # the current_* cut (before_batch = +inf) picks the newest
        latest = store.read_latest_snapshot(spark, root, SCHEMA, 2**31 - 1)
        assert [tuple(r) for r in latest.collect()] == [("new", 3)]
        # explicit at_batch pins a consistent two-store cut
        pinned = store.read_latest_snapshot(
            spark, root, SCHEMA, 2**31 - 1, at_batch=0
        )
        assert [tuple(r) for r in pinned.collect()] == [("old", 1)]


def test_survives_pruned_superseded_snapshots(spark):
    """After a prune removed every superseded snapshot, the read still
    returns the latest state (the directory it reads is the one the
    prune contract never deletes)."""
    import shutil

    with tempfile.TemporaryDirectory(prefix="sparkgraft_store_") as tmp:
        root = os.path.join(tmp, "s")
        for b in range(4):
            _write(spark, root, b, [(f"b{b}", b)])
        for b in range(3):  # prune everything but the newest
            shutil.rmtree(os.path.join(root, f"batch={b}"))
        df = store.read_latest_snapshot(spark, root, SCHEMA, 2**31 - 1)
        assert [tuple(r) for r in df.collect()] == [("b3", 3)]


# --- the store contract, once for every cumulative sketch store ----------

#: Every cumulative store, as its Fold over one shared input schema
#: (o: order/row id, key, v: value, g: group).
FOLDS = {
    "histogram": lambda: histogram.histogram_fold("v"),
    "cm": lambda: cmstream.cm_fold("key", 64, 4),
    "cm_grouped": lambda: cmstream.cm_fold_grouped(["g"], "g string", "key", 64, 4),
    "kmv": lambda: kmvstream.kmv_fold("key", 4),
    "kmv_grouped": lambda: kmvstream.kmv_fold_grouped(["g"], "g string", "key", 4),
    "qsketch": lambda: qstream.q_fold("v", "o", 4, "bigint"),
    "qsketch_grouped": lambda: qstream.q_fold_grouped(
        ["g"], "g string", "v", "o", 4, "bigint"
    ),
    "heavy_hitters": lambda: heavyhitters.mg_fold("key", 2),
    "bloom": lambda: bloomstream.bloom_fold("key", "o", 2, 64),
}

ROWS = [
    (i, "abcdefg"[(i * 5) % 7], (i * 37) % 500 + 1, "xy"[i % 2]) for i in range(36)
]
BATCHES = [ROWS[:12], ROWS[12:24], ROWS[24:]]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "o bigint, key string, v bigint, g string")


def _state(spark, root, fold):
    return {
        part: sorted(
            map(tuple, store.read_current(spark, root, part, schema).collect()),
            key=repr,
        )
        for part, schema in fold.parts.items()
    }


@pytest.mark.parametrize("name", sorted(FOLDS))
def test_store_contract_retry_and_prune(spark, name):
    """A retried batch N reads only the state before N and rewrites the
    same state; after each batch every part keeps exactly {M, N}."""
    fold = FOLDS[name]()
    with tempfile.TemporaryDirectory(prefix="sparkgraft_store_") as root:
        for i, rows in enumerate(BATCHES):
            store.fold_batch(_frame(spark, rows), i, root, *fold)
        first = _state(spark, root, fold)
        assert any(first.values())
        for part in fold.parts:
            assert sorted(store.list_batches(spark, os.path.join(root, part))) == [1, 2]
        store.fold_batch(_frame(spark, BATCHES[2]), 2, root, *fold)
        assert _state(spark, root, fold) == first


def _sparkgraft_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "sparkgraft_*")))


@pytest.mark.parametrize("name", sorted(FOLDS))
def test_failing_step_restores_session_and_temp_dirs(spark, name):
    """A step that raises inside foreachBatch (batch 1, after batch 0
    committed) fails the replay, yet the harness restores the session's
    shuffle setting and leaves no replay temp dir behind."""
    fold = FOLDS[name]()
    seen = []

    def failing(batch_df, batch_id, priors):
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if batch_id >= 1:
            raise RuntimeError("injected step failure")
        return fold.step(batch_df, batch_id, priors)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        before = _sparkgraft_dirs()
        with pytest.raises(Exception, match="injected step failure"):
            replay_store(
                spark,
                _frame(spark, ROWS),
                lambda stream, root: store.attach(stream, root, fold.parts, failing),
                lambda root: None,
                num_batches=2,
                order_col="o",
            )
        assert seen == ["16", "16"]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert _sparkgraft_dirs() <= before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
