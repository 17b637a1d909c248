"""Batch-replay harness: run a REAL Structured Streaming query over a
batch frame's data and hand the finished result back as a batch DataFrame.

This is the bridge that lets the streaming surface participate in the
value-exact DuckDB correctness gate: the batch frame is staged as parquet,
re-read with ``readStream`` (a genuine streaming source — micro-batch
planner, state store, watermarks all engaged), pushed through the caller's
streaming query, and drained to completion with an ``availableNow``
trigger.  Two entry points share every harness step:

- ``replay_stream`` drains a streaming transformation into a memory or
  parquet sink (the equivalence queries);
- ``replay_store`` drives a foreachBatch store writer (the sketches'
  ``*_stream`` / ``store.attach`` and the first-seen dedup) and returns
  ``read(store_dir)``.

Harness contract (stated here once):

- everything lands in one ``sparkgraft_replay_*`` temp dir, removed on
  every exit path;
- staging: one batch is ``coalesce(8)`` files read in one trigger; N
  batches are ``repartitionByRange(N, order_col)`` +
  ``sortWithinPartitions`` read with ``maxFilesPerTrigger=1`` /
  ``latestFirst=false``.  The file source orders same-trigger candidates
  by modification time and one write job stamps near-identical mtimes,
  so the part files are restamped in name order (part-N holds the N-th
  order range) with strictly increasing times: batch N is exactly slice
  N, a deterministic arrival order;
- ``spark.sql.shuffle.partitions`` is 16 while the query runs (state
  store instances and the per-batch folds' small shuffles scale with
  it; measured 5.7 s -> 1.5 s at sf0.1 on the session-window query) and
  the session's value is restored on every exit path.  These are
  HARNESS constants — a production stream sizes its real source and
  state partitions to the stream, not to a replayed fixture;
- the drain waits 300 s and raises ``TimeoutError`` rather than read a
  partially-populated sink; a query that failed re-raises its error;
- ``read`` must return a frame that no longer depends on the temp dir
  (the sketches ``collect`` -> ``createDataFrame`` via ``detached``;
  larger results ``localCheckpoint(eager=True)``).

Equivalence discipline (why these results CAN be value-exact):

- aggregation queries replay in ``complete`` output mode: append mode
  would suppress windows the end-of-stream watermark has not passed —
  an inherent streaming/batch divergence, not a bug — while complete mode
  emits every window exactly as the batch aggregation would;
- stateless/dedup/join queries replay in ``append`` mode with a watermark
  delay far longer than the fixture's event-time span, so no row is
  dropped as late and no state is finalized early;
- every float aggregate is DECIMAL-snapped inside the streaming plan
  (same dround contract as the batch catalog);
- the sketch folds are mergeable summaries, so their final state equals
  the single-pass batch build whatever the slicing.

Scale note: the staging parquet is written once and read once — the
harness adds two linear passes over the input, nothing quadratic.  On a
real cluster the same ``build`` / ``*_stream`` functions attach to a
Kafka/file source directly; the harness exists so tests and the DuckDB
correctness gate can exercise the identical plan hermetically.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STAGING_FILES = 8
_SHUFFLE_PARTITIONS = "16"
_DRAIN_TIMEOUT_S = 300
_SHUFFLE_CONF = "spark.sql.shuffle.partitions"

#: Session-scoped staged-source cache (r15, guide §6 — fewer redundant
#: I/O passes): queries replaying the SAME batch frame share ONE staged
#: parquet copy instead of each paying a write + source listing.  Keyed
#: by (application id, caller key) — an application id is never reused
#: across context restarts, unlike ``id(SparkContext)``; the caller key
#: certifies the batch_df is identical for every sharer (same table,
#: same projection) — the first caller's write is reused verbatim.
#: clear_stage_cache() is the bench/test isolation hook and also runs
#: at interpreter exit.
_STAGE_CACHE: dict[tuple, str] = {}


def clear_stage_cache() -> None:
    """Remove every shared staged-source directory (bench isolation
    hook — isolated reruns then charge each query a full re-stage)."""
    while _STAGE_CACHE:
        _, d = _STAGE_CACHE.popitem()
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


atexit.register(clear_stage_cache)


def detached(df: DataFrame) -> DataFrame:
    """``df`` collected to the driver and re-created: a small result that
    outlives the store directory it was read from."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


@contextmanager
def _harness(spark: SparkSession) -> Iterator[str]:
    """The replay temp dir; restores the shuffle conf and removes the
    dir on every exit path."""
    tmp = tempfile.mkdtemp(prefix="sparkgraft_replay_")
    old_shuffle = spark.conf.get(_SHUFFLE_CONF)
    try:
        yield tmp
    finally:
        spark.conf.set(_SHUFFLE_CONF, old_shuffle)
        shutil.rmtree(tmp, ignore_errors=True)


def _stage(
    df: DataFrame, dst: str, num_batches: int = 1, order_col: str | None = None
) -> None:
    """Write ``df`` as the parquet source of a ``num_batches`` replay
    (module docstring)."""
    if num_batches <= 1:
        df.coalesce(_STAGING_FILES).write.parquet(dst)
        return
    df.repartitionByRange(num_batches, F.col(order_col)).sortWithinPartitions(
        order_col
    ).write.parquet(dst)
    base = time.time() - 3600
    parts = sorted(
        f for f in os.listdir(dst) if f.startswith("part-") and not f.endswith(".crc")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(dst, fname), (base + i, base + i))


def _drain(spark: SparkSession, writer, ckpt: str) -> None:
    """Start ``writer`` under the harness shuffle setting and wait for
    the availableNow query to finish."""
    spark.conf.set(_SHUFFLE_CONF, _SHUFFLE_PARTITIONS)
    q = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming replay did not drain within {_DRAIN_TIMEOUT_S}s — "
            "refusing to read a partially-populated sink"
        )
    if q.exception() is not None:
        raise q.exception()


def replay_store(
    spark: SparkSession,
    df: DataFrame,
    attach: Callable[[DataFrame, str], object],
    read: Callable[[str], DataFrame],
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay ``df`` in ``num_batches`` order-aligned micro-batches
    (``order_col`` slices them) through ``attach(stream, store_dir)`` — a
    foreachBatch DataStreamWriter — and return ``read(store_dir)``."""
    with _harness(spark) as tmp:
        src = os.path.join(tmp, "src")
        _stage(df, src, num_batches, order_col)
        reader = spark.readStream.schema(df.schema)
        if num_batches > 1:
            reader = reader.option("maxFilesPerTrigger", 1).option(
                "latestFirst", "false"
            )
        store = os.path.join(tmp, "store")
        _drain(spark, attach(reader.parquet(src), store), os.path.join(tmp, "ckpt"))
        return read(store)


def replay_stream(
    spark: SparkSession,
    batch_df: DataFrame,
    build: Callable[[DataFrame], DataFrame],
    query_name: str,
    output_mode: str = "complete",
    sink: str = "memory",
    staging_key: tuple | None = None,
) -> DataFrame:
    """Replay ``batch_df`` through ``build(stream_df)`` as a real streaming
    query (one availableNow micro-batch) and return the final sink table
    pinned as a batch DataFrame.

    ``sink`` picks the drain: "memory" (default — fine for small
    results, but the memory sink materializes every output row ON THE
    DRIVER) or "parquet" — a foreachBatch writer that lands each
    trigger's result as parquet and reads it back, keeping large results
    executor-side end to end (complete-mode output REPLACES the
    directory per trigger, so the last trigger wins, matching the memory
    sink's complete semantics; measured 19.1 s -> 14.4 s on the 19k-row
    LSH canonicalization replay at sf0.1, value-identical). Use
    "parquet" whenever the streaming result is O(corpus).  The result is
    localCheckpoint-pinned before the temp dir goes.

    ``staging_key``: opt-in shared staging (see _STAGE_CACHE).  Callers
    passing the same key MUST pass a value-identical ``batch_df`` — the
    staged copy is written by the first caller and re-read by the rest,
    so the equivalence each replay proves is unchanged (same rows, same
    real streaming engine); only the redundant staging write + listing
    is shared.  The shared copy survives until clear_stage_cache()."""
    if sink not in ("memory", "parquet"):
        raise ValueError(f"unknown replay sink {sink!r}")
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    try:
        with _harness(spark) as tmp:
            dst = os.path.join(tmp, "dst")
            if staging_key is not None:
                ckey = (spark.sparkContext.applicationId,) + tuple(staging_key)
                src = _STAGE_CACHE.get(ckey)
                if src is None or not os.path.isdir(src):
                    sdir = tempfile.mkdtemp(prefix="sparkgraft_stage_")
                    src = os.path.join(sdir, "src")
                    _stage(batch_df, src)
                    _STAGE_CACHE[ckey] = src
            else:
                src = os.path.join(tmp, "src")
                _stage(batch_df, src)
            out = build(spark.readStream.schema(batch_df.schema).parquet(src))
            if sink == "memory":
                writer = out.writeStream.format("memory").queryName(name)
            else:
                # complete mode re-emits the WHOLE result per trigger -> the
                # last trigger's overwrite IS the final table; append mode
                # emits each row once -> accumulate
                _mode = "overwrite" if output_mode == "complete" else "append"

                def _to_parquet(bdf: DataFrame, _bid: int) -> None:
                    bdf.write.mode(_mode).parquet(dst)

                writer = out.writeStream.foreachBatch(_to_parquet).queryName(name)
            _drain(spark, writer.outputMode(output_mode), os.path.join(tmp, "ckpt"))
            if sink == "memory":
                result = spark.table(name)
            elif not os.path.isdir(dst):
                # the replayed query emitted NO output batch (empty source,
                # or an append-mode build whose triggers produced nothing),
                # so foreachBatch never wrote dst — return an empty frame
                # with the sink schema, matching the memory sink
                result = spark.createDataFrame([], out.schema)
            else:
                result = spark.read.parquet(dst)
            return result.localCheckpoint(eager=True)
    finally:
        if sink == "memory":
            spark.catalog.dropTempView(name)
