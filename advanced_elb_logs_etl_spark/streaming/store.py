"""The cumulative-snapshot store behind every streaming sketch
(histogram, cmstream, kmvstream, qstream, heavyhitters, bloomstream).

Each sketch is a fold ``state' = step(batch, state)`` over mergeable
summaries (Agarwal et al., "Mergeable Summaries", PODS 2012), so one
store and one foreachBatch body serve all of them.  A sketch declares
a ``Fold``: its store parts (name -> snapshot schema, in WRITE order)
and its ``step``; ``attach`` hangs the fold on a stream and
``fold_batch`` is the foreachBatch body.

Store contract (stated here once; the sketch modules only add their
sketch-specific reasons):

- Layout: ``<store_dir>/<part>/batch=N`` holds the FULL cumulative
  state of that part as of batch N.
- Retry-safe read (r9): batch N reads, per part, the LATEST snapshot
  strictly before N, so a retried batch sees exactly the state its
  first attempt saw and never merges its own earlier write.
- Overwrite-idempotent writes, in the declared part order (a sketch
  whose parts must land in a fixed order — heavyhitters' meta before
  summary — declares them in that order).
- Prune keeping {M, N} (r9): after the writes, every part drops the
  snapshots older than M, the newest snapshot before N.  A retried N
  still finds M; pruning is best-effort and never a correctness input.
- Prune-race-free read (r10): the batch is selected from the DIRECTORY
  LISTING and ONLY that partition is scanned.  The old read scanned
  every ``batch=`` partition and picked the max in-plan, so a prune
  landing between Spark's file listing and the scan could fail the read
  on a file it was never going to use; the one directory read here is
  by construction the newest prior snapshot, which pruning never
  deletes.  It also keeps a read O(1) directories however far pruning
  lags.
- Error contract (r9): ONLY "store path does not exist" (first batch /
  never started) reads as no-state.  Transient FS errors during listing
  or scan PROPAGATE — treating them as no-state would persist a
  snapshot missing all prior counts, a permanent silent undercount.

A reader that needs a consistent cut across parts (heavyhitters) lists
each part with ``list_batches`` and pins ``read_latest_snapshot(...,
at_batch=cut)``.  NOT for delta stores whose reads union ALL prior
batches (the neardup first-seen key store): pruning those would
un-block seen keys.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "LATEST",
    "Fold",
    "attach",
    "delete_batches",
    "fold_batch",
    "list_batches",
    "prune_history",
    "read_current",
    "read_latest_snapshot",
]

#: ``before_batch`` for a reader that wants the newest snapshot.
LATEST = 2**31 - 1

Step = Callable[[DataFrame, int, dict], dict]


class Fold(NamedTuple):
    """A sketch's store declaration.  ``parts`` maps each part name to
    its snapshot schema (with the ``batch`` partition column), in write
    order; ``step(batch_df, batch_id, priors) -> {part: frame}`` builds
    the new state from the batch and each part's prior snapshot (None
    before the first batch)."""

    parts: dict[str, T.StructType]
    step: Step


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def list_batches(spark: SparkSession, path: str) -> list[int] | None:
    """Batch numbers of the ``batch=N`` subdirectories under ``path``
    (one driver-side Hadoop FS listing — no Spark job), or None when
    the store path itself does not exist."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    out: list[int] = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def delete_batches(spark: SparkSession, path: str, batches: Iterable[int]) -> None:
    """Recursively delete the ``batch=N`` directories under ``path``."""
    fs, hpath = _fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for b in batches:
        fs.delete(jpath(hpath, f"batch={int(b)}"), True)


def prune_history(spark: SparkSession, path: str, batch_id: int) -> None:
    """Best-effort removal of the snapshots older than M, the newest
    snapshot before ``batch_id`` — keeps exactly {M, N} (module
    docstring).  Failures are swallowed: an undeleted snapshot just
    means a larger store."""
    try:
        batches = list_batches(spark, path) or []
        prior = [b for b in batches if b < batch_id]
        if prior:
            keep = max(prior)
            delete_batches(spark, path, [b for b in batches if b < keep])
    except Exception:  # pragma: no cover - best-effort cleanup only
        pass


def read_latest_snapshot(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    before_batch: int,
    at_batch: int | None = None,
) -> DataFrame | None:
    """The latest cumulative snapshot strictly before ``before_batch``
    (or exactly ``at_batch`` when given), with the ``batch`` partition
    column dropped; None when the store is missing or holds no
    qualifying snapshot.  Reads ONLY the selected partition directory."""
    if at_batch is None:
        prior = [b for b in list_batches(spark, path) or [] if b < before_batch]
        if not prior:
            return None
        at_batch = max(prior)
    leaf = os.path.join(path, f"batch={int(at_batch)}")
    df = spark.read.schema(schema).option("basePath", path).parquet(leaf)
    return df.drop("batch")


def read_current(
    spark: SparkSession, store_dir: str, part: str, schema: T.StructType
) -> DataFrame:
    """The newest snapshot of ``part``, or an empty frame of its schema
    (minus ``batch``) when the store holds none."""
    snap = read_latest_snapshot(
        spark, os.path.join(store_dir, part), schema, LATEST
    )
    if snap is None:
        fields = [f for f in schema.fields if f.name != "batch"]
        return spark.createDataFrame([], T.StructType(fields))
    return snap


def fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    parts: dict[str, T.StructType],
    step: Step,
) -> None:
    """The foreachBatch body: read each part's prior snapshot, run
    ``step``, write its parts overwrite-idempotently in declared order,
    then prune every part."""
    spark = batch_df.sparkSession
    dirs = {name: os.path.join(store_dir, name) for name in parts}
    priors = {
        name: read_latest_snapshot(spark, dirs[name], schema, batch_id)
        for name, schema in parts.items()
    }
    out = step(batch_df, batch_id, priors)
    for name in parts:
        out[name].write.mode("overwrite").parquet(
            os.path.join(dirs[name], f"batch={batch_id}")
        )
    for name in parts:
        prune_history(spark, dirs[name], batch_id)


def attach(
    stream: DataFrame,
    store_dir: str,
    parts: dict[str, T.StructType],
    step: Step,
):
    """Hang a fold on a streaming frame; returns the configured
    DataStreamWriter (caller adds trigger/checkpoint and starts it).
    Pair one store with exactly one checkpoint lineage."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        fold_batch(batch_df, batch_id, store_dir, parts, step)

    return stream.writeStream.foreachBatch(_process).outputMode("update")
