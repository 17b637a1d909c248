"""Streaming heavy hitters: a Misra-Gries summary maintained across
micro-batches with a bounded, restart-safe parquet store.

The Misra-Gries frequent-items summary (Misra & Gries 1982; merge rule
from Agarwal et al. 2012, "Mergeable Summaries", PODS) keeps at most C
(key, count) entries.  Merging exact micro-batch counts into the summary
and re-compacting preserves the classic guarantee: after total decrement
D (the sum of per-compaction offsets d), every key's true stream count N
satisfies  cnt <= N <= cnt + D  for keys in the summary, and any key
ABSENT from the summary has N <= D.  With capacity >= the stream's
distinct-key cardinality, D stays 0 and the summary is EXACT — the
configuration the (future) catalog gate runs, so the operator is
value-exact-checkable against a plain GROUP BY oracle while the small-C
approximate path is covered by the bound tests.

Everything is integer arithmetic and deterministic: compaction picks d =
the (C+1)-th largest count under the total order (cnt DESC, key ASC) via
TakeOrdered(C+1) — never a global sort — keeps entries with cnt > d at
cnt - d, and both d and the running total D ride the plan as 1-row
broadcast scalar stitches (no driver collect anywhere in the batch
step).

Store: two parts in the cumulative-snapshot store (streaming/store.py
holds the contract), declared — and therefore written — in this order:
  - ``meta/batch=N``: one row (d_total) — kept separate from the summary
    so the bound survives even a compaction that empties the summary.
    It is written FIRST: the two writes are not atomic, and a reader
    pairing a batch-N summary with a batch-N-1 d_total would UNDERSTATE
    cnt_upper (bound violation), while meta-N with summary-N-1 merely
    overstates D — bound-safe;
  - ``summary/batch=N``: the full compacted summary as of batch N,
    PLUS one sentinel row ``(key=NULL, cnt=-1)`` written on every batch
    so a compaction that legitimately empties the summary still leaves
    batch N visible in row space (real rows always have cnt >= 1, so
    the sentinel is unambiguous and readers drop it with ``cnt > 0``).
    Without it, both the latest-prior read and the reader's consistent
    cut — which derive "batch N exists" from rows — would silently fall
    back to the stale batch N-1 state (ADVICE r8).
current_heavy_hitters reads both parts at ONE consistent cut (ADVICE
r7); pruning keeps {M, N} in each, so the max-common cut always lands
on a surviving pair even across a mid-write crash (summary {M, N} /
meta {L, M} cuts at M, which pruning never removes).

Scale shape (100 TB/day stream): per micro-batch ONE exact hash agg over
the batch (map-side combine), one union with the <= C-row prior summary,
one TakeOrdered(C+1), and two C-bounded writes.  State is C rows total —
independent of stream length — and the summary is mergeable across
independent streams by construction (union the summaries, sum d_totals,
re-compact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .replay import detached, replay_store
from .store import Fold, attach, list_batches, read_latest_snapshot

__all__ = [
    "mg_batch_step",
    "mg_fold",
    "heavy_hitters_stream",
    "current_heavy_hitters",
    "replay_heavy_hitters",
]

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("d_total", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)


def mg_batch_step(
    batch_df: DataFrame,
    prev_summary: DataFrame | None,
    prev_meta: DataFrame | None,
    key_col: str = "key",
    capacity: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """One Misra-Gries merge+compact step as a pure batch computation
    (unit-testable without a stream).

    Returns ``(summary, meta)``: the new <= capacity-row (key, cnt)
    summary and the 1-row (d_total) running decrement.  Both are lazy
    plans; the d scalar attaches via broadcast stitches, so the step adds
    NO driver action.

    Compaction: with the merged counts totally ordered by (cnt DESC, key),
    d = the (capacity+1)-th count (0 when fewer rows exist); survivors
    are entries with cnt > d, stored at cnt - d.  Rows outside the
    TakeOrdered(capacity+1) frontier have cnt <= d under the same order,
    so filtering within the frontier is equivalent to filtering the full
    merged frame — the whole compaction touches capacity+1 rows."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    counts = batch_df.groupBy(
        F.col(key_col).cast("string").alias("key")  # store schema is string
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    if prev_summary is not None:
        counts = (
            counts.unionByName(prev_summary.select("key", "cnt"))
            .groupBy("key")
            .agg(F.sum("cnt").alias("cnt"))
        )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(capacity + 1)
    d_row = top.agg(
        F.coalesce(
            F.when(
                F.count(F.lit(1)) >= capacity + 1, F.min("cnt")
            ).otherwise(F.lit(0)),
            F.lit(0),  # empty frame: min() is NULL
        )
        .cast("long")
        .alias("d")
    )
    summary = (
        top.crossJoin(F.broadcast(d_row))
        .filter(F.col("cnt") > F.col("d"))
        .select("key", (F.col("cnt") - F.col("d")).alias("cnt"))
    )
    if prev_meta is not None:
        prev_d = prev_meta.agg(
            F.coalesce(F.max("d_total"), F.lit(0)).cast("long").alias("prev_d")
        )
    else:
        prev_d = batch_df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("prev_d")
        )
    meta = prev_d.crossJoin(F.broadcast(d_row)).select(
        (F.col("prev_d") + F.col("d")).alias("d_total")
    )
    return summary, meta


def _mg_step(
    batch_df: DataFrame, prior: dict, key_col: str, capacity: int
) -> dict:
    """The store step: drop the prior summary's sentinel, merge and
    compact, and append this batch's sentinel (module docstring)."""
    prev_summary = prior["summary"]
    if prev_summary is not None:
        prev_summary = prev_summary.filter(F.col("cnt") > 0)
    summary, meta = mg_batch_step(
        batch_df, prev_summary, prior["meta"], key_col, capacity
    )
    sentinel = batch_df.sparkSession.range(1).select(
        F.lit(None).cast("string").alias("key"),
        F.lit(-1).cast("long").alias("cnt"),
    )
    return {"meta": meta, "summary": summary.unionByName(sentinel)}


def mg_fold(key_col: str = "key", capacity: int = 64) -> Fold:
    """The summary's store declaration: ``meta`` then ``summary`` (the
    write order is a correctness condition, module docstring)."""
    return Fold(
        {"meta": META_SCHEMA, "summary": SUMMARY_SCHEMA},
        lambda batch_df, _bid, prior: _mg_step(batch_df, prior, key_col, capacity),
    )


def heavy_hitters_stream(
    stream: DataFrame,
    store_dir: str,
    key_col: str = "key",
    capacity: int = 64,
):
    """Attach the Misra-Gries summary to a streaming frame
    (store.attach)."""
    return attach(stream, store_dir, *mg_fold(key_col, capacity))


def current_heavy_hitters(
    spark: SparkSession, store_dir: str, k: int | None = None
) -> DataFrame:
    """(key, cnt_lower, cnt_upper): the current summary with its MG
    bounds — true count in [cnt_lower, cnt_upper], any absent key's true
    count <= the store's d_total.  ``k`` keeps the top-k by lower bound
    (ties by key); None returns the whole summary."""
    # the cut comes from the two DIRECTORY LISTINGS and only the two
    # selected partitions are scanned; a missing store reads as empty
    sum_dir = os.path.join(store_dir, "summary")
    meta_dir = os.path.join(store_dir, "meta")
    s_batches = list_batches(spark, sum_dir)
    m_batches = list_batches(spark, meta_dir)
    common = set(s_batches or []) & set(m_batches or [])
    if not common:
        return spark.createDataFrame(
            [], "key string, cnt_lower bigint, cnt_upper bigint"
        )
    cut = max(common)
    # drop the per-batch sentinel row AFTER the cut: it exists precisely
    # so an empty compacted summary still registers its batch here
    summary = read_latest_snapshot(
        spark, sum_dir, SUMMARY_SCHEMA, cut + 1, at_batch=cut
    ).filter(F.col("cnt") > 0)
    meta = read_latest_snapshot(
        spark, meta_dir, META_SCHEMA, cut + 1, at_batch=cut
    )
    d = meta.agg(F.coalesce(F.max("d_total"), F.lit(0)).alias("d_total"))
    out = summary.crossJoin(F.broadcast(d)).select(
        "key",
        F.col("cnt").alias("cnt_lower"),
        (F.col("cnt") + F.col("d_total")).alias("cnt_upper"),
    )
    if k is not None:
        out = out.orderBy(F.col("cnt_lower").desc(), F.col("key")).limit(k)
    return out


def replay_heavy_hitters(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    capacity: int = 64,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the streaming summary
    (replay.replay_store) and return current_heavy_hitters of the final
    store."""
    return replay_store(
        spark, df,
        lambda stream, store: heavy_hitters_stream(stream, store, key_col, capacity),
        lambda store: detached(current_heavy_hitters(spark, store)),
        num_batches, order_col or key_col,
    )
