"""Streaming Bloom first-seen dedup: the batch operator
(operators/bloom.bloom_first_seen_flags) maintained across
micro-batches in the bounded, restart-safe snapshot store of
streaming/store.py — bounded-memory approximate dedup of an
unbounded key stream (Broder & Mitzenmacher 2004), where exact
first-seen dedup (streaming/neardup.py) would have to keep every key
ever seen.

State is the per-bit FIRST-SET ORDER: (bit, t_first), <= m_bits rows
for the life of the stream.  The fold is a min-merge — union the prior
frame with the batch's per-bit minima, keep the min per bit — and the
per-item flag ("every one of my k bits was set by a strictly earlier
item") is evaluated inside the batch against (prior state ∪ the
batch's own first-sets), exactly the injectable ``first_set`` lane of
the batch operator, so the two can never drift.

ORDER CONTRACT: unlike the kmv/cm/qsketch folds (order-free mergeable
summaries), first-seen semantics depend on order — the fold equals the
batch computation IFF batches are order-aligned (every item in batch N
has a smaller order value than every item in batch N+1).  replay_bloom
guarantees this via repartitionByRange on the order column; a live
stream gets it from an append-only offset/event-id.  Given that, the
per-item flags are slicing-invariant (an item's flag depends only on
bits set by strictly-earlier items, which are all in its own or prior
batches), so one batch SQL twin covers every replay geometry.

Store: two parts in the cumulative-snapshot store (streaming/store.py
holds the contract): ``bits/batch=N`` holds the cumulative (bit,
t_first) state as of batch N; ``flags/batch=N`` holds one
(src_batch, n_items, n_bloom_dup) summary row per processed batch —
summaries are per-batch facts, so the cumulative snapshot is the prior
summaries plus this batch's.

Scale shape (100 TB/day stream): per micro-batch one k-way explode +
hash agg over the batch (map-side combinable to <= m_bits rows), a
broadcast of the bounded state, one item-keyed agg over the batch, and
one <= m_bits-row write.  Nothing ever rescans history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import bloom
from .replay import detached, replay_store
from .store import Fold, attach, read_current

__all__ = [
    "bloom_batch_step",
    "bloom_fold",
    "bloom_stream",
    "current_bloom_state",
    "current_bloom_summary",
    "replay_bloom",
]

BITS_SCHEMA = T.StructType(
    [
        T.StructField("bit", T.LongType()),
        T.StructField("t_first", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)

FLAGS_SCHEMA = T.StructType(
    [
        T.StructField("src_batch", T.IntegerType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("n_bloom_dup", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _check_order_integral(df: DataFrame, order_col: str) -> None:
    """BITS_SCHEMA pins t_first as LONG and the store casts min(o) to
    long, but the in-batch flag comparison uses the order column's
    NATIVE type — a timestamp/decimal order column would silently
    diverge between store state and in-batch flags (or fail the cast).
    Enforce the documented 'append-only event id / offset' contract at
    the stream entrypoints."""
    dt = df.schema[order_col].dataType
    if not isinstance(dt, _INTEGRAL_TYPES):
        raise TypeError(
            f"order_col {order_col!r} must be an integral event id/offset "
            f"(the store pins t_first as LONG); got {dt.simpleString()}"
        )


def bloom_batch_step(
    batch_df: DataFrame,
    prev_bits: DataFrame | None,
    key_col: str,
    order_col: str,
    k: int = bloom.DEDUP_K,
    m_bits: int = bloom.DEDUP_M_BITS,
) -> tuple[DataFrame, DataFrame]:
    """One fold step.  Returns (new_bits, batch_flags):

    - new_bits: (bit, t_first) = per-bit min over (prior state ∪ this
      batch's items) — the next cumulative state, <= m_bits rows.
    - batch_flags: this batch's per-item (order, key, bloom_dup) flags,
      evaluated against prior state ∪ batch-internal first-sets via the
      batch operator's ``first_set`` injection.
    """
    base = batch_df.filter(
        F.col(key_col).isNotNull() & F.col(order_col).isNotNull()
    )
    flags = bloom.bloom_first_seen_flags(
        base,
        key_col,
        order_col,
        k=k,
        m_bits=m_bits,
        first_set=(
            None if prev_bits is None else prev_bits.select("bit", "t_first")
        ),
    )
    batch_bits = base.select(
        F.col(order_col).alias("o"),
        F.explode(
            bloom.bloom_positions_md5(
                F.col(key_col).cast("string"), k, m_bits
            )
        ).alias("bit"),
    ).groupBy("bit").agg(F.min("o").cast("long").alias("t_first"))
    if prev_bits is not None:
        batch_bits = (
            batch_bits.unionByName(prev_bits.select("bit", "t_first"))
            .groupBy("bit")
            .agg(F.min("t_first").alias("t_first"))
        )
    return batch_bits, flags


def _bloom_step(
    batch_df: DataFrame,
    batch_id: int,
    prior: dict,
    key_col: str,
    order_col: str,
    k: int,
    m_bits: int,
) -> dict:
    """The store step: fold the bits and append this batch's flag
    summary to the prior summaries."""
    new_bits, flags = bloom_batch_step(
        batch_df, prior["bits"], key_col, order_col, k, m_bits
    )
    summary = flags.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count_if("bloom_dup").alias("n_bloom_dup"),
    ).select(
        F.lit(batch_id).cast("int").alias("src_batch"),
        "n_items",
        "n_bloom_dup",
    )
    if prior["flags"] is not None:
        summary = summary.unionByName(
            prior["flags"].select("src_batch", "n_items", "n_bloom_dup")
        )
    return {"bits": new_bits, "flags": summary}


def bloom_fold(
    key_col: str,
    order_col: str,
    k: int = bloom.DEDUP_K,
    m_bits: int = bloom.DEDUP_M_BITS,
) -> Fold:
    """The dedup's store declaration: ``bits`` then ``flags``."""
    return Fold(
        {"bits": BITS_SCHEMA, "flags": FLAGS_SCHEMA},
        lambda batch_df, bid, prior: _bloom_step(
            batch_df, bid, prior, key_col, order_col, k, m_bits
        ),
    )


def bloom_stream(
    stream: DataFrame,
    store_dir: str,
    key_col: str,
    order_col: str,
    k: int = bloom.DEDUP_K,
    m_bits: int = bloom.DEDUP_M_BITS,
):
    """Attach the dedup fold to a streaming frame (store.attach).  See
    the module ORDER CONTRACT."""
    if k < 1 or k > 6:
        raise ValueError(f"k must be in [1, 6], got {k}")
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    _check_order_integral(stream, order_col)
    return attach(stream, store_dir, *bloom_fold(key_col, order_col, k, m_bits))


def current_bloom_state(spark: SparkSession, store_dir: str) -> DataFrame:
    """The latest cumulative (bit, t_first) state (<= m_bits rows) —
    inject it into bloom_first_seen_flags(first_set=...) to flag a new
    batch offline, or min-merge with another store's state."""
    return read_current(spark, store_dir, "bits", BITS_SCHEMA)


def current_bloom_summary(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-batch flag summaries so far: (src_batch, n_items,
    n_bloom_dup), one row per processed batch."""
    return read_current(spark, store_dir, "flags", FLAGS_SCHEMA)


def replay_bloom(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    order_col: str,
    k: int = bloom.DEDUP_K,
    m_bits: int = bloom.DEDUP_M_BITS,
    num_batches: int = 1,
) -> DataFrame:
    """Replay a batch frame through the streaming dedup
    (replay.replay_store) and return the per-batch summaries.  Batches
    are ORDER-ALIGNED (sliced by order_col), so the summed flags equal
    the batch operator's on the whole frame."""
    return replay_store(
        spark, df,
        lambda stream, store: bloom_stream(
            stream, store, key_col, order_col, k, m_bits
        ),
        lambda store: detached(current_bloom_summary(spark, store)),
        num_batches, order_col,
    )
