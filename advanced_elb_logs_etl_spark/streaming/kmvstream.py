"""Streaming K-Minimum-Values sketch: the batch KMV operator
(operators/kmv.py) maintained across micro-batches in the bounded,
restart-safe snapshot store of streaming/store.py.

The k smallest distinct hashes of a growing set are a MONOTONE fold —
union the prior minima with the batch's hashes, keep the k smallest —
so the cumulative streamed sketch equals the single-pass batch sketch
WHATEVER the micro-batch slicing (mergeable summaries, Agarwal et al.
2012), making the operator value-exact-checkable against the batch SQL
twin at any geometry (the cmstream/histogram discipline, not a
compacting summary like Misra-Gries).

Store: one ``hashes`` part in the cumulative-snapshot store
(streaming/store.py holds the contract).  No empty-batch sentinel is
needed: the state is the full minima set, so an empty batch rewrites
the prior state verbatim.

Scale shape (100 TB/day stream): per micro-batch one hash projection +
distinct + TakeOrdered(k) over the batch, a union with the k-row prior,
and one k-row write.  State is k rows regardless of stream length;
sketches from independent streams merge by kmv.kmv_union, and the
result feeds kmv.kmv_estimate / kmv_intersect_estimate unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import kmv
from .replay import detached, replay_store
from .store import Fold, attach, read_current

__all__ = [
    "kmv_batch_step",
    "kmv_fold",
    "kmv_stream",
    "current_kmv",
    "replay_kmv",
    "kmv_grouped_batch_step",
    "kmv_fold_grouped",
    "kmv_stream_grouped",
    "current_kmv_grouped",
    "replay_kmv_grouped",
]

HASHES_SCHEMA = T.StructType(
    [
        T.StructField("h", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)


def kmv_batch_step(
    batch_df: DataFrame,
    prev_hashes: DataFrame | None,
    key_col: str = "key",
    k: int = kmv.K,
) -> DataFrame:
    """One fold step: k smallest distinct hashes of (prior minima ++
    batch keys).  Delegates the batch side to kmv.kmv_build so the two
    lanes can never drift, then re-minimizes the union (a 2k-row
    TakeOrdered)."""
    batch_sketch = kmv.kmv_build(batch_df, key_col, k)
    if prev_hashes is None:
        return batch_sketch
    return kmv.kmv_union(
        batch_sketch, prev_hashes.select("h"), k=k
    )


def kmv_fold(key_col: str = "key", k: int = kmv.K) -> Fold:
    """The sketch's store declaration: one ``hashes`` part."""
    return Fold(
        {"hashes": HASHES_SCHEMA},
        lambda batch_df, _bid, prior: {
            "hashes": kmv_batch_step(batch_df, prior["hashes"], key_col, k)
        },
    )


def kmv_stream(
    stream: DataFrame,
    store_dir: str,
    key_col: str = "key",
    k: int = kmv.K,
):
    """Attach the sketch to a streaming frame (store.attach)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return attach(stream, store_dir, *kmv_fold(key_col, k))


def current_kmv(spark: SparkSession, store_dir: str) -> DataFrame:
    """The latest cumulative minima set (column ``h``) — feed it to
    kmv.kmv_estimate / kmv_intersect_estimate, or kmv_union to combine
    with other stores."""
    return read_current(spark, store_dir, "hashes", HASHES_SCHEMA)


def replay_kmv(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    k: int = kmv.K,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the streaming sketch
    (replay.replay_store) and return the final minima set — which
    equals kmv_build of the whole frame whatever the slicing."""
    return replay_store(
        spark, df,
        lambda stream, store: kmv_stream(stream, store, key_col, k),
        lambda store: detached(current_kmv(spark, store)),
        num_batches, order_col or key_col,
    )


# ---------------------------------------------------------------------------
# Grouped streaming KMV: per-group minima sets maintained on the stream —
# the streaming form of the reference's per-hour COUNT(DISTINCT client_ip)
# (reference advanced_elb_logs_etl.py:345-363): per-(hour, ...) distinct
# estimates that stay queryable while the stream runs, roll up across
# groups via kmv.kmv_merge_grouped, and merge across independent stores.
# A batch missing a group rewrites that group's prior minima verbatim.
# ---------------------------------------------------------------------------


def _grouped_state_schema(groups_ddl: str) -> T.StructType:
    """State schema for the grouped store: the caller's group columns
    (DDL string, e.g. "hour string, segment string") + (h long,
    batch int)."""
    return T.DataType.fromDDL(f"{groups_ddl}, h long, batch int")


def kmv_grouped_batch_step(
    batch_df: DataFrame,
    prev_hashes: DataFrame | None,
    group_cols: list[str],
    key_col: str = "key",
    k: int = kmv.K,
) -> DataFrame:
    """One grouped fold step: per-group k smallest distinct hashes of
    (prior minima ++ batch keys).  Delegates both lanes to the batch
    grouped operators so the streams can never drift from them."""
    batch_sk = kmv.kmv_build_grouped(batch_df, group_cols, key_col, k)
    if prev_hashes is None:
        return batch_sk
    return kmv.kmv_merge_grouped(
        batch_sk.unionByName(prev_hashes.select(*group_cols, "h")),
        group_cols,
        k,
    )


def kmv_fold_grouped(
    group_cols: list[str], groups_ddl: str, key_col: str = "key", k: int = kmv.K
) -> Fold:
    """The grouped sketch's store declaration: one ``hashes`` part whose
    schema leads with the group columns (``groups_ddl``)."""
    return Fold(
        {"hashes": _grouped_state_schema(groups_ddl)},
        lambda batch_df, _bid, prior: {
            "hashes": kmv_grouped_batch_step(
                batch_df, prior["hashes"], group_cols, key_col, k
            )
        },
    )


def kmv_stream_grouped(
    stream: DataFrame,
    store_dir: str,
    group_cols: list[str],
    groups_ddl: str,
    key_col: str = "key",
    k: int = kmv.K,
):
    """Attach the per-group sketch to a streaming frame (store.attach).
    ``groups_ddl`` declares the group columns' types for the store reads
    (e.g. "hour string").

    Scale shape: per micro-batch one grouped distinct agg + one
    row_number window keyed on the group, a union with the <= k-rows-
    per-group prior, and one bounded write — state is k rows PER GROUP
    (the caller bounds group cardinality: hours, sources, tenants),
    independent of stream length."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use kmv_stream")
    return attach(
        stream, store_dir, *kmv_fold_grouped(group_cols, groups_ddl, key_col, k)
    )


def current_kmv_grouped(
    spark: SparkSession, store_dir: str, groups_ddl: str
) -> DataFrame:
    """The latest per-group cumulative minima (group_cols..., h) — feed
    it to kmv.kmv_estimate_grouped for per-group distinct estimates,
    kmv.kmv_merge_grouped to roll up, or union with another store's
    frame and re-minimize (kmv_merge_grouped again) to merge stores."""
    return read_current(
        spark, store_dir, "hashes", _grouped_state_schema(groups_ddl)
    )


def replay_kmv_grouped(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list[str],
    groups_ddl: str,
    key_col: str,
    k: int = kmv.K,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the grouped streaming sketch and
    return the final per-group minima — which equal kmv_build_grouped of
    the whole frame whatever the slicing."""
    return replay_store(
        spark, df,
        lambda stream, store: kmv_stream_grouped(
            stream, store, group_cols, groups_ddl, key_col, k
        ),
        lambda store: detached(current_kmv_grouped(spark, store, groups_ddl)),
        num_batches, order_col or key_col,
    )
