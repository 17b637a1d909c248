"""Streaming Count-Min sketch: the batch CM operator
(operators/cmsketch.py) maintained across micro-batches in the
bounded, restart-safe snapshot store of streaming/store.py.

Because CM cells are plain sums, the cumulative streamed sketch equals
the single-pass batch sketch WHATEVER the micro-batch slicing (the
mergeable-summaries contract, Agarwal et al. 2012) — so the operator is
value-exact-checkable against the batch SQL twin at ANY geometry, like
the histogram and unlike compacting summaries.

Store: one ``cells`` part in the cumulative-snapshot store
(streaming/store.py holds the contract); <= depth*width rows, so a
full-state rewrite per batch is cheaper than a delta protocol.  No
empty-batch sentinel is needed (the heavy-hitters ADVICE-r8 class):
cell counts are MONOTONE — an empty batch partition implies every prior
batch was empty too (the histogram.py adjudication, same reasoning).

Scale shape (100 TB/day stream): per micro-batch one depth-way explode
+ ONE map-side-combinable hash agg onto <= d*w cells, a union with the
<= d*w-row prior state, and one bounded write.  State is d*w cells
regardless of stream length; sketches from independent streams merge by
cell-wise sum (cmsketch.cm_merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import cmsketch as cm
from .replay import detached, replay_store
from .store import Fold, attach, read_current

__all__ = [
    "cm_batch_step",
    "cm_fold",
    "cm_stream",
    "current_sketch",
    "replay_cm",
    "cm_grouped_batch_step",
    "cm_fold_grouped",
    "cm_stream_grouped",
    "current_sketch_grouped",
    "replay_cm_grouped",
]

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("row", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)


def cm_batch_step(
    batch_df: DataFrame,
    prev_cells: DataFrame | None,
    key_col: str = "key",
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
) -> DataFrame:
    """One micro-batch merge: the new cumulative (row, bucket, cnt)
    sketch — the batch's cells cell-wise-summed into the prior state
    via cm_merge (Catalyst collapses the two adjacent aggregations into
    one partial+final pair, so delegating costs nothing)."""
    cells = cm.cm_build(batch_df, key_col, width, depth)
    if prev_cells is not None:
        cells = cm.cm_merge(
            cells, prev_cells.select("row", "bucket", "cnt")
        )
    return cells


def cm_fold(
    key_col: str = "key", width: int = cm.WIDTH, depth: int = cm.DEPTH
) -> Fold:
    """The sketch's store declaration: one ``cells`` part."""
    return Fold(
        {"cells": CELLS_SCHEMA},
        lambda batch_df, _bid, prior: {
            "cells": cm_batch_step(batch_df, prior["cells"], key_col, width, depth)
        },
    )


def cm_stream(
    stream: DataFrame,
    store_dir: str,
    key_col: str = "key",
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
):
    """Attach the sketch to a streaming frame (store.attach)."""
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    return attach(stream, store_dir, *cm_fold(key_col, width, depth))


def current_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The latest cumulative (row, bucket, cnt) sketch — feed it to
    cmsketch.cm_estimate for point queries, or cm_merge to combine with
    other stores."""
    return read_current(spark, store_dir, "cells", CELLS_SCHEMA)


def replay_cm(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the streaming sketch
    (replay.replay_store) and return the final cumulative cells — which
    equal cm_build of the whole frame whatever the slicing."""
    return replay_store(
        spark, df,
        lambda stream, store: cm_stream(stream, store, key_col, width, depth),
        lambda store: detached(current_sketch(spark, store)),
        num_batches, order_col or key_col,
    )


# ---------------------------------------------------------------------------
# Grouped streaming CM: per-group cell tables maintained on the stream —
# per-hour/per-source token-frequency screens that stay queryable while
# the stream runs (cmsketch.cm_estimate_grouped), roll up across groups
# (cmsketch.cm_merge_grouped; cells are plain sums), and merge across
# stores.  A batch missing a group carries its cells forward verbatim.
# State is <= depth*width rows PER GROUP (caller bounds group
# cardinality: hours, sources, tenants), independent of stream length.
# ---------------------------------------------------------------------------


def _grouped_cells_schema(groups_ddl: str) -> T.StructType:
    """State schema for the grouped store: the caller's group columns
    (DDL string, e.g. "hour string") + (row int, bucket int, cnt long,
    batch int)."""
    return T.DataType.fromDDL(
        f"{groups_ddl}, row int, bucket int, cnt long, batch int"
    )


def cm_grouped_batch_step(
    batch_df: DataFrame,
    prev_cells: DataFrame | None,
    group_cols: list[str],
    key_col: str = "key",
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
) -> DataFrame:
    """One grouped fold step: the batch's per-group cells cell-wise-
    summed into the prior state (cm_merge_grouped — Catalyst collapses
    the adjacent aggregations, the global-form argument)."""
    cells = cm.cm_build_grouped(batch_df, group_cols, key_col, width, depth)
    if prev_cells is not None:
        cells = cm.cm_merge_grouped(
            cells.unionByName(
                prev_cells.select(*group_cols, "row", "bucket", "cnt")
            ),
            group_cols,
        )
    return cells


def cm_fold_grouped(
    group_cols: list[str],
    groups_ddl: str,
    key_col: str = "key",
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
) -> Fold:
    """The grouped sketch's store declaration: one ``cells`` part whose
    schema leads with the group columns (``groups_ddl``)."""
    return Fold(
        {"cells": _grouped_cells_schema(groups_ddl)},
        lambda batch_df, _bid, prior: {
            "cells": cm_grouped_batch_step(
                batch_df, prior["cells"], group_cols, key_col, width, depth
            )
        },
    )


def cm_stream_grouped(
    stream: DataFrame,
    store_dir: str,
    group_cols: list[str],
    groups_ddl: str,
    key_col: str = "key",
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
):
    """Attach the per-group sketch to a streaming frame (store.attach).
    ``groups_ddl`` declares the group columns' types for the store
    reads."""
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use cm_stream")
    return attach(
        stream,
        store_dir,
        *cm_fold_grouped(group_cols, groups_ddl, key_col, width, depth),
    )


def current_sketch_grouped(
    spark: SparkSession, store_dir: str, groups_ddl: str
) -> DataFrame:
    """The latest per-group cumulative cells (group_cols..., row,
    bucket, cnt) — feed them to cmsketch.cm_estimate_grouped for
    per-group point estimates or cm_merge_grouped to roll up / merge
    stores."""
    return read_current(
        spark, store_dir, "cells", _grouped_cells_schema(groups_ddl)
    )


def replay_cm_grouped(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list[str],
    groups_ddl: str,
    key_col: str,
    width: int = cm.WIDTH,
    depth: int = cm.DEPTH,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the grouped streaming sketch and
    return the final per-group cells — which equal cm_build_grouped of
    the whole frame whatever the slicing."""
    return replay_store(
        spark, df,
        lambda stream, store: cm_stream_grouped(
            stream, store, group_cols, groups_ddl, key_col, width, depth
        ),
        lambda store: detached(current_sketch_grouped(spark, store, groups_ddl)),
        num_batches, order_col or key_col,
    )
