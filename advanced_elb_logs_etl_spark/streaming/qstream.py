"""Streaming quantile sketch: the batch bottom-k sample
(operators/qsketch.py) maintained across micro-batches with the
bounded, restart-safe snapshot store of streaming/store.py — live
percentiles/CDFs of an unbounded stream (the streaming form of the
reference's per-hour median, reference write_hourly_aggregation,
:345-363) from k rows of state.

The k sample rows with the smallest row-id hashes of a growing
population are a MONOTONE fold — union the prior sample with the
batch's bottom-k, keep the k smallest by (h, v) — so the cumulative
streamed sketch equals the single-pass batch sketch WHATEVER the
micro-batch slicing (mergeable summaries; the kmvstream discipline),
making the operator value-exact-checkable against the batch SQL twin
at any geometry.  Contrast a true reservoir (Vitter 1985): the coin is
the deterministic row hash, so no per-batch randomness, no replay
drift, and independent stores merge exactly (qsketch.q_merge).

Store: one ``sample`` part in the cumulative-snapshot store
(streaming/store.py holds the contract).  No empty-batch sentinel: the
state is the full sample, so an empty batch rewrites the prior state
verbatim.  The ``v`` column keeps the STREAM's value type (see
_sample_schema).

Scale shape (100 TB/day stream): per micro-batch one projection +
TakeOrdered(k) over the batch, a 2k-row re-minimize, one k-row write.
State is k rows regardless of stream length; the sample feeds
qsketch.q_quantiles / q_cdf_micro unchanged, and grouped state is
k rows PER GROUP (caller bounds group cardinality: hours, tenants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import qsketch
from .replay import detached, replay_store
from .store import Fold, attach, read_current

__all__ = [
    "q_batch_step",
    "q_fold",
    "q_stream",
    "current_qsketch",
    "replay_qsketch",
    "q_grouped_batch_step",
    "q_fold_grouped",
    "q_stream_grouped",
    "current_qsketch_grouped",
    "replay_qsketch_grouped",
]


def _sample_schema(value_ddl: str, groups_ddl: str | None = None) -> T.StructType:
    """Store schema: the group columns (``groups_ddl``, grouped form
    only) + (h long, v <value_ddl>, batch int).  ``v`` carries the
    STREAM's value type — the batch step copies input values bit-exact
    (the qsketch contract), so the snapshot reader must declare the same
    type or a BIGINT value stream would write long parquet and read it
    back as double (ADVICE r11)."""
    lead = f"{groups_ddl}, " if groups_ddl else ""
    return T.DataType.fromDDL(f"{lead}h long, v {value_ddl}, batch int")


def q_batch_step(
    batch_df: DataFrame,
    prev_sample: DataFrame | None,
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
) -> DataFrame:
    """One fold step: k smallest sample rows of (prior sample ++ batch
    rows).  Delegates the batch side to qsketch.q_build so the two lanes
    can never drift, then re-minimizes the union (a 2k-row
    TakeOrdered)."""
    batch_sk = qsketch.q_build(batch_df, value_col, id_col, k)
    if prev_sample is None:
        return batch_sk
    return qsketch.q_merge(batch_sk, prev_sample.select("h", "v"), k=k)


def q_fold(
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
    value_ddl: str = "double",
) -> Fold:
    """The sketch's store declaration: one ``sample`` part whose ``v``
    has the stream's value type ``value_ddl``."""
    return Fold(
        {"sample": _sample_schema(value_ddl)},
        lambda batch_df, _bid, prior: {
            "sample": q_batch_step(batch_df, prior["sample"], value_col, id_col, k)
        },
    )


def q_stream(
    stream: DataFrame,
    store_dir: str,
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
):
    """Attach the sketch to a streaming frame (store.attach)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    vddl = stream.schema[value_col].dataType.simpleString()
    return attach(stream, store_dir, *q_fold(value_col, id_col, k, vddl))


def current_qsketch(
    spark: SparkSession, store_dir: str, value_ddl: str = "double"
) -> DataFrame:
    """The latest cumulative sample (columns ``h, v``) — feed it to
    qsketch.q_quantiles / q_cdf_micro, or q_merge to combine with other
    stores.  ``value_ddl`` declares the stream's value type (a BIGINT
    stream needs "bigint" here, mirroring groups_ddl on the grouped
    form)."""
    return read_current(spark, store_dir, "sample", _sample_schema(value_ddl))


def replay_qsketch(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = qsketch.K,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the streaming sketch
    (replay.replay_store) and return the final sample — which equals
    q_build of the whole frame whatever the slicing."""
    vddl = df.schema[value_col].dataType.simpleString()
    return replay_store(
        spark, df,
        lambda stream, store: q_stream(stream, store, value_col, id_col, k),
        lambda store: detached(current_qsketch(spark, store, vddl)),
        num_batches, order_col or id_col,
    )


# ---------------------------------------------------------------------------
# Grouped streaming quantile sketch: per-group samples maintained on the
# stream — live per-(hour, status, tenant) percentiles that stay
# queryable while the stream runs, roll up across groups via
# qsketch.q_merge_grouped, and merge across independent stores.  A
# batch missing a group rewrites that group's prior sample verbatim.
# ---------------------------------------------------------------------------


def q_grouped_batch_step(
    batch_df: DataFrame,
    prev_sample: DataFrame | None,
    group_cols: list[str],
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
) -> DataFrame:
    """One grouped fold step: per-group k smallest sample rows of
    (prior sample ++ batch rows).  Delegates both lanes to the batch
    grouped operators so the streams can never drift from them."""
    batch_sk = qsketch.q_build_grouped(
        batch_df, group_cols, value_col, id_col, k
    )
    if prev_sample is None:
        return batch_sk
    return qsketch.q_merge_grouped(
        batch_sk.unionByName(prev_sample.select(*group_cols, "h", "v")),
        group_cols,
        k,
    )


def q_fold_grouped(
    group_cols: list[str],
    groups_ddl: str,
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
    value_ddl: str = "double",
) -> Fold:
    """The grouped sketch's store declaration: one ``sample`` part whose
    schema leads with the group columns (``groups_ddl``)."""
    return Fold(
        {"sample": _sample_schema(value_ddl, groups_ddl)},
        lambda batch_df, _bid, prior: {
            "sample": q_grouped_batch_step(
                batch_df, prior["sample"], group_cols, value_col, id_col, k
            )
        },
    )


def q_stream_grouped(
    stream: DataFrame,
    store_dir: str,
    group_cols: list[str],
    groups_ddl: str,
    value_col: str = "v",
    id_col: str = "id",
    k: int = qsketch.K,
):
    """Attach the per-group sketch to a streaming frame (store.attach).
    ``groups_ddl`` declares the group columns' types for the store reads
    (e.g. "hour string").

    Scale shape: per micro-batch one row_number window keyed on the
    group, a union with the <= k-rows-per-group prior, and one bounded
    write — state is k rows PER GROUP, independent of stream length."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use q_stream")
    vddl = stream.schema[value_col].dataType.simpleString()
    return attach(
        stream,
        store_dir,
        *q_fold_grouped(group_cols, groups_ddl, value_col, id_col, k, vddl),
    )


def current_qsketch_grouped(
    spark: SparkSession,
    store_dir: str,
    groups_ddl: str,
    value_ddl: str = "double",
) -> DataFrame:
    """The latest cumulative per-group sample (group columns + ``h, v``)
    — feed it to qsketch.q_quantiles_grouped, q_merge_grouped for
    roll-ups, or union with other stores before a re-minimize.
    ``value_ddl`` declares the stream's value type (values are stored
    verbatim)."""
    return read_current(
        spark, store_dir, "sample", _sample_schema(value_ddl, groups_ddl)
    )


def replay_qsketch_grouped(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list[str],
    groups_ddl: str,
    value_col: str,
    id_col: str,
    k: int = qsketch.K,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the grouped streaming sketch and
    return the final per-group sample — which equals q_build_grouped of
    the whole frame whatever the slicing."""
    vddl = df.schema[value_col].dataType.simpleString()
    return replay_store(
        spark, df,
        lambda stream, store: q_stream_grouped(
            stream, store, group_cols, groups_ddl, value_col, id_col, k
        ),
        lambda store: detached(
            current_qsketch_grouped(spark, store, groups_ddl, vddl)
        ),
        num_batches, order_col or id_col,
    )
