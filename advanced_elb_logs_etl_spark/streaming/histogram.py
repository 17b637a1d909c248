"""Streaming log-bucketed histogram: mergeable quantile state with exact
bucket counts and a bounded relative-error guarantee.

The DDSketch idea (Masson, Rim, Lee 2019, "DDSketch: a fast and
fully-mergeable quantile sketch with relative-error guarantees", VLDB)
realized with power-of-two octaves + S linear sub-buckets per octave
instead of gamma-log buckets: bucket boundaries are then integer-exact
(no per-row transcendental whose libm rounding could flip a bucket at a
boundary), the relative error of any reported quantile is <= 1/S, and —
unlike Misra-Gries — the merged state is EXACT bucket counts, so results
are independent of micro-batch arrival order and the operator is
value-exact against a plain GROUP BY oracle at ANY setting.

Bucketing a positive long v:
    octave  b = floor(log2 v)   — computed as len(bin(v)) - 1, pure
                                  string/integer ops (SQL twin:
                                  length(bin(v)) - 1 over the BIGINT)
    sub     = floor((v - 2^b) * S / 2^b)  in [0, S)
    bucket  = b * S + sub
With S a power of two, (v - 2^b) * S / 2^b is an exact power-of-two
rescaling of an integer — the double division is exact (exponent
arithmetic) for v < 2^52, far above any microsecond latency — so the
floor is deterministic on every engine.  v == 0 gets the reserved bucket
-1; negative/null values are the caller's error channel (dropped here,
counted by the caller if they matter).

Store: one ``counts`` part in the cumulative-snapshot store
(streaming/store.py holds the contract).  State is O(octaves * S) ~
hundreds of rows, so a full-state rewrite per batch is cheaper than a
compaction protocol.  No empty-batch sentinel is needed (unlike the
heavy-hitters summary, ADVICE r8): cumulative counts are MONOTONE —
they never shrink — so a batch partition can only be empty if every
prior batch was too, and the latest snapshot is always the right state.

Scale shape (100 TB/day stream): per micro-batch one narrow projection +
one hash agg onto <= 64*S buckets (map-side combine collapses the batch
before any exchange), a union with the <= 64*S-row prior state, and one
bounded write.  Quantile queries never touch the stream — they fold the
bucket table (window over <= 64*S rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .replay import detached, replay_store
from .store import LATEST, Fold, attach, read_current, read_latest_snapshot

__all__ = [
    "bucket_of",
    "bucket_bounds",
    "histogram_batch_step",
    "histogram_fold",
    "histogram_stream",
    "quantile_estimates",
    "replay_histogram",
]

#: Default sub-buckets per octave (power of two; relative error <= 1/S).
SUBBUCKETS = 8

COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("batch", T.IntegerType()),
    ]
)


def _check_s(s: int) -> None:
    if s < 1 or (s & (s - 1)):
        raise ValueError(f"subbuckets must be a power of two >= 1, got {s}")


def bucket_of(v, s: int = SUBBUCKETS):
    """Bucket id Column for a positive long Column; 0 -> the reserved
    bucket -1, negative/null -> null (callers drop).  SQL twin:
    CASE WHEN v IS NULL OR v < 0 THEN NULL WHEN v = 0 THEN -1
    ELSE (length(bin(v)) - 1) * S + floor((v - 2^b) * S / 2^b) END
    (bin() of the BIGINT, b inlined)."""
    _check_s(s)
    vv = v.cast("long")
    b = (F.length(F.conv(vv.cast("string"), 10, 2)) - 1).cast("long")
    pow2 = F.pow(F.lit(2.0), b.cast("double"))  # exact: a power of two
    sub = F.floor((vv - pow2) * F.lit(s) / pow2).cast("long")
    return (
        F.when(vv.isNull() | (vv < 0), F.lit(None).cast("long"))
        .when(vv == 0, F.lit(-1).cast("long"))
        .otherwise(b * s + sub)
    )


def bucket_bounds(bucket, s: int = SUBBUCKETS):
    """(lo, hi) inclusive-exclusive value bounds of a bucket id, as two
    Columns — lo = 2^b * (1 + sub/S), hi = the next bucket's lo.  The
    reserved bucket -1 maps to [0, 1)."""
    _check_s(s)
    b = F.floor(bucket / F.lit(s)).cast("long")
    sub = (bucket - b * s).cast("long")
    pow2 = F.pow(F.lit(2.0), b.cast("double"))
    lo = (pow2 + pow2 * sub / F.lit(s)).cast("long")
    nxt = bucket + 1
    nb = F.floor(nxt / F.lit(s)).cast("long")
    nsub = (nxt - nb * s).cast("long")
    npow2 = F.pow(F.lit(2.0), nb.cast("double"))
    hi = (npow2 + npow2 * nsub / F.lit(s)).cast("long")
    zero = bucket == F.lit(-1)
    # low octaves (2^b < S) have sub-bucket width < 1: the integer-cast
    # bounds collapse — clamp so every bucket brackets its integer values
    return (
        F.when(zero, F.lit(0).cast("long")).otherwise(lo),
        F.when(zero, F.lit(1).cast("long")).otherwise(
            F.greatest(hi, lo + F.lit(1).cast("long"))
        ),
    )


def histogram_batch_step(
    batch_df: DataFrame,
    prev_counts: DataFrame | None,
    value_col: str = "value",
    s: int = SUBBUCKETS,
) -> DataFrame:
    """One micro-batch merge: the new cumulative (bucket, cnt) state.
    Null and negative values are dropped (documented error channel);
    zero lands in bucket -1.  Pure integer counts — arrival-order
    independent, mergeable by construction."""
    counts = (
        batch_df.select(bucket_of(F.col(value_col), s).alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    if prev_counts is not None:
        counts = (
            counts.unionByName(prev_counts.select("bucket", "cnt"))
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    return counts


def histogram_fold(value_col: str = "value", s: int = SUBBUCKETS) -> Fold:
    """The histogram's store declaration: one ``counts`` part."""
    return Fold(
        {"counts": COUNTS_SCHEMA},
        lambda batch_df, _bid, prior: {
            "counts": histogram_batch_step(batch_df, prior["counts"], value_col, s)
        },
    )


def histogram_stream(
    stream: DataFrame,
    store_dir: str,
    value_col: str = "value",
    s: int = SUBBUCKETS,
):
    """Attach the histogram to a streaming frame (store.attach)."""
    _check_s(s)
    return attach(stream, store_dir, *histogram_fold(value_col, s))


def quantile_estimates(
    spark: SparkSession,
    store_dir: str,
    qs: list[float],
    s: int = SUBBUCKETS,
) -> DataFrame:
    """(q, lo, hi, n): for each quantile q, the value bounds of the
    bucket holding the ceil(q*n)-th smallest observation — the true
    quantile lies in [lo, hi), so any point estimate from the bucket has
    relative error <= 1/S.  Integer-exact given the stored counts; the
    rank targets use exact integer ceil((q_num * n) / q_den) with q
    passed as micro-fractions to avoid float rank boundaries."""
    bad = [q for q in qs if not (0.0 < q <= 1.0)]
    if bad:
        raise ValueError(f"quantiles must be in (0, 1], got {bad}")
    counts = read_latest_snapshot(
        spark, os.path.join(store_dir, "counts"), COUNTS_SCHEMA, LATEST
    )
    if counts is None:
        return spark.createDataFrame(
            [], "q double, lo bigint, hi bigint, n bigint"
        )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("n"))
    q_rows = spark.createDataFrame(
        [(float(q), int(round(q * 1_000_000))) for q in qs],
        "q double, q_micro bigint",
    )
    targets = q_rows.crossJoin(F.broadcast(total)).select(
        "q",
        "n",
        # rank = ceil(q * n) with exact integers, floor at 1
        F.greatest(
            F.lit(1).cast("long"),
            -F.floor(-(F.col("q_micro") * F.col("n")) / F.lit(1_000_000)).cast(
                "long"
            ),
        ).alias("rank"),
    )
    # first bucket whose cumulative count reaches the rank: min bucket
    # with cum >= rank (the bucket table is tiny; broadcast the targets)
    hit = (
        cum.join(F.broadcast(targets), cum["cum"] >= targets["rank"])
        .groupBy("q", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    lo, hi = bucket_bounds(F.col("bucket"), s)
    return hit.select("q", lo.alias("lo"), hi.alias("hi"), "n")


def replay_histogram(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    s: int = SUBBUCKETS,
    num_batches: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a batch frame through the streaming histogram
    (replay.replay_store) and return the final cumulative (bucket, cnt)
    state — which, because counts are exact and mergeable, equals the
    single-pass batch bucketing whatever the slicing."""
    return replay_store(
        spark, df,
        lambda stream, store: histogram_stream(stream, store, value_col, s),
        lambda store: detached(read_current(spark, store, "counts", COUNTS_SCHEMA)),
        num_batches, order_col or value_col,
    )
