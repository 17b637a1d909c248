"""SparkSession construction and normalization of driver-provided sessions.

Scale stance: every config here is chosen for the 100 TB case and merely
*also* works on local[32]:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion) — the primary defense against skewed
  ``client_ip``/``user_id`` keys at scale.
- Arrow on — every Pandas UDF crosses the JVM/Python boundary in columnar
  batches, not rows.
- ANSI off — the reference engine (pandas) has permissive cast semantics
  ('-' -> null, bad int -> null); we mirror that via try_cast + ANSI off so
  a malformed log line degrades to nulls instead of failing a 100 TB job.
- Session timezone UTC — all timestamp columns are handled as instants;
  the reference's America/New_York presentation (advanced_elb_logs_etl.py:29)
  is applied explicitly with from_utc_timestamp at the column level, never
  implicitly via session state.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference pins America/New_York (advanced_elb_logs_etl.py:29). We keep it as
# an explicit constant used by column-level conversions only.
EASTERN_TZ = "America/New_York"

#: Runtime-settable confs applied to any session (ours or the driver's).
RUNTIME_CONFS: dict[str, str] = {
    # testdata parquet uses TIMESTAMP(NANOS) which Spark has no native type
    # for; read as long nanos and convert explicitly (sources/testdata.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # pandas-parity cast/arith semantics ('-' -> null, not an error).
    "spark.sql.ansi.enabled": "false",
    # AQE: coalesce tiny shuffle partitions, split skewed ones, convert
    # sort-merge joins to broadcast at runtime when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every pandas_udf / mapInPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    The correctness driver hands us its own SparkSession; normalize it so
    query semantics don't depend on who built the session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — keep going; tests pin it at build
            # time via get_spark().
            pass
    return spark


def get_spark(
    app_name: str = "advanced-elb-logs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` governs local parallelism; on a real cluster the
    same code runs unchanged — only master/partition settings move to
    spark-submit conf.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Partition sizing: at 100 TB this is set so post-shuffle partitions
        # land ~128-256 MB; AQE coalescing makes the exact number forgiving.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: geo cache / nation-style dims are far below
        # this; raises the odds every dim join is a broadcast hash join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)


def autosize_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int,
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` from an input-size estimate so
    each post-shuffle task lands near ``target_partition_bytes``
    (~128 MB), clamped below by total cores (no idle cores on small
    inputs).  Returns the value applied.

    Why this exists: AQE coalesces partitions that are TOO SMALL but can
    never split a window's sort partitions above the configured count —
    a fixed small setting silently serializes big window/agg stages.
    Measured on the 200x events replica (20M rows, this repo's scale
    harness): the W1-W7 sessionize block ran 15.3 s at the local-test
    default of 32 partitions and 8.0 s at 128 — the 32-way sort spilled,
    exactly the failure mode this heuristic sizes away.  At 100 TB the
    same arithmetic gives ~800k partitions; pair it with a coarser
    target (256 MB) and AQE coalescing soaks up the remainder.

    Estimate ``input_bytes`` from the source listing (e.g. sum of parquet
    file sizes x a 2-4x decode factor for the shuffled projection); an
    over-estimate is forgiving (AQE coalesces), an under-estimate is not.
    """
    parts = shuffle_partitions_for(spark, input_bytes, target_partition_bytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts


def shuffle_partitions_for(
    spark: SparkSession,
    input_bytes: int,
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> int:
    """The partition count autosize_shuffle_partitions WOULD apply,
    without mutating the session — lets callers compare against a
    deliberate session setting before deciding to override."""
    cores = spark.sparkContext.defaultParallelism
    return max(cores, (int(input_bytes) + target_partition_bytes - 1)
               // target_partition_bytes)


def is_checkpoint_leaf(df) -> bool:
    """True when ``df`` optimizes to a bare checkpoint (``LogicalRDD``)
    leaf; False (never raises) when the internal API moved."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getName().endswith("LogicalRDD")
    except Exception:  # pragma: no cover - defensive: internals moved
        return False


def release_local_checkpoint(df) -> bool:
    """Best-effort release of a ``localCheckpoint(eager=True)`` frame's
    block storage.

    ``DataFrame.unpersist()`` (and ``df.rdd.unpersist()``) are no-ops for
    checkpointed frames: localCheckpoint persists the INTERNAL row RDD,
    which the CacheManager never tracks and ``.rdd`` re-derives rather
    than returns.  The one handle to the persisted RDD is the
    ``LogicalRDD`` leaf the checkpoint left as the frame's plan — reach
    it through the JVM and unpersist (non-blocking).  The fixpoint driver
    (operators/fixpoint.py) calls this per superseded round so K rounds
    hold one working-set copy, not K; without it the blocks linger until
    the ContextCleaner GCs the frame.

    Returns True when storage was released; False (never raises) when
    the plan is not a checkpoint leaf or the internal API moved — the
    fallback is the pre-existing GC behavior, not an error.
    """
    try:
        node = df._jdf.queryExecution().logical()
        if node.getClass().getName().endswith("LogicalRDD"):
            node.rdd().unpersist(False)
            return True
    except Exception:  # pragma: no cover - defensive: internals moved
        pass
    return False
