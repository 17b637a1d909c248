#!/usr/bin/env python
"""Snapshot-store read-path scale check (round 11 — "measure, don't
guess"): the ADVICE-r10 refactor claim that selecting the batch from
the directory listing and scanning ONE partition keeps reads O(1) in
snapshot count, where the old full-store scan (read every batch=
partition, max-batch join) grows with the backlog pruning hasn't
caught up with.

Usage: python tools/scale_store_read.py   (prints one JSON line per
snapshot-count wave: new-path wall vs old-path wall)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from advanced_elb_logs_etl_spark.session import get_spark
    from advanced_elb_logs_etl_spark.streaming import store

    spark = get_spark(app_name="scale_store_read")
    spark.sparkContext.setLogLevel("ERROR")

    schema = T.StructType(
        [
            T.StructField("h", T.LongType()),
            T.StructField("batch", T.IntegerType()),
        ]
    )

    def old_read(path: str, before: int):
        """The pre-r11 read: scan every partition, max-batch join."""
        df = (
            spark.read.schema(schema)
            .option("basePath", path)
            .parquet(path)
            .filter(F.col("batch") < F.lit(int(before)))
        )
        latest = df.agg(F.max("batch").alias("batch"))
        return df.join(F.broadcast(latest), "batch").drop("batch")

    for n_snapshots in (8, 64, 512):
        tmp = tempfile.mkdtemp(prefix="sparkgraft_storescale_")
        try:
            root = os.path.join(tmp, "s")
            base = spark.range(256).select(F.col("id").alias("h"))
            for b in range(n_snapshots):
                base.write.mode("overwrite").parquet(
                    os.path.join(root, f"batch={b}")
                )
            t0 = time.perf_counter()
            new_rows = store.read_latest_snapshot(
                spark, root, schema, store.LATEST
            ).count()
            new_s = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            old_rows = old_read(root, store.LATEST).count()
            old_s = round(time.perf_counter() - t0, 3)
            assert new_rows == old_rows == 256
            print(
                json.dumps(
                    {
                        "wave": "store_read",
                        "snapshots": n_snapshots,
                        "new_single_partition_s": new_s,
                        "old_full_scan_s": old_s,
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
