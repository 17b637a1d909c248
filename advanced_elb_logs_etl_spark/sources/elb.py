"""ALB access-log scan (S1-S4).

Reference: extract_log_keys + transform_elb_logs
(/root/reference/advanced_elb_logs_etl.py:65-75,155-171) — a driver-side
boto3 loop pulling whole gzip objects into RAM. Spark-first replacement:
ONE ``spark.read.text`` over a glob; the DataSource handles listing (S1),
gzip decode (S2 — codec auto-detected from the .gz suffix, one task per file
since gzip is unsplittable, which matches the reference's per-file unit of
work), and per-file progress shows up in the Spark UI instead of log lines
(S3). Lineage (S4) is ``input_file_name()``.

At 100 TB the only knob that matters here is file granularity: gzip files
cap per-task parallelism, so the upstream ALB delivery cadence (5-minute
objects per AZ) controls task count — typically plenty. For pathological
single-huge-gz inputs, re-compress to a splittable codec upstream; the scan
code is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_alb_lines(
    spark: SparkSession,
    paths: str | list[str],
    suffix_filter: str = ".gz",
    source_col: str = "log_source_file",
) -> DataFrame:
    """Scan raw ALB log lines -> DataFrame[value: string, log_source_file: string].

    ``paths`` may be a directory, glob, or explicit file list (local, s3a://,
    hdfs:// — any Hadoop FS). The ``.gz``-suffix key filter (F5, reference
    :70) becomes a path-filter option so non-matching files are never opened.
    """
    reader = spark.read
    if suffix_filter:
        reader = reader.option("pathGlobFilter", f"*{suffix_filter}")
    # Reference parity (advanced_elb_logs_etl.py:169-171): a corrupt/truncated
    # gz object logs an error and the run continues with the other files.
    reader = reader.option("ignoreCorruptFiles", "true")
    if isinstance(paths, str):
        paths = [paths]
    # the list as ONE argument: text()'s later positionals are options
    # (wholetext, lineSep, ...), so text(*paths) misreads a second path
    df = reader.text(paths)
    return df.withColumn(source_col, F.input_file_name())
