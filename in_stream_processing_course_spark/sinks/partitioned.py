"""Partitioned batch table layout — the other half of the 100 TB read
story. `operators/bucketing.py` pre-pays the JOIN shuffle; this module
pre-pays the SCAN: a fact table written hive-partitioned on a
low-cardinality derived key (event date) lets any query filtering on
that key read only the matching directories (partition pruning happens
in the driver before a single task launches).

Layout rules that matter at scale:
- partition on a DERIVED low-cardinality column (date, not raw
  timestamp — one directory per day, not per microsecond);
- sort within partitions on the secondary access key so parquet
  row-group min/max stats prune further within each file;
- never partition on a high-cardinality key (user_id) — millions of
  tiny directories kill the listing phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.projections import ensure_timestamp
from ..sources.batch import load_table


def write_events_partitioned(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """events -> parquet partitioned by event_date, sorted by
    (user_id, ts) within each partition."""
    ev = ensure_timestamp(load_table(spark, sf_dir, "events"), "ts")
    (
        ev.withColumn("event_date", F.col("ts").cast("date"))
        .repartition("event_date")
        .sortWithinPartitions("user_id", "ts")
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(out_dir)
    )


def read_events_on(spark: SparkSession, out_dir: str, day: str) -> DataFrame:
    """One day's events from the partitioned layout; the date filter
    resolves to partition directories at planning time."""
    return spark.read.parquet(out_dir).where(
        F.col("event_date") == F.lit(day).cast("date")
    )


def backfill_partitions(
    spark: SparkSession,
    corrected: DataFrame,
    out_dir: str,
) -> None:
    """Surgical backfill: overwrite ONLY the partitions present in
    ``corrected`` (a recomputed date range), leaving every other
    day's directory untouched — the restatement path when late data
    or a bug fix invalidates part of a 100 TB fact table. Uses
    Spark's dynamic partition-overwrite mode: static overwrite would
    truncate the WHOLE table (the classic backfill foot-gun); dynamic
    replaces exactly the partitions the incoming frame writes.

    The mode is a per-write option, so the session's overwrite
    semantics are never touched.
    """
    (
        corrected.repartition("event_date")
        .sortWithinPartitions("user_id", "ts")
        .write.partitionBy("event_date")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )
