"""Small-file compaction — the maintenance half of the streaming sink
story. A micro-batch parquet sink (streaming/pipeline.py's raw-event
cache, or any foreachBatch append) accretes one-file-per-trigger; at
40-second triggers that is ~2,000 files/day/partition, and at 100 TB
the NameNode listing + per-file open cost dominates scans long before
the bytes do. Compaction rewrites a directory into size-targeted
files through :func:`rewrite_parquet_dir`, the one guarded,
crash-recoverable rewrite of a maintained table (a table format would
make it a metadata-only commit).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .upsert import recover_table, replace_table

TARGET_FILE_BYTES = 128 * 1024 * 1024  # parquet sweet spot at scale


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def rewrite_parquet_dir(
    spark: SparkSession,
    path: str,
    transform: Callable[[DataFrame], DataFrame],
) -> None:
    """Replace the parquet table at ``path`` with ``transform`` of its
    rows. Refuses while an active streaming query writes to ``path``
    (best-effort, via the queries' sink descriptions); repairs a swap
    an earlier run crashed in (:func:`recover_table`); rewrites
    distributed and swaps with :func:`replace_table`. The result is a
    plain parquet directory without a sink's ``_spark_metadata`` log."""
    for q in spark.streams.active:
        desc = (q.lastProgress or {}).get("sink", {}).get("description", "")
        if path in desc:
            raise RuntimeError(
                f"rewrite_parquet_dir: streaming query {q.name or q.id} is "
                f"actively writing to {path}; stop it before rewriting"
            )
    recover_table(path)
    replace_table(transform(spark.read.parquet(path)), path)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ceil(size / target) files, optionally
    range-clustered on ``sort_by`` so footer min/max stats prune after
    compaction. Returns the new file count.

    Sizing uses the CURRENT on-disk bytes — compressed parquet in,
    compressed parquet out, so the estimate is self-calibrating.
    """

    def cluster(df: DataFrame) -> DataFrame:
        n_files = max(1, -(-_dir_bytes(path) // target_file_bytes))
        if sort_by:
            return df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
                *sort_by
            )
        return df.coalesce(n_files)

    rewrite_parquet_dir(spark, path, cluster)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
