"""Keyed upsert sink with TTL / ifNotExists semantics (K1/K2).

The reference writes verdicts to Cassandra with primary key ``bot_ip``,
``ifNotExists=true`` (insert-only-when-absent) and a 10-minute row TTL
(ImplDStreams.scala:71-78; Common.scala:9; cassandra/init.cql:5) and
the structured path does per-row foreach INSERTs
(ImplStructured.scala:22-36). Spark-first equivalent: a
``foreachBatch`` MERGE into a keyed table —

- upsert: new batch rows replace same-key rows (last-writer-wins), or
  are discarded if the key exists and ``if_not_exists`` is set;
- TTL: retention filter on a ``detected_at`` column applied on every
  batch (row expiry without a TTL-capable store);
- idempotence: re-delivered batches converge (MERGE by key), which is
  what makes checkpoint recovery exactly-once end-to-end.

On a real cluster this foreachBatch body would target Delta/Iceberg
``MERGE INTO``; plain parquet overwrite keeps the container
dependency-free while exercising identical semantics. The table is
small by construction (one row per flagged key), so the batch-side
join broadcasts it.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def recover_table(path: str) -> None:
    """Repair what a crashed :func:`replace_table` left at ``path``.
    The swap only *renames* live data, so every crash window leaves the
    last committed state on disk: ``._stage_*`` dirs are uncommitted
    output → delete; a ``._old_table_*`` dir is the retired table →
    restore it if the live path is missing, else (the swap committed)
    delete it. Re-running the rewrite afterwards (a sink batch's
    checkpoint retry, a maintenance job's next run) drops no row."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(path)
    if not os.path.isdir(parent):
        return
    for name in sorted(os.listdir(parent)):
        full = os.path.join(parent, name)
        if name.startswith(f"{base}._stage_"):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith(f"{base}._old_table_"):
            if os.path.exists(path):
                shutil.rmtree(full, ignore_errors=True)
            else:
                shutil.move(full, path)


def replace_table(df: DataFrame, path: str) -> None:
    """Make ``df`` the table at ``path``: write a sibling stage
    DISTRIBUTED (nothing funnels through the driver), retire the live
    table by rename (never delete it first), install the stage. A crash
    anywhere leaves the live table or a retired copy for
    :func:`recover_table`; readers see the old table or the new one. On
    a real cluster this is a Delta/Iceberg metadata-only commit."""
    stage = f"{path}._stage_{uuid.uuid4().hex[:8]}"
    df.write.parquet(stage)
    if os.path.exists(path):
        old = f"{path}._old_table_{uuid.uuid4().hex[:8]}"
        shutil.move(path, old)
        shutil.move(stage, path)
        shutil.rmtree(old)
    else:
        shutil.move(stage, path)


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The parquet table at ``path``, or None when it doesn't exist yet.
    Only PATH_NOT_FOUND means "no table": any other failure (corrupt
    footer, FS hiccup) propagates, so a micro-batch fails and is retried
    from the checkpoint instead of overwriting the table with just the
    incoming batch. A ``schema`` skips inference, so a table whose
    writes so far were all empty (no data files) reads as empty."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        get_cond = getattr(exc, "getCondition", None) or exc.getErrorClass
        if (get_cond() or "") == "PATH_NOT_FOUND":
            return None
        raise


class KeyedUpsertSink:
    """foreachBatch target maintaining a keyed parquet table."""

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        ttl_sec: int | None = None,
        if_not_exists: bool = False,
        now_fn: Callable[[], float] = time.time,
    ) -> None:
        self.path = path
        self.key_cols = key_cols
        self.ttl_sec = ttl_sec
        self.if_not_exists = if_not_exists
        self.now_fn = now_fn

    # -- helpers ------------------------------------------------------------

    def _apply_ttl(self, df: DataFrame) -> DataFrame:
        if self.ttl_sec is None:
            return df
        cutoff = self.now_fn() - self.ttl_sec
        return df.where(F.col("detected_at") >= F.lit(cutoff))

    def _merge(self, current: DataFrame | None, incoming: DataFrame) -> DataFrame:
        """MERGE semantics: last-writer-wins upsert, or
        insert-only-when-absent under ``if_not_exists``."""
        if current is None:
            return incoming
        current = self._apply_ttl(current)
        if self.if_not_exists:
            incoming = incoming.join(
                current.select(*self.key_cols), self.key_cols, "left_anti"
            )
            return current.unionByName(incoming)
        kept = current.join(
            incoming.select(*self.key_cols), self.key_cols, "left_anti"
        )
        return kept.unionByName(incoming)

    # -- the foreachBatch body ------------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_table(self.path)
        now = self.now_fn()
        incoming = batch_df.dropDuplicates(self.key_cols).withColumn(
            "detected_at", F.lit(float(now))
        )
        # the merged table is written distributed and swapped in by
        # replace_table; a failed batch leaves the last committed table
        # (or its retired copy) for the checkpoint retry to re-merge
        merged = self._merge(read_table(spark, self.path), incoming)
        replace_table(merged, self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        """Query-side view of the table, TTL applied. NON-MUTATING by
        contract: a reader may race an in-flight micro-batch of the same
        sink, and repairing swap state from here would move directories
        out from under the writer mid-swap (restoring a retired table the
        batch is about to replace, or deleting its live stage). Repair
        happens only in ``__call__`` (start of the next batch / the
        checkpoint retry, which is serialized with the swap). After a
        crash, this read falls back READ-ONLY to the retired copy — the
        last committed state; a read racing the swap window itself may
        transiently fail on a just-moved directory and can simply be
        retried."""
        live = read_table(spark, self.path)
        if live is None:
            # the swap crashed between retire and install: the retired
            # copy is the last committed state
            parent = os.path.dirname(os.path.abspath(self.path)) or "."
            base = os.path.basename(self.path)
            names = sorted(os.listdir(parent)) if os.path.isdir(parent) else []
            for name in names:
                if name.startswith(f"{base}._old_table_"):
                    live = spark.read.parquet(os.path.join(parent, name))
                    break
        if live is None:
            return spark.createDataFrame([], "struct<>")
        return self._apply_ttl(live)


def console_sink(df: DataFrame, **options):
    """K5 — debug console sink (``botStream.print()`` analog)."""
    return df.writeStream.format("console").options(**options)
