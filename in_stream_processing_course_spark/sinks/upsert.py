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

    # -- crash recovery -----------------------------------------------------

    def _recover(self) -> None:
        """Repair any state a crashed batch left behind, before doing work.

        The swap protocol only ever *renames* live data (never deletes it
        before the replacement is installed), so every crash window leaves
        enough on disk to restore the last committed state:

        - ``._stage_*`` dirs are uncommitted batch output → delete.
        - ``._old_table_*`` (the swap retired the live table but died
          before installing the stage): if the live path is missing,
          restore it; if present, the swap committed → delete the old.

        After recovery the table holds either the state before the
        crashed batch or its completed merge; the checkpoint retry then
        re-runs the MERGE idempotently over both. No pre-existing key is
        ever dropped.
        """
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        base = os.path.basename(self.path)
        if not os.path.isdir(parent):
            return
        for name in sorted(os.listdir(parent)):
            full = os.path.join(parent, name)
            if name.startswith(f"{base}._stage_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(f"{base}._old_table_"):
                if os.path.exists(self.path):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    shutil.move(full, self.path)

    # -- helpers ------------------------------------------------------------

    def _read_current(self, spark: SparkSession) -> DataFrame | None:
        """Current table, or None only when the table doesn't exist yet.

        Only the path-not-found AnalysisException maps to "empty table";
        any other failure (corrupt footer, FS hiccup) must propagate so
        the micro-batch fails and is retried from the checkpoint instead
        of silently overwriting the table with just the incoming batch.
        """
        try:
            return spark.read.parquet(self.path)
        except AnalysisException as exc:
            get_cond = getattr(exc, "getCondition", None) or exc.getErrorClass
            if (get_cond() or "") == "PATH_NOT_FOUND":
                return None
            raise

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
        self._recover()
        now = self.now_fn()
        incoming = batch_df.dropDuplicates(self.key_cols).withColumn(
            "detected_at", F.lit(float(now))
        )
        current = self._read_current(spark)
        merged = self._merge(current, incoming)
        # Stage the merged table to a sibling temp dir DISTRIBUTED (the
        # executors write parquet in parallel straight from the join
        # plan — nothing ever funnels through the driver), then
        # rename-swap it over the live path. Same discipline as
        # sinks/compaction.py and streaming.pipeline.expire_raw_events:
        # readers either see the old complete table or the new one, and
        # a failed batch leaves the live table untouched so checkpoint
        # retry re-runs the MERGE idempotently. On a real cluster this
        # body is a Delta/Iceberg MERGE INTO (metadata-only commit);
        # with millions of flagged keys this path scales with executor
        # count, not driver heap.
        stage = f"{self.path}._stage_{batch_id}_{uuid.uuid4().hex[:8]}"
        merged.write.parquet(stage)
        if os.path.exists(self.path):
            # retire-then-install: the live table is renamed (never
            # deleted) before the stage is installed, so a crash in the
            # window leaves either the live table or a restorable
            # ._old_table_* — _recover() on the next batch puts the last
            # committed state back before the checkpoint retry re-merges.
            old = f"{self.path}._old_table_{uuid.uuid4().hex[:8]}"
            shutil.move(self.path, old)
            shutil.move(stage, self.path)
            shutil.rmtree(old)
        else:
            shutil.move(stage, self.path)

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
        live = self._read_current(spark)
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
