"""Streaming incremental dedup — the ingest-time composition of
:func:`..operators.dedup.minhash_index_matches`: every micro-batch of
incoming documents is screened against the PERSISTED corpus band
index; novel docs are admitted and their bands join the index, dup
docs are quarantined with their matched corpus id.

This is the continuous form of the reference's "process the stream,
keep keyed long-term state" pattern (SURVEY §2.5) applied to corpus
curation: state = the band index, but held as an append-only parquet
table instead of the state store, because the index outlives any one
query and is shared with batch jobs (the `dedup_incremental_new_docs`
query reads the same band layout).

Exactly-once: all three writes (admitted docs, quarantined dups, new
index bands) are partitioned by ``batch_id`` and written with dynamic
partition overwrite — a replayed micro-batch overwrites its own
partition instead of double-appending, the same idempotence contract
as :class:`..sinks.upsert.KeyedUpsertSink`. At 100 TB the index side
is only ever scanned (the batch's bands broadcast), so per-batch cost
is O(index scan + batch), and the index accretes one partition per
batch — compact with ``sinks.compaction.compact_parquet_dir`` on a
maintenance schedule like any streaming sink output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import minhash_bands, minhash_index_matches
from ..sinks.upsert import read_table


class IncrementalDedupIngest:
    """foreachBatch target: screen, admit, quarantine, grow the index."""

    def __init__(
        self,
        index_path: str,
        admitted_path: str,
        quarantine_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 16,
        bands: int = 4,
        shingle_k: int = 5,
        max_bucket_size: int | None = None,
    ) -> None:
        self.index_path = index_path
        self.admitted_path = admitted_path
        self.quarantine_path = quarantine_path
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        # quadratic guard for the in-batch self-join (same rationale as
        # operators.dedup.minhash_candidates); the index-side join is
        # already bounded by the min() aggregation
        self.max_bucket_size = max_bucket_size

    @staticmethod
    def _write_partition(df: DataFrame, path: str, batch_id: int) -> None:
        """Idempotent per-batch write: replace exactly this batch's
        partition (dynamic overwrite), never the table."""
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

    def _dedup_within_batch(
        self, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Exact dups collapse to the min-id representative; then any
        doc whose bands collide with a LOWER-id doc in the same batch
        defers to it (greedy min-id near-dup pick — the same
        representative rule the batch curation pipeline uses). Returns
        (surviving docs, their band rows) — bands are computed ONCE per
        batch and reused for the index screen."""
        exact = (
            batch.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy(F.md5(self.text_col)).orderBy(self.id_col)
                ),
            )
            .where(F.col("_rk") == 1)
            .drop("_rk")
        ).localCheckpoint()
        bands = minhash_bands(
            exact,
            self.id_col,
            self.text_col,
            self.num_hashes,
            self.bands,
            self.shingle_k,
        ).localCheckpoint()
        joinable = bands
        if self.max_bucket_size is not None:
            sizes = joinable.groupBy("band_id", "band_key").agg(
                F.count(F.lit(1)).alias("_bucket_n")
            )
            joinable = (
                joinable.join(sizes, ["band_id", "band_key"])
                .where(F.col("_bucket_n") <= self.max_bucket_size)
                .drop("_bucket_n")
            )
        losers = (
            joinable.alias("l")
            .join(
                joinable.alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_key") == F.col("r.band_key"))
                & (F.col(f"l.{self.id_col}") < F.col(f"r.{self.id_col}")),
            )
            .select(F.col(f"r.{self.id_col}").alias(self.id_col))
            .distinct()
        )
        return (
            exact.join(losers, self.id_col, "left_anti"),
            bands.join(losers, self.id_col, "left_anti"),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch, new_bands = self._dedup_within_batch(batch_df)
        batch = batch.localCheckpoint()
        index = read_table(spark, self.index_path)
        if index is not None:
            # replay safety: a retried micro-batch must not screen
            # against the bands its own failed attempt already wrote —
            # only strictly earlier batches are corpus. Partition
            # pruning makes this a metadata filter, not a scan.
            index = index.where(F.col("batch_id") < batch_id)
        if index is None:
            verdicts = new_bands.select(self.id_col).distinct().select(
                self.id_col,
                F.lit(None).cast("long").alias("matched_doc_id"),
                F.lit(True).alias("is_novel"),
            )
        else:
            verdicts = minhash_index_matches(
                index.drop("batch_id"), new_bands, self.id_col
            )
        verdicts = verdicts.localCheckpoint()  # one screening pass, reused 3x
        novel_ids = verdicts.where("is_novel").select(self.id_col)
        self._write_partition(
            batch.join(F.broadcast(novel_ids), self.id_col),
            self.admitted_path,
            batch_id,
        )
        self._write_partition(
            verdicts.where(~F.col("is_novel")),
            self.quarantine_path,
            batch_id,
        )
        self._write_partition(
            new_bands.join(F.broadcast(novel_ids), self.id_col),
            self.index_path,
            batch_id,
        )

    # -- read-side helpers ----------------------------------------------------

    def admitted(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.admitted_path)

    def quarantined(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.quarantine_path)

    def index(self, spark: SparkSession) -> DataFrame:
        df = read_table(spark, self.index_path)
        if df is None:
            raise FileNotFoundError(self.index_path)
        return df
