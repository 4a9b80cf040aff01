"""Streaming near-dup gate — the ingest-time composition of
:func:`..operators.dedup.minhash_index_matches`: every micro-batch of
incoming documents is screened against the PERSISTED corpus band
index; novel docs are admitted and their bands join the index, dup
docs are quarantined with their matched id.

This is the continuous form of the reference's "process the stream,
keep keyed long-term state" pattern (SURVEY §2.5) applied to corpus
curation: state = the band index, but held as an append-only parquet
table instead of the state store, because the index outlives any one
query and is shared with batch jobs (the `dedup_incremental_new_docs`
query reads the same band layout: ``minhash_bands``' default 16
hashes, 4 bands, 5-word shingles).

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
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.dedup import minhash_bands, minhash_index_matches
from ..sinks.upsert import read_table


class IncrementalDedupIngest:
    """foreachBatch target: screen, admit, quarantine, grow the index.

    Every arrival gets exactly one verdict. A doc is quarantined with
    ``matched_doc_id`` = the least of its index match (min colliding id
    in a strictly earlier batch) and the smallest colliding smaller id
    in its own batch; otherwise it is admitted and its bands join the
    index. Seed a corpus with ``gate(corpus_df, -1)``: stream batch ids
    start at 0, so batch -1 is corpus to every stream batch, and the
    corpus passes the same novelty rule as every later batch.
    """

    def __init__(
        self,
        index_path: str,
        admitted_path: str,
        quarantine_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.index_path = index_path
        self.admitted_path = admitted_path
        self.quarantine_path = quarantine_path
        self.id_col = id_col
        self.text_col = text_col

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

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        doc = self.id_col
        # banded once; read by the screen, the in-batch rule and the
        # index growth
        bands = minhash_bands(batch_df, doc, self.text_col).localCheckpoint()
        # an explicit schema: an empty batch leaves an index partition
        # with no data files, which schema inference cannot read
        index_schema = StructType(
            bands.schema.fields + [StructField("batch_id", IntegerType())]
        )
        index = read_table(spark, self.index_path, index_schema)
        if index is None:
            index = bands.limit(0)
        else:
            # replay safety: a retried micro-batch must not screen
            # against the bands its own failed attempt already wrote —
            # only strictly earlier batches are corpus. Partition
            # pruning makes this a metadata filter, not a scan.
            index = index.where(F.col("batch_id") < batch_id).drop("batch_id")
        screened = minhash_index_matches(index, bands, doc)
        # in-batch rule, linear in the bucket size: the smallest
        # colliding id below d is the min over d's buckets of each
        # bucket's min id, where that min is below d
        bucket_min = F.min(doc).over(Window.partitionBy("band_id", "band_key"))
        in_batch = (
            bands.withColumn("_m", bucket_min)
            .groupBy(doc)
            .agg(F.min(F.when(F.col("_m") < F.col(doc), F.col("_m"))).alias("_b"))
        )
        matched = F.least("matched_doc_id", "_b")
        verdicts = (
            screened.join(in_batch, doc)
            .select(doc, matched.alias("matched_doc_id"), matched.isNull().alias("is_novel"))
            .localCheckpoint()  # one screening pass, read 3x
        )
        novel_ids = F.broadcast(verdicts.where("is_novel").select(doc))
        self._write_partition(
            batch_df.join(novel_ids, doc), self.admitted_path, batch_id
        )
        self._write_partition(
            verdicts.where(~F.col("is_novel")), self.quarantine_path, batch_id
        )
        self._write_partition(
            bands.join(novel_ids, doc), self.index_path, batch_id
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
