"""Streaming near-dup GATE: screen arriving documents against a
persisted MinHash band index, and GROW the index with whatever proves
novel — the continuous form of ``incremental_dedup_new_docs`` and the
fourth piece of the streaming-curation quartet (lm_gate = quality,
drift = distribution, cm_sketch = frequency, this = novelty).

Per micro-batch (all plain batch code inside foreachBatch, so the
corpus-shaped operators are reused verbatim):

1. band the batch (``operators/dedup.minhash_bands`` — one md5 per
   shingle, the scale-shaped explode/aggregate);
2. match against the persisted index — the index side is only ever
   SCANNED (never re-hashed, never shuffled); the batch's bands
   broadcast, so per-trigger cost is O(index scan + |batch| bands);
3. match WITHIN the batch (smaller-id band collision) so two
   duplicates arriving together resolve deterministically to the
   min-id one instead of both passing;
4. upsert one verdict row per document (doc_id, matched_doc_id,
   is_novel) via ``KeyedUpsertSink`` — idempotent under replay;
5. APPEND the novel documents' bands to the index, so later arrivals
   that duplicate them are caught.

Exactly-once: verdicts are keyed upserts (replay rewrites the same
rows). The index append is NOT transactional with the sink, but replay
is still convergent: self-matches are excluded, so a doc whose bands
were already appended by a crashed attempt re-screens to the same
verdict (its in-batch mate now matches it through the index instead —
same min-id answer), and duplicate band rows cannot change any min()
match. Novelty within a batch is pairwise non-colliding by
construction, so no verdict can flip.

At 100 TB the index is the corpus's band table (rows = docs × bands);
growth is append-only parquet partitionable by band_id, and the
scan-side cost is the same as the batch incremental query's — this
module adds no new shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_bands
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch

def _band_schema(id_col: str, id_type: str = "long") -> str:
    """Index read schema. ``id_type`` must mirror the incoming batch's
    id column type — an index keyed by e.g. string doc ids read back as
    long would surface as all-NULL ids and every duplicate would
    silently screen as novel (the same failure mode the custom-id_col
    fix addressed for the column NAME)."""
    return f"{id_col} {id_type}, band_id int, band_key string"


def build_band_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> None:
    """Persist the corpus band index the gate screens against (the
    train-once artifact; pass an empty frame to start from scratch)."""
    minhash_bands(
        docs, id_col, text_col, num_hashes, bands, shingle_k
    ).write.mode("overwrite").parquet(path)


class MinHashDedupGate:
    """foreachBatch target: verdicts to ``verdict_path`` (keyed by
    doc_id), novel bands appended to ``index_path``."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        verdict_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 16,
        bands: int = 4,
        shingle_k: int = 5,
    ) -> None:
        self.spark = spark
        self.index_path = index_path
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self._sink = KeyedUpsertSink(verdict_path, [id_col])

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        bands_df = minhash_bands(
            batch_df,
            self.id_col,
            self.text_col,
            self.num_hashes,
            self.bands,
            self.shingle_k,
        ).localCheckpoint()  # banded once, consumed three times
        new = bands_df.select(
            F.col(self.id_col).alias("_new_id"), "band_id", "band_key"
        )
        id_type = bands_df.schema[self.id_col].dataType.simpleString()
        idx = self.spark.read.schema(
            _band_schema(self.id_col, id_type)
        ).parquet(self.index_path)
        # index match: min colliding corpus id, SELF-matches excluded
        # (a crashed attempt may have appended this doc's bands already)
        hits = (
            idx.select(
                F.col(self.id_col).alias("_corpus_id"),
                "band_id",
                "band_key",
            )
            .join(F.broadcast(new), ["band_id", "band_key"])
            .where(F.col("_corpus_id") != F.col("_new_id"))
            .groupBy("_new_id")
            .agg(F.min("_corpus_id").alias("_idx_match"))
        )
        # in-batch match: min SMALLER colliding id inside this batch
        inb = (
            new.select(
                F.col("_new_id").alias("_a"), "band_id", "band_key"
            )
            .join(F.broadcast(new), ["band_id", "band_key"])
            .where(F.col("_a") < F.col("_new_id"))
            .groupBy("_new_id")
            .agg(F.min("_a").alias("_batch_match"))
        )
        matched = F.least("_idx_match", "_batch_match")
        verdict = (
            new.select("_new_id")
            .distinct()
            .join(hits, "_new_id", "left")
            .join(inb, "_new_id", "left")
            .select(
                F.col("_new_id").alias(self.id_col),
                matched.alias("matched_doc_id"),
                matched.isNull().alias("is_novel"),
            )
            .localCheckpoint()  # pin verdicts before the index grows
        )
        self._sink(verdict, batch_id)
        novel = verdict.where("is_novel").select(self.id_col)
        bands_df.join(F.broadcast(novel), self.id_col).write.mode(
            "append"
        ).parquet(self.index_path)


def screen_document_stream(
    docs: DataFrame,
    gate: MinHashDedupGate,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a document stream through the gate."""
    return start_foreach_batch(docs, gate, checkpoint_dir, "append", available_now)
