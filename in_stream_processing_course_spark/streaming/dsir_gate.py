"""Streaming DSIR selection gate — the SELECTION counterpart of
``lm_gate`` (quality) and the sixth streaming-curation module on the
train-once / maintain-continuously artifact contract (lm_gate =
quality, drift = distribution, cm_sketch = frequency, ingest_dedup =
novelty, kmeans_stats = refit statistics, this = target-domain
selection). VERDICT r8 next-round #5.

Batch half: ``plans.lm_queries.dsir_importance_weights`` trains a
TARGET-domain bigram model and a RAW-corpus bigram model in one job and
weights every document by how much more target-like than corpus-average
it reads. Deploy half (this module): train once, persist both models,
weight arrivals continuously, keep ``weight > 0``.

Spark shape per micro-batch (plain batch code inside foreachBatch, so
the scoring arithmetic is shared with the batch query):

- the TARGET model artifacts broadcast — the seed domain is small by
  definition, that is the DSIR premise — and scoring is the lm_gate
  LEFT-join + add-half smoothing with coalesced zero counts (arrivals
  carry bigrams and context words the seed never saw);
- the RAW model is deliberately NOT broadcast (billions of distinct
  bigrams at 100 TB): the exploded batch bigrams shuffle-join it on
  ``bigram`` — the exact join discipline of the batch query — ALSO as
  a LEFT join, so out-of-corpus content degrades to the same smoothing
  floor instead of silently dropping rows (on in-corpus content LEFT
  and the batch query's INNER join coincide, which is what the
  stream==batch test pins);
- ``selected = weight > 0`` is a scan-level gate (no global top-k, no
  single-task sort);
- one verdict row per document upserts through ``KeyedUpsertSink``
  (doc_id-keyed) — idempotent under checkpoint replay, the KeyedUpsertSink
  restart convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lm_queries import (
    _DSIR_TARGET_LANG,
    _model_with_ctx,
    bigrams_of,
)
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch


def save_dsir_models(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    target_lang: str = _DSIR_TARGET_LANG,
) -> None:
    """Train and persist both DSIR artifacts from a (doc_id, text,
    lang) corpus frame:

    - ``path/target/{model,ctx,meta}`` — the seed-domain bigram model
      (bigram counts, context counts, vocabulary size): broadcast-sized
      by the DSIR premise;
    - ``path/raw/{model,ctx,meta}`` — the raw-corpus model: vocabulary²
      -bounded, shuffle-join territory at scale.

    Raises early when the target slice is empty (same precondition as
    the batch query: v = 0 would make every smoothing denominator 0).
    """
    from ..functions import text as tx

    target = docs.where(F.col("lang") == target_lang)
    if not target.take(1):
        raise ValueError(
            f"DSIR target domain slice is empty (lang={target_lang!r}); "
            "an n-gram model cannot be trained on an empty seed set"
        )
    for name, frame in (("target", target), ("raw", docs)):
        model = _model_with_ctx(bigrams_of(frame.select("doc_id", "text")))
        model.select("bigram", "c_bigram").write.mode("overwrite").parquet(
            f"{path}/{name}/model"
        )
        model.select("w1", "c_ctx").distinct().write.mode(
            "overwrite"
        ).parquet(f"{path}/{name}/ctx")
        frame.select(
            F.explode(tx.tokens_col(F.lower(F.col("text")))).alias("tok")
        ).agg(F.countDistinct("tok").alias("v")).write.mode(
            "overwrite"
        ).parquet(f"{path}/{name}/meta")


def weigh_documents(
    docs: DataFrame, spark: SparkSession, model_path: str
) -> DataFrame:
    """(doc_id, n_bigrams, mean_p_target, mean_p_raw, weight, selected)
    per document, scored against the persisted models. Works
    identically on a batch frame and inside foreachBatch — the same
    sorted-fold mean, 6-dp rounding, and weight arithmetic as the
    batch ``dsir_importance_weights``, so verdicts agree row for row
    on the training corpus. Documents with fewer than two tokens have
    no bigrams and emit nothing (matching the batch query)."""
    bi = bigrams_of(docs.select("doc_id", "text"))
    mean_fold = F.round(
        F.aggregate(
            F.array_sort(F.collect_list("p")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.count(F.lit(1)),
        6,
    )

    def scored(side: str, broadcast: bool) -> DataFrame:
        model = spark.read.parquet(f"{model_path}/{side}/model")
        ctx = spark.read.parquet(f"{model_path}/{side}/ctx")
        v = int(
            spark.read.parquet(f"{model_path}/{side}/meta").head()["v"]
        )
        if broadcast:
            model, ctx = F.broadcast(model), F.broadcast(ctx)
        return (
            bi.join(model, "bigram", "left")
            .join(ctx, "w1", "left")
            .select(
                "doc_id",
                (
                    (2 * F.coalesce(F.col("c_bigram"), F.lit(0)) + 1)
                    / (
                        2 * F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(v)
                    ).cast("double")
                ).alias("p"),
            )
        )

    st = scored("target", broadcast=True).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        mean_fold.alias("mean_p_target"),
    )
    # the raw model shuffles on bigram — correctly NOT broadcast
    sr = scored("raw", broadcast=False).groupBy("doc_id").agg(
        mean_fold.alias("mean_p_raw")
    )
    weight = F.round(F.col("mean_p_target") - F.col("mean_p_raw"), 6)
    return st.join(sr, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "mean_p_target",
        "mean_p_raw",
        weight.alias("weight"),
        (weight > 0).alias("selected"),
    )


class DsirGate:
    """foreachBatch target: weigh each micro-batch against the
    persisted models and upsert one verdict row per doc_id."""

    def __init__(
        self, spark: SparkSession, model_path: str, verdict_path: str
    ) -> None:
        self.spark = spark
        self.model_path = model_path
        self._sink = KeyedUpsertSink(verdict_path, ["doc_id"])

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        self._sink(
            weigh_documents(batch_df, self.spark, self.model_path),
            batch_id,
        )


def gate_document_stream(
    docs: DataFrame,
    gate: DsirGate,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a document stream through the gate."""
    return start_foreach_batch(docs, gate, checkpoint_dir, "append", available_now)
