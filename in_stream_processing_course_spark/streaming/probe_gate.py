"""Streaming linear-probe gate — the LEARNED-READOUT counterpart of
``dsir_gate`` (n-gram target-likeness) and the seventh
streaming-curation module on the train-once / maintain-continuously
artifact contract (lm_gate = quality, drift = distribution, cm_sketch
= frequency, ingest_dedup = novelty, kmeans_stats = refit statistics,
dsir_gate = target-domain selection, this = linear readout over the
embedding column).

Batch half: ``plans.similarity_queries.embedding_probe_gate`` fits a
least-squares linear probe (one-vs-rest on the target label,
fixed-point distributed GD — ``operators.clustering.linear_probe_fit``)
and selects every vector whose margin clears the fit set's mean
prediction. Deploy half (this module): fit once, persist the weight
vector and the calibrated threshold, score arrivals continuously.

Spark shape per micro-batch (plain batch code inside foreachBatch, so
the margin arithmetic is shared with the batch query):

- the model artifact is a 65-row weights table plus one threshold
  double — kilobytes at any corpus scale, collected once at gate
  construction and inlined as an array literal, so scoring is pure
  per-row Column algebra: scan -> project, NO join, NO shuffle, NO
  state store (the gate is stateless by design — novelty/frequency
  state lives in ingest_dedup/cm_sketch);
- ``selected = margin > threshold`` is a scan-level gate (no global
  top-k, no single-task sort);
- one verdict row per vector upserts through ``KeyedUpsertSink``
  (vec_id-keyed) — idempotent under checkpoint replay, the
  dsir_gate restart convention.

Calibration drift (VERDICT r9 next-round #6): the gate freezes the
threshold at fit time, so a deployment needs to notice when the
frozen readout goes stale. ``save_probe_model`` persists the FIT-TIME
margin histogram (fixed-width buckets — margins are readouts of
bounded weights over unit-normalized features, so the bucket range is
bounded by construction, unlike value domains that need the
log-bucket DD sketch); ``margin_hist_maintain`` keeps the same
histogram continuously over the arriving margin stream (global
no-watermark groupBy — state bounded at the bucket count — MERGEd
through ``KeyedUpsertSink``, the cm_sketch/percentiles contract);
``margin_drift`` compares the two as total-variation distance.
RECALIBRATION TRIGGER: TVD > ``MARGIN_TVD_RECALIBRATE`` (0.25 — a
quarter of the observed probability mass sits in buckets the fit
never calibrated on) ⇒ refit the probe and ship a new model path; the
returned ``stale`` flag encodes exactly that rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.similarity_queries import (
    _LP_DIM,
    _LP_ITERS,
    _LP_LR,
    _LP_TARGET,
    _margin_col,
    _probe_feats_col,
)
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch


def save_probe_model(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    target_label: int = _LP_TARGET,
) -> None:
    """Fit and persist the probe artifact from a (vec_id, embedding,
    label) frame:

    - ``path/weights`` — (dim, weight), 65 rows (dim 64 is the bias);
    - ``path/meta`` — the calibrated threshold (the fit set's mean
      prediction, fixed-point micro-unit sum) plus the fit
      hyperparameters for provenance.

    Raises early when no labeled rows exist (``linear_probe_fit``'s
    empty-fit precondition — a probe cannot calibrate on nothing).
    Unlike the registered query, the fit here uses the WHOLE provided
    frame (callers deploying at 100 TB pass their own md5-ordered
    sample, the ``lloyd_fit`` bound)."""
    from ..operators.clustering import linear_probe_fit

    fit = (
        emb.where(F.col("label").isNotNull())
        .select(
            F.when(F.col("label") == target_label, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("_y"),
            _probe_feats_col().alias("_x"),
        )
        .localCheckpoint()
    )
    w = linear_probe_fit(fit, _LP_DIM, _LP_ITERS, _LP_LR)
    margin_hist(
        fit.select(_margin_col(w, F.col("_x")).alias("margin")), "margin"
    ).write.mode("overwrite").parquet(f"{path}/margin_hist")
    thr = float(
        fit.select(
            (
                (
                    F.sum(
                        F.round(
                            _margin_col(w, F.col("_x")) * F.lit(1e6), 0
                        ).cast("bigint")
                    )
                    / F.lit(1e6)
                )
                / F.count(F.lit(1))
            ).alias("thr")
        ).head()["thr"]
    )
    spark.createDataFrame(
        [(d, float(w[d])) for d in range(_LP_DIM)], "dim int, weight double"
    ).write.mode("overwrite").parquet(f"{path}/weights")
    spark.createDataFrame(
        [(thr, int(target_label), _LP_ITERS, float(_LP_LR), int(_LP_DIM))],
        "threshold double, target_label int, n_iters int, lr double,"
        " dim int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_probe_model(
    spark: SparkSession, path: str
) -> tuple[list[float], float]:
    """(weights, threshold) from a persisted artifact — a dense
    0..dim-1 weights table, hard-checked like the centroid loader.
    The expected LENGTH is pinned too (ADVICE r9): the meta table
    persists ``dim`` at save time (older artifacts without the column
    fall back to ``_LP_DIM``), so a truncated-but-dense weights table
    fails loud here instead of zip_with-padding features against a
    short weight array and upserting silently-NULL verdicts."""
    rows = sorted(
        spark.read.parquet(f"{path}/weights").collect(),
        key=lambda r: r["dim"],
    )
    if [r["dim"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"probe weights at {path} must be a dense 0..dim-1 table; "
            f"got {[r['dim'] for r in rows]}"
        )
    meta = spark.read.parquet(f"{path}/meta")
    head = meta.head()
    expected = int(head["dim"]) if "dim" in meta.columns else _LP_DIM
    if len(rows) != expected:
        raise ValueError(
            f"probe weights at {path} have {len(rows)} rows but the "
            f"model dimension is {expected} — truncated or stale "
            "artifact; refusing to score with it"
        )
    return [float(r["weight"]) for r in rows], float(head["threshold"])


def score_vectors(
    emb: DataFrame, weights: list[float], threshold: float
) -> DataFrame:
    """(vec_id, label, margin, selected) per arriving vector — the
    same margin fold, 6-dp display rounding, and raw-margin threshold
    comparison as the batch ``embedding_probe_gate``, so verdicts
    agree row for row on the training corpus (what the stream==batch
    test pins). Pure projection: works identically on a batch frame
    and inside foreachBatch."""
    margin = _margin_col(weights, _probe_feats_col())
    return emb.select(
        "vec_id", "label", margin.alias("_m")
    ).select(
        "vec_id",
        "label",
        F.round(F.col("_m"), 6).alias("margin"),
        (F.col("_m") > F.lit(float(threshold))).alias("selected"),
    )


# fixed-width margin buckets: probe margins are Xw readouts of
# GD-bounded weights over unit-normalized features — a few units of
# range — so linear buckets at this width give ~100 occupied buckets,
# bounded state for the no-watermark streaming aggregation
MARGIN_BUCKET_WIDTH = 0.05
# recalibration trigger: total-variation distance above this means a
# quarter of the observed margin mass sits where the fit never
# calibrated — refit and ship a new model path
MARGIN_TVD_RECALIBRATE = 0.25


def margin_bucket_col(margin):
    return F.floor(margin.cast("double") / F.lit(MARGIN_BUCKET_WIDTH)).cast(
        "long"
    )


def margin_hist(df: DataFrame, margin_col: str = "margin") -> DataFrame:
    """(bucket, c) fixed-width histogram over a margin column — the
    same expression on batch and streaming frames (what the
    stream==batch test pins); NULL margins excluded."""
    return (
        df.where(F.col(margin_col).isNotNull())
        .select(margin_bucket_col(F.col(margin_col)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def margin_hist_maintain(
    emb: DataFrame,
    weights: list[float],
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain the observed-margin histogram continuously: score the
    arriving vectors with the frozen weights (scan-level projection),
    bucket, global running count (state bounded at the bucket count —
    no watermark needed, the cm_sketch argument), MERGE touched
    buckets' current totals through ``KeyedUpsertSink`` — idempotent
    under checkpoint replay (pinned by the restart test)."""
    margins = emb.select(
        _margin_col(weights, _probe_feats_col()).alias("margin")
    )
    counts = margin_hist(margins, "margin")
    sink = KeyedUpsertSink(table_path, ["bucket"])
    return start_foreach_batch(counts, sink, checkpoint_dir, "update", available_now)


def margin_drift(
    spark: SparkSession, model_path: str, observed_table: str
) -> dict:
    """Compare the maintained observed-margin histogram against the
    fit-time calibration profile: total-variation distance between the
    two normalized bucket distributions (both model-sized — the
    collect is the centroid-table contract). Returns
    ``{n_fit, n_observed, tvd, stale}`` with ``stale = tvd >
    MARGIN_TVD_RECALIBRATE`` — the documented recalibration trigger.
    Fails loud on an empty side (a drift score over nothing is a bug
    upstream, the dsir empty-target convention)."""

    def load(path: str) -> dict[int, int]:
        return {
            int(r["bucket"]): int(r["c"])
            for r in spark.read.parquet(path).select("bucket", "c").collect()
        }

    fit = load(f"{model_path}/margin_hist")
    obs = load(observed_table)
    n_fit, n_obs = sum(fit.values()), sum(obs.values())
    if n_fit == 0 or n_obs == 0:
        raise ValueError(
            f"margin_drift: empty histogram (fit={n_fit}, observed={n_obs})"
        )
    tvd = 0.5 * sum(
        abs(fit.get(b, 0) / n_fit - obs.get(b, 0) / n_obs)
        for b in set(fit) | set(obs)
    )
    return {
        "n_fit": n_fit,
        "n_observed": n_obs,
        "tvd": round(tvd, 6),
        "stale": tvd > MARGIN_TVD_RECALIBRATE,
    }


class ProbeGate:
    """foreachBatch target: score each micro-batch against the
    persisted probe and upsert one verdict row per vec_id. The
    artifact is read ONCE at construction (it is immutable model
    state; refitting ships a new path — the lm_gate convention)."""

    def __init__(
        self, spark: SparkSession, model_path: str, verdict_path: str
    ) -> None:
        self.spark = spark
        self.weights, self.threshold = load_probe_model(spark, model_path)
        self._sink = KeyedUpsertSink(verdict_path, ["vec_id"])

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        self._sink(
            score_vectors(batch_df, self.weights, self.threshold),
            batch_id,
        )


def gate_vector_stream(
    emb: DataFrame,
    gate: ProbeGate,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire an embedding stream through the gate."""
    return start_foreach_batch(emb, gate, checkpoint_dir, "append", available_now)
