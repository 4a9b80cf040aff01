"""Streaming k-means sufficient statistics: keep per-(cluster, dim)
running sums and counts continuously up to date over an embedding
stream, so centroids can be re-derived at read time — mini-batch
centroid maintenance as a MERGEABLE MONOID instead of an iterative
refit (the deploy-time half of ``operators/clustering``: ``lloyd_fit``
trains offline, ``assign_to_centroids`` routes arrivals, and this
module accumulates what the NEXT refit's update step needs).

Spark shape — deliberately identical to ``streaming/cm_sketch.py``:
assignment is the shuffle-free centroid-literal projection (streaming-
legal: pure Column algebra), the posexploded (cluster, dim) sums are a
GLOBAL no-watermark aggregation whose state is bounded BY CONSTRUCTION
at k·dim rows, update-mode micro-batches carry only touched cells with
their current totals, and a ``KeyedUpsertSink`` MERGE keyed on
(cluster, dim) persists them idempotently — exactly-once statistics
without delta arithmetic in the sink.

Sums are FIXED-POINT integer micro-units (the r8 registered-twin
pattern): integer addition is order-invariant, so the persisted table
is bit-deterministic under any partitioning and any micro-batch
slicing — stream==batch equality is EXACT, not ulp-approximate.

At 100 TB: per trigger one map-side-combined shuffle of ≤ k·dim
summary rows; the table is k·dim rows forever; ``centroids_from_table``
reads kilobytes. The monoid also merges ACROSS streams (sum the cell
tables of two pipelines) — the same property that makes the CM sketch
distributed-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import assign_to_centroids
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch

_SCALE = 1e6  # micro-unit fixed point — matches the registered twins


def cluster_stats_stream(
    vecs: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, dim, vsum_fixed, n) running aggregation — works
    identically on a batch frame (the equivalence tests run exactly
    this on the batch read). ``vsum_fixed`` is the micro-unit integer
    sum of the dim's coordinates; ``n`` the member count."""
    assigned = assign_to_centroids(
        vecs, centroids, vec_col=vec_col, dist_col=None
    )
    return (
        assigned.select(
            "cluster", F.posexplode(vec_col).alias("dim", "v")
        )
        .groupBy("cluster", "dim")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double") * F.lit(_SCALE), 0).cast(
                    "bigint"
                )
            ).alias("vsum_fixed"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def maintain_cluster_stats(
    vecs: DataFrame,
    centroids: list[list[float]],
    table_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Wire the statistics stream into the persisted keyed table
    (update mode, MERGE by (cluster, dim) — replay rewrites the same
    totals)."""
    stats = cluster_stats_stream(vecs, centroids, vec_col=vec_col)
    sink = KeyedUpsertSink(table_path, ["cluster", "dim"])
    return start_foreach_batch(stats, sink, checkpoint_dir, "update", available_now)


def centroids_from_table(
    spark: SparkSession,
    table_path: str,
    prev_centroids: list[list[float]],
) -> list[list[float]]:
    """Derive updated centroids from the maintained statistics — one
    mini-batch k-means update over everything the stream has seen.
    Clusters with no arrivals keep their previous centroid (the
    fixed-k convention of ``update_centroids``); the mean is
    ``(vsum_fixed / 1e6) / n``, deterministic regardless of how many
    micro-batches contributed."""
    out = [list(c) for c in prev_centroids]
    for r in spark.read.parquet(table_path).collect():
        out[r["cluster"]][r["dim"]] = (r["vsum_fixed"] / _SCALE) / float(
            r["n"]
        )
    return out
