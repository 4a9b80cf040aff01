"""Streaming quantile-sketch maintenance (VERDICT r9 next-round #5):
keep the DD-style log-bucket histogram of
``operators/sketches.dd_histogram`` continuously up to date over a
stream — the eighth streaming-curation module on the train-once /
maintain-continuously artifact contract (cm_sketch = frequency, this
= distribution QUANTILES), and the streaming half of the exact-batch
Pareto/ntile family: ``customer_pareto_curve_approx``'s 99-point grid
reads straight off the maintained table.

Spark shape (the cm_sketch recipe verbatim):

- the histogram build IS a streaming-legal aggregation — a GLOBAL
  (no-watermark) groupBy over the bucket index holds the running
  counts in the state store, bounded BY CONSTRUCTION at
  ~log_range/log(gamma) rows (values 1e-6..1e12 at alpha=1% -> ~2,100
  buckets) regardless of stream length, so no watermark/eviction is
  needed;
- each micro-batch emits only touched buckets with their CURRENT
  totals (update mode); a ``KeyedUpsertSink`` MERGE keyed on bucket
  persists them, so checkpoint replay rewrites the same totals —
  idempotent counters, the exactly-once restart convention the restart
  test pins;
- the read side collects the bucket table (model-sized at any corpus
  scale — the centroid-table contract) and answers quantiles / the
  Pareto grid with driver arithmetic within relative error alpha.

Counts add under merge, so at 100 TB the per-trigger shuffle is
map-side-combined down to <= n_buckets summary rows, and histograms
maintained per shard/partition union by bucket-sum — the mergeable-
summaries property quantile windows lack when kept exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    DD_GAMMA,
    dd_bucket_value,
    dd_histogram,
    dd_quantiles,
)
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch


def dd_counter_stream(
    events: DataFrame, col: str, gamma: float = DD_GAMMA
) -> DataFrame:
    """(bucket, c) running-total aggregation — the operator's build,
    unchanged, on a streaming frame (the stream==batch test runs the
    same expression on the batch read; NULLs excluded on both paths by
    the shared build)."""
    return dd_histogram(events, col, gamma)


def dd_maintain(
    events: DataFrame,
    col: str,
    table_path: str,
    checkpoint_dir: str,
    gamma: float = DD_GAMMA,
    available_now: bool = True,
):
    """Wire the histogram stream into the persisted keyed table.
    Update output mode: a micro-batch carries only touched buckets,
    each with its current TOTAL, and the MERGE overwrites by bucket —
    idempotent under replay, so restarts converge to the batch
    histogram (pinned by the restart test)."""
    counts = dd_counter_stream(events, col, gamma)
    sink = KeyedUpsertSink(table_path, ["bucket"])
    return start_foreach_batch(counts, sink, checkpoint_dir, "update", available_now)


def _load_hist(spark: SparkSession, table_path: str) -> list[tuple[int, int]]:
    return [
        (int(r["bucket"]), int(r["c"]))
        for r in spark.read.parquet(table_path).select("bucket", "c").collect()
    ]


def quantiles_from_table(
    spark: SparkSession,
    table_path: str,
    qs: list[float],
    gamma: float = DD_GAMMA,
) -> list[float]:
    """Quantile estimates against the maintained table — the
    deploy-time read side (bucket walk over the collected model-sized
    histogram; each positive-valued quantile is within relative error
    alpha of exact)."""
    return dd_quantiles(_load_hist(spark, table_path), qs, gamma)


def pareto_grid_from_table(
    spark: SparkSession, table_path: str, gamma: float = DD_GAMMA
) -> DataFrame:
    """``customer_pareto_curve_approx``'s 99-point grid served from
    the continuously-maintained sketch instead of a batch
    ``approx_percentile`` pass: per top-fraction q, the spend
    threshold (the (1-q)-quantile, relative error alpha), the
    estimated revenue share above it, and the customer count above it.

    Share estimation uses the histogram itself: a bucket's value mass
    is count x representative (each member within alpha of the
    representative), so cumulative-from-the-top mass / total mass is
    within ~2·alpha of the exact share — the whole curve from ONE
    bounded artifact, no rank, no window, no second pass over the
    corpus (the grid consumer's 100 TB deployment form; the exact
    two-phase ``customer_pareto_curve`` remains the per-customer
    export)."""
    hist = sorted(_load_hist(spark, table_path), reverse=True)
    n = sum(c for _, c in hist)
    if n == 0:
        raise ValueError(f"pareto_grid_from_table: empty sketch at {table_path}")
    total_mass = sum(c * dd_bucket_value(b, gamma) for b, c in hist)
    qs = [i / 100 for i in range(1, 100)]
    thresholds = dd_quantiles(
        [(b, c) for b, c in hist], [1.0 - q for q in qs], gamma
    )
    rows = []
    for q, thr in zip(qs, thresholds):
        above = [(b, c) for b, c in hist if dd_bucket_value(b, gamma) >= thr]
        mass = sum(c * dd_bucket_value(b, gamma) for b, c in above)
        rows.append(
            (
                round(q, 2),
                float(thr),
                (mass / total_mass) if total_mass else 0.0,
                int(sum(c for _, c in above)),
            )
        )
    return spark.createDataFrame(
        rows,
        "top_frac double, spend_threshold double, cum_share double,"
        " n_customers long",
    ).orderBy("top_frac")
