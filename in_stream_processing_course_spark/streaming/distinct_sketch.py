"""Streaming theta-sample maintenance — the ninth streaming-curation
module on the train-once / maintain-continuously artifact contract
(cm_sketch = frequency, percentiles = distribution quantiles, this =
DISTINCT-COUNT and the uniform key sample behind it).

The theta sample (operators/sketches.theta_sample) is a deterministic
hash-threshold sample of the DISTINCT keys: a key is in the sample iff
its 60-bit md5 prefix falls below theta, independent of how many times
or in which micro-batch it arrives. That makes maintenance trivial and
EXACTLY stream==batch: each micro-batch contributes its own sampled
keys, and the keyed MERGE collapses cross-batch duplicates — no
counters, no watermark, no state store at all (the foreachBatch body
is stateless batch code; exactly-once comes from the sink's keyed
idempotence under checkpoint replay, the KeyedUpsertSink convention).

Read side: distinct-count estimates per group (|sample| * 2^s) plus
the 'ALL' row by set-UNION of the per-group samples — the
merge-without-rescan property; and the table itself is an auditable
uniform sample of the distinct keys (WHO the estimate stands on).

Scale: per trigger one p-fraction-sized distinct + MERGE; the
persisted table is |distinct| * 2^-s rows — deployments raise
``lg_inv_p`` (s ~ log2(distinct / target_sample)) to keep it
artifact-sized, the documented knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    THETA_LG_INV_P,
    theta_estimate_col,
    theta_sample,
)
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch


def theta_maintain(
    events: DataFrame,
    col: str,
    table_path: str,
    checkpoint_dir: str,
    lg_inv_p: int = THETA_LG_INV_P,
    group_cols: tuple[str, ...] = ("event_type",),
    available_now: bool = True,
):
    """Wire the arriving stream into the persisted sampled-key table:
    per micro-batch, the batch's own theta sample MERGEs by
    (group..., h) — idempotent under replay, so restarts converge on
    the batch sample exactly (pinned by the restart test)."""
    sink = KeyedUpsertSink(table_path, [*group_cols, "h"])

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe (ADVICE r10): a take(1) guard computed the
        # filtered-distinct sample TWICE per micro-batch, and skipping
        # empty batches left the table uncreated on an all-empty
        # stream; an empty MERGE is harmless and creates the table
        sink(theta_sample(batch_df, col, lg_inv_p, group_cols), batch_id)

    return start_foreach_batch(events, feed, checkpoint_dir, "append", available_now)


def theta_estimates_from_table(
    spark: SparkSession,
    table_path: str,
    lg_inv_p: int = THETA_LG_INV_P,
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """(group..., n_sampled, distinct_est) per group plus the 'ALL'
    union row — the deploy-time read side, same arithmetic as the
    registered ``events_theta_distinct_users`` (what the stream==batch
    test compares against). Single-group-column form only for the ALL
    row labeling."""
    if len(group_cols) != 1:
        raise ValueError(
            "theta_estimates_from_table labels the union row in a "
            f"single group column; got {group_cols}"
        )
    (g,) = group_cols
    try:
        t = spark.read.parquet(table_path).select(g, "h")
    except Exception as exc:
        raise ValueError(
            f"theta_estimates_from_table: no sampled-key table at "
            f"{table_path!r} — run theta_maintain (or its batch seed) "
            f"against this path first"
        ) from exc
    typed = t.groupBy(g).agg(F.count(F.lit(1)).alias("n_sampled"))
    total = (
        t.select("h")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .select(F.lit("ALL").alias(g), "n_sampled")
    )
    return (
        typed.unionByName(total)
        .select(
            g,
            "n_sampled",
            theta_estimate_col(F.col("n_sampled"), lg_inv_p).alias(
                "distinct_est"
            ),
        )
        .orderBy(g)
    )
