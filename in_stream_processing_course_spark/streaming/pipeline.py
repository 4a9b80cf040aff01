"""End-to-end streaming bot-detection pipelines — the reference's two
production entry points (SURVEY §3), Structured-Streaming-only.

Entry point 1 analog (ImplStructured.scala:40-73):
  file/kafka action stream -> decode -> watermark -> sliding-window agg
  -> classify -> filter bots -> keyed upsert sink (update mode,
  processing-time trigger, checkpointed).

Entry point 2 analog (ImplDStreams.scala:21-42): same front end ->
``keyed_history_verdicts`` (applyInPandasWithState) -> sink; gives the
long-horizon per-key semantics with idle-key timeout.

Both share one transform library with the batch plans — the
stream/batch split is only read vs readStream (entry point 3
property, ImplStructured.scala:145-146).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.classifier import with_verdict
from ..operators.aggregations import ip_window_stats
from ..operators.projections import action_counters, filter_bots
from ..sinks.compaction import rewrite_parquet_dir
from ..sinks.upsert import KeyedUpsertSink
from ..streaming.runner import start_foreach_batch, start_triggered
from ..streaming.state import keyed_history_verdicts

WATERMARK = "2 minutes"  # ImplStructured.scala:11
WINDOW = "10 minutes"  # ImplStructured.scala:12
SLIDE = "40 seconds"  # ImplStructured.scala:13
TRIGGER = "40 seconds"  # ImplStructured.scala:14


def actions_to_log_records(actions: DataFrame) -> DataFrame:
    """P2/P4/P5 on the wire schema (epoch-SECONDS time; fixes the
    reference's ms/sec unit bug, SURVEY §1.4.1)."""
    decoded = actions.where(
        F.col("action").isNotNull()
        & F.col("ip").isNotNull()
        & (F.length("ip") > 0)
    )
    return action_counters(decoded).select(
        "ip",
        F.timestamp_seconds("time").alias("time"),
        "clicks",
        "views",
        F.col("categoryId").alias("category"),
    )


def windowed_bot_stream(actions: DataFrame) -> DataFrame:
    """Structured path: watermarked sliding-window stats + verdicts
    (ImplStructured.scala:118-146 as native ops). Works on batch and
    streaming inputs identically.
    """
    lr = actions_to_log_records(actions)
    watermark = WATERMARK if lr.isStreaming else None
    stats = ip_window_stats(lr, WINDOW, SLIDE, watermark=watermark)
    stats = stats.withColumn(
        "categories_count", F.size("categories").cast("long")
    ).drop("categories")
    return filter_bots(with_verdict(stats)).select(
        F.col("ip").alias("bot_ip"),
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "reason",
    )


def stateful_bot_stream(actions: DataFrame) -> DataFrame:
    """DStream-semantics path: trailing-history verdicts with idle
    timeout (T3), through the ``applyInPandasWithState`` operator."""
    return keyed_history_verdicts(actions_to_log_records(actions))


def start_bot_detection(
    actions: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    mode: str = "structured",
    ttl_sec: int | None = 600,
    if_not_exists: bool = True,
    trigger_seconds: str | None = None,
    available_now: bool = False,
):
    """Wire a streaming action source to the keyed verdict sink
    (K1/K2 semantics: key = bot_ip, ifNotExists, 10-min TTL;
    cassandra/init.cql:5). Returns the StreamingQuery.
    """
    if mode == "structured":
        verdicts = windowed_bot_stream(actions)
    else:
        verdicts = filter_bots(stateful_bot_stream(actions)).select(
            F.col("ip").alias("bot_ip"), "reason"
        )
    sink = KeyedUpsertSink(
        sink_path, ["bot_ip"], ttl_sec=ttl_sec, if_not_exists=if_not_exists
    )
    return start_foreach_batch(
        verdicts, sink, checkpoint_dir, "update", available_now, trigger_seconds
    )


def start_raw_event_cache(
    actions: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_seconds: str | None = None,
    available_now: bool = False,
):
    """K3/K4 — the raw-event side cache (Ignite (ip,time)->record cache
    with 1-min expiry, ImplStructured.scala:43-60, ignite/config.xml:
    49-73) as Spark's native parquet streaming sink: append-only
    exactly-once micro-batch files, keyed by (ip, time) columns.
    Expiry is :func:`expire_raw_events` (retention compaction) — the
    TTL analog for an immutable-file store. Returns the StreamingQuery.
    """
    lr = actions_to_log_records(actions).withColumn(
        "ingested_at", F.current_timestamp()
    )
    writer = (
        lr.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return start_triggered(writer, available_now, trigger_seconds)


def expire_raw_events(spark, path: str, retention_sec: int = 60) -> int:
    """Retention compaction for the raw-event cache: rewrite the table
    keeping only events ingested within ``retention_sec`` (the Ignite
    CreatedExpiryPolicy analog). Returns the retained row count.

    On a cluster this is a Delta/Iceberg ``DELETE WHERE`` + vacuum; on
    plain parquet files can only be compacted by rewrite, which is
    incompatible with a concurrently running FileStreamSink query on the
    same directory. The rewrite is ``sinks.compaction.rewrite_parquet_dir``:
    it refuses while the cache query is writing to ``path``, recovers a
    crashed earlier run, and leaves a plain parquet directory without
    the sink's ``_spark_metadata`` log — resume streaming into it with a
    FRESH checkpoint + sink (or a new subdirectory), not the old sink
    checkpoint.
    """
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {retention_sec} SECONDS")
    rewrite_parquet_dir(
        spark, path, lambda df: df.where(F.col("ingested_at") >= cutoff)
    )
    return spark.read.parquet(path).count()
