"""Stream-execution helpers for tests and batch<->stream equivalence.

The reference's load-bearing property (SURVEY §3 entry point 3): the
same transform runs as a batch query and as a streaming query. These
helpers make that testable — run any streaming DataFrame into a memory
sink and hand back the result table.
"""

from __future__ import annotations

import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def await_drained(
    query: StreamingQuery,
    timeout_sec: float = 300,
    idle_batches: int = 2,
    poll_sec: float = 0.2,
) -> None:
    """Wait until an availableNow query has processed its whole backlog,
    then stop it.

    ``availableNow`` alone is NOT sufficient for stateful queries with
    processing-time timeouts (``applyInPandasWithState`` /
    ``transformWithStateInPandas``): after the data is drained the
    micro-batch engine keeps scheduling no-data batches so timers can
    fire, and the query never terminates (observed: >800 empty batches
    before the old fixed ``awaitTermination(300)`` gave up — every
    stateful test silently burned the full timeout). Under availableNow
    the backlog is consumed strictly before any no-data batch, so
    ``idle_batches`` consecutive zero-row batches == fully drained;
    stop there. Queries that self-terminate (stateless availableNow)
    exit the poll loop via ``isActive`` immediately.
    """
    deadline = time.monotonic() + timeout_sec
    empty, last_batch = 0, -1
    while query.isActive and time.monotonic() < deadline:
        progress = query.lastProgress
        if progress and progress["batchId"] != last_batch:
            last_batch = progress["batchId"]
            empty = empty + 1 if progress["numInputRows"] == 0 else 0
            if empty >= idle_batches:
                break
        time.sleep(poll_sec)
    query.stop()
    query.awaitTermination(60)


def run_stream_to_memory(
    sdf: DataFrame,
    output_mode: str = "update",
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Start the stream, drain all available input, stop, and return
    the memory-sink table. ``complete`` mode mirrors batch results for
    aggregations; ``update``/``append`` expose incremental semantics.
    """
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_")
    query = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)  # drain everything, then stop —
        # processAllAvailable would never settle for stateful queries
        # whose processing-time timeouts keep scheduling cleanup batches
        .start()
    )
    await_drained(query)
    spark: SparkSession = sdf.sparkSession
    return spark.table(name)


def start_triggered(
    writer: DataStreamWriter,
    available_now: bool,
    trigger_seconds: str | None = None,
) -> StreamingQuery:
    """Start ``writer``: drain the backlog and stop (``available_now``),
    run on a ``trigger_seconds`` processing-time trigger, or run
    micro-batches back to back (neither)."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=trigger_seconds)
    return writer.start()


def start_foreach_batch(
    sdf: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    output_mode: str,
    available_now: bool,
    trigger_seconds: str | None = None,
) -> StreamingQuery:
    """Start ``sdf`` into the checkpointed ``foreachBatch`` target
    ``batch_fn`` under :func:`start_triggered`'s trigger choice."""
    writer = (
        sdf.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    return start_triggered(writer, available_now, trigger_seconds)


def run_stream_foreach_batch(
    sdf: DataFrame,
    batch_fn,
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
) -> None:
    """T5/T6/K1 — foreachBatch with checkpointing; drains and stops."""
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_")
    await_drained(start_foreach_batch(sdf, batch_fn, checkpoint, output_mode, True))
