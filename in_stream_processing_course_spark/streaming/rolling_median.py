"""Per-key rolling median of the last-N values on
transformWithStateInPandas ListState — the robust-statistic twin of
the recent-items MapState feature (:mod:`.recent_items`): "median of
the user's last N event values", the outlier-resistant engagement
feature a mean would let one burst corrupt.

State is BOUNDED BY CONSTRUCTION: after every batch the list is pruned
to the ``WINDOW_N`` most recent rows by (epoch, event_id). Pruning is
lossless for these semantics — the kept set is exactly the global
last-N because (epoch, event_id) totally orders events and only ever
grows, so a pruned row can never re-enter the last-N at any later
drain point. Hence the stream equals the batch rule "lower median of
the N most recent values per key" at every micro-batch boundary,
pinned by the stream/batch equivalence test.

Like every transformWithState operator this needs the RocksDB provider
and a worker-visible google.protobuf (:func:`..compat.ensure_protobuf_fallback`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

WINDOW_N = 7

MEDIAN_OUTPUT_SCHEMA = "user_id bigint, n_recent int, median_value double"


def _lower_median(values: list[float]) -> float:
    ordered = sorted(values)
    return ordered[(len(ordered) - 1) // 2]


class RollingMedianProcessor(StatefulProcessor):
    """ListState[(t, event_id, value)] pruned to the WINDOW_N newest."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.recent = handle.getListState(
            "recent", "t long, event_id long, value double"
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        fresh: list[tuple[int, int, float]] = []
        for pdf in rows:
            fresh.extend(
                (int(t), int(e), float(v))
                for t, e, v in zip(
                    pdf["epoch_sec"], pdf["event_id"], pdf["value"]
                )
            )
        if not fresh:
            return
        held = list(self.recent.get()) if self.recent.exists() else []
        merged = sorted(
            [(int(t), int(e), float(v)) for t, e, v in held] + fresh,
            key=lambda r: (r[0], r[1]),
        )[-WINDOW_N:]
        self.recent.put(merged)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_recent": [len(merged)],
                "median_value": [_lower_median([v for _, _, v in merged])],
            }
        )

    def close(self) -> None:
        pass


def rolling_median_stream(events: DataFrame) -> DataFrame:
    """Streaming rolling last-N median per user (update mode). Epoch
    seconds derive in the plan (``unix_timestamp``) for tz-safety, same
    rule as :mod:`.recent_items`."""
    with_epoch = events.withColumn("epoch_sec", F.unix_timestamp("ts"))
    return with_epoch.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RollingMedianProcessor(),
        outputStructType=MEDIAN_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def rolling_median_batch(events: DataFrame) -> DataFrame:
    """Batch twin: lower median of each user's WINDOW_N most recent
    values — the rule the stream must equal at any drain point. The
    last-N selection is a partitioned top-N window; the lower median
    indexes the sorted kept values (no percentile interpolation, so
    stream and batch compare exactly)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_timestamp("ts").desc(), F.col("event_id").desc()
    )
    kept = events.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= WINDOW_N
    )
    vals = F.array_sort(F.collect_list("value"))
    return kept.groupBy("user_id").agg(
        F.size(vals).cast("int").alias("n_recent"),
        F.element_at(
            vals, ((F.size(vals) - 1) / 2).cast("int") + 1
        ).alias("median_value"),
    )
