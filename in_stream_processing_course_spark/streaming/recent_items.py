"""Per-key rolling recent-items state on transformWithStateInPandas
MapState.

Semantics: for each key (ip), maintain the ``RECENT_N`` most recently
seen categories (by event time, category tie-break) and emit them each
micro-batch, most recent first. The feature-store shape behind
"last-N items viewed" session features.

State is BOUNDED BY CONSTRUCTION: after every batch the map is pruned
to the ``RECENT_N`` surviving entries. Pruning is lossless for these
semantics — an entry leaves the top-N only when displaced by N strictly
more recent ones, and since last-seen times only ever grow, a pruned
category cannot re-enter without a NEW occurrence (which re-inserts
it). Hence the stream equals the batch rule "top-N categories by
max(time) per key" at every drain point, regardless of micro-batch
boundaries — pinned by test.

Like every transformWithState operator, this needs the RocksDB state
store provider and a working google.protobuf in the workers
(:func:`..compat.ensure_protobuf_fallback`).
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

RECENT_N = 5

RECENT_OUTPUT_SCHEMA = "ip string, recent string"


def _render(items: list[tuple[str, int]]) -> str:
    return ",".join(f"{cat}@{t}" for cat, t in items)


class RecentCategoriesProcessor(StatefulProcessor):
    """MapState(category -> last seen epoch-sec), pruned to RECENT_N."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.seen = handle.getMapState(
            "seen", "category string", "last_time long"
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        touched = False
        for pdf in rows:
            if len(pdf) == 0:
                continue
            touched = True
            # per-batch pre-combine: one map lookup per distinct
            # category, not per row. epoch_sec is computed in the query
            # plan (unix_timestamp, tz-aware) — deriving it here from
            # the pandas datetimes would silently shift by the session
            # timezone offset whenever spark.sql.session.timeZone is
            # not UTC, diverging from recent_categories_batch.
            times = pdf["epoch_sec"]
            latest: dict[str, int] = {}
            for cat, t in zip(pdf["category"], times):
                t = int(t)
                if cat not in latest or latest[cat] < t:
                    latest[cat] = t
            for cat, t in latest.items():
                prev = (
                    self.seen.getValue((cat,))
                    if self.seen.containsKey((cat,))
                    else None
                )
                if prev is None or int(prev[0]) < t:
                    self.seen.updateValue((cat,), (t,))
        if not touched:
            return
        items = sorted(
            ((k[0], int(v[0])) for k, v in self.seen.iterator()),
            key=lambda kv: (-kv[1], kv[0]),
        )
        keep, drop = items[:RECENT_N], items[RECENT_N:]
        for cat, _ in drop:
            self.seen.removeKey((cat,))
        yield pd.DataFrame({"ip": [key[0]], "recent": [_render(keep)]})

    def close(self) -> None:
        pass


def recent_categories_stream(log_records: DataFrame) -> DataFrame:
    """Streaming rolling last-N categories per key (update mode).

    Epoch seconds are derived in the plan (``unix_timestamp``) rather
    than inside the processor so the streamed ``cat@epoch`` strings
    match :func:`recent_categories_batch` under any session timezone.
    """
    with_epoch = log_records.withColumn(
        "epoch_sec", F.unix_timestamp("time")
    )
    return with_epoch.groupBy("ip").transformWithStateInPandas(
        statefulProcessor=RecentCategoriesProcessor(),
        outputStructType=RECENT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def recent_categories_batch(log_records: DataFrame) -> DataFrame:
    """Batch twin: top-N categories per key by last-seen time — the
    rule the stream must equal at any drain point."""
    from pyspark.sql import Window

    per_cat = log_records.groupBy("ip", "category").agg(
        F.max(F.unix_timestamp("time")).alias("last_time")
    )
    w = Window.partitionBy("ip").orderBy(
        F.col("last_time").desc(), F.col("category").asc()
    )
    ranked = per_cat.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= RECENT_N
    )
    return ranked.groupBy("ip").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("last_time")).alias("neg_t"),
                            "category",
                            "last_time",
                        )
                    )
                ),
                lambda s: F.concat_ws(
                    "@", s["category"], s["last_time"].cast("string")
                ),
            ),
            ",",
        ).alias("recent")
    )
