"""Streaming per-key EWMA: the continuous form of the batch
``user_value_ewma`` query (plans/timeseries_queries.py). EWMA is a
recurrence (s = a*v + (1-a)*s), which is exactly what keyed streaming
state is for: the whole history collapses to ONE double per key, so
the stream never re-reads or re-folds old data — the batch query's
per-key ordered fold becomes O(batch) work per trigger with O(1)
state.

Equivalence contract (pinned in tests/test_streaming.py): dripping a
time-ordered event file sequence through this operator and taking
each user's LAST emitted row reproduces the batch query bit-for-bit —
the fold order (ts, event_id) is identical and double arithmetic is
deterministic, so state-carried and single-pass folds agree exactly.

Scale: one shuffle per micro-batch on user_id; state is two scalars
per key in the state store (RocksDB at 100 TB key spaces — proven for
this API shape in
tests/test_streaming.py::test_stateful_history_on_rocksdb_provider).
No timeout: an engagement feature never expires; set one if the key
space must be bounded.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EWMA_ALPHA = 0.2

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_value", T.DoubleType()),
    ]
)

# (n_events, ewma) — the entire per-key history, collapsed
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def _ewma_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n, s = state.get if state.exists else (0, None)
    frames = [pdf for pdf in pdf_iter if not pdf.empty]
    if not frames:
        return
        yield  # pragma: no cover - generator marker
    pdf = pd.concat(frames, ignore_index=True)
    # the batch query's fold order: (ts, event_id)
    pdf = pdf.sort_values(["ts_us", "event_id"])
    for v in pdf["value"]:
        v = float(v)
        # seed = first value (matches the batch aggregate's seed)
        s = v if s is None else s * (1.0 - EWMA_ALPHA) + v * EWMA_ALPHA
        n += 1
    state.update((n, s))
    yield pd.DataFrame(
        {
            "user_id": pd.array([int(key[0])], dtype="Int64"),
            "n_events": pd.array([n], dtype="Int64"),
            "ewma_value": [s],
        }
    )


def stream_user_value_ewma(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA over an events stream (columns:
    user_id, event_id, value, ts timestamp). Emits the user's updated
    (n_events, ewma_value) each micro-batch the user appears in."""
    prepared = events.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
