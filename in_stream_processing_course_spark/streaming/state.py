"""T3 — long-horizon keyed state with idle timeout via
``applyInPandasWithState``.

This is the one reference operator Structured Streaming's windowed
aggregation alone does not express: the DStream path keeps a per-ip
TRAILING-10-MINUTE HISTORY across micro-batches (``mapWithState`` over
``State[List[(IpStat, Long)]]``, ImplDStreams.scala:90-110), judges
the key on its merged history every batch, and evicts keys idle for
10 minutes (``StateSpec...timeout(10 min)``, ImplDStreams.scala:121;
``isTimingOut`` guard :94-96).

We implement the documented *intent* — the reference's expiry filter
is inverted (keeps old entries, SURVEY §1.4.4) and mixes time units;
ours prunes correctly.

State layout: per key, parallel arrays (bucket epoch-sec, clicks,
views, categories-json) — flat arrays keep the state schema simple
and Arrow-friendly. Buckets floor event time to ``slide_sec``
(ImplDStreams.scala:80-84's bucketTime).

Scale: state is hash-partitioned by key in the state store (RocksDB
provider on a cluster); each key's state is bounded by
window/slide buckets x distinct categories.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.classifier import (
    CATEGORY_LIMIT,
    CLICKS_TO_VIEWS_LIMIT,
    REASON_CATEGORIES,
    REASON_CLEAR,
    REASON_RATIO,
    REASON_REQUESTS,
    REQUEST_LIMIT,
)

WINDOW_SEC = 600  # 10-min history horizon (DStreamConfig, ImplDStreams.scala:16)
SLIDE_SEC = 30  # bucket grain (BATCH_INTERVAL, ImplDStreams.scala:14)
TIMEOUT_SEC = 600  # idle-key eviction (ImplDStreams.scala:121)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("ip", T.StringType()),
        T.StructField("clicks", T.LongType()),
        T.StructField("views", T.LongType()),
        T.StructField("categories_count", T.LongType()),
        T.StructField("is_bot", T.BooleanType()),
        T.StructField("reason", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("buckets", T.ArrayType(T.LongType())),
        T.StructField("clicks", T.ArrayType(T.LongType())),
        T.StructField("views", T.ArrayType(T.LongType())),
        T.StructField("categories_json", T.ArrayType(T.StringType())),
    ]
)


def classify_merged(
    clicks: int, views: int, categories_count: int
) -> tuple[bool, str]:
    """Pure-python classifier mirror (Common.scala:25-50) for the
    state path; same integer-division / precedence semantics as the
    Column version in functions.classifier."""
    requests = clicks + views
    ratio = clicks // max(views, 1)
    if requests > REQUEST_LIMIT:
        return True, REASON_REQUESTS
    if categories_count > CATEGORY_LIMIT:
        return True, REASON_CATEGORIES
    if ratio > CLICKS_TO_VIEWS_LIMIT:
        return True, REASON_RATIO
    return False, REASON_CLEAR


def merge_history(
    state: tuple[list, list, list, list] | None,
    batch: pd.DataFrame,
    window_sec: int = WINDOW_SEC,
    slide_sec: int = SLIDE_SEC,
) -> tuple[list, list, list, list]:
    """Pure state-transition function (unit-testable without Spark):
    bucket the batch rows, merge into the per-key history, prune
    buckets older than (max bucket - window). Fixes the reference's
    inverted prune (SURVEY §1.4.4: intent = keep trailing window).
    """
    hist: dict[int, list[Any]] = {}
    if state is not None:
        for b, c, v, cats in zip(*state):
            hist[int(b)] = [int(c), int(v), set(json.loads(cats))]
    if len(batch) > 0:
        # ns->s via a zero-copy int64 view of the datetime64 block
        # (r13, guide §4.4 "heavyweight work once": Series.astype pays
        # ~170 us of pandas block-manager overhead PER CALL even on a
        # 5-row drip batch — this runs once per (key, trigger), so at
        # 150 keys x 28 triggers the fixed cost dwarfs the data).
        # dtype pinned to datetime64[ns] (ADVICE r13 #4): a tz-aware
        # Series would otherwise surface as an object array (view
        # raises) and a pandas-2 [us] block would silently be 1000x off.
        epoch = batch["time"].to_numpy(dtype="datetime64[ns]").view("int64") // 10**9
        buckets = (epoch // slide_sec) * slide_sec
        for b, c, v, cat in zip(
            buckets, batch["clicks"].to_numpy(), batch["views"].to_numpy(),
            batch["category"].to_numpy(),
        ):
            slot = hist.setdefault(int(b), [0, 0, set()])
            slot[0] += int(c)
            slot[1] += int(v)
            if cat is not None:
                slot[2].add(str(cat))
    if hist:
        horizon = max(hist) - (window_sec - slide_sec)
        hist = {b: s for b, s in hist.items() if b >= horizon}
    keys = sorted(hist)
    return (
        keys,
        [hist[b][0] for b in keys],
        [hist[b][1] for b in keys],
        [json.dumps(sorted(hist[b][2])) for b in keys],
    )


def summarize(state: tuple[list, list, list, list]) -> tuple[int, int, int]:
    """Re-aggregate a key's retained history (EvaluatedStat.classify,
    Common.scala:63-70: reduce(_+_) then classify)."""
    buckets, clicks, views, cats_json = state
    total_clicks = sum(clicks)
    total_views = sum(views)
    cats: set[str] = set()
    for cj in cats_json:
        cats.update(json.loads(cj))
    return total_clicks, total_views, len(cats)


# One-row output template for _update_fn (r13, guide §4 — cut fixed
# per-call pandas overhead at the Python boundary): building the dict-
# of-lists frame costs ~250 us per (key, trigger); copying this
# pre-typed template and poking scalars in with .iat costs ~95 us.
# dtypes match OUTPUT_SCHEMA's Arrow mapping exactly (object/int64/
# int64/int64/bool/object), pinned by test_state_output_dtypes.
_OUT_TEMPLATE = pd.DataFrame(
    {
        "ip": pd.array([""], dtype=object),
        "clicks": np.zeros(1, dtype="int64"),
        "views": np.zeros(1, dtype="int64"),
        "categories_count": np.zeros(1, dtype="int64"),
        "is_bot": np.zeros(1, dtype=bool),
        "reason": pd.array([""], dtype=object),
    }
)


def _update_fn(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
    event_time: bool = False,
) -> Iterable[pd.DataFrame]:
    if state.hasTimedOut:
        # isTimingOut guard (ImplDStreams.scala:94-96): no emission
        state.remove()
        return
        yield  # pragma: no cover - makes this a generator
    current = state.get if state.exists else None
    merged = current
    for pdf in pdf_iter:
        merged = merge_history(merged, pdf)
    if merged is None:
        return
    state.update(tuple(merged))
    if event_time:
        # event-time eviction (r11): evict when the WATERMARK passes
        # last-seen + timeout. The timer base
        # is the newest retained bucket — a floor of the true last-seen
        # instant at SLIDE_SEC grain (the state schema carries no finer
        # timestamp; the <=30s slack only delays eviction, never evicts
        # a live key early). Data-derived, so replays evict at the same
        # points regardless of wall-clock speed — the backfill-safe
        # form; see keyed_history_verdicts for when each mode is right.
        #
        # Clamped to just past the current watermark: unlike windowed
        # aggregation, applyInPandasWithState does NOT drop late input,
        # so a key whose rows are ALL older than (watermark - timeout)
        # — e.g. a straggler file landing mid-backfill — still reaches
        # this code, and Spark rejects a timer behind the watermark
        # (INVALID_TIMEOUT_TIMESTAMP, found by the live eviction test).
        # Semantics preserved: such a key is already expired in event
        # time, so it gets the earliest legal timer (next batch) rather
        # than a crash — it emits its verdict for the late batch, then
        # evicts.
        target = (int(merged[0][-1]) + SLIDE_SEC + TIMEOUT_SEC) * 1000
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(target, wm + 1))
    else:
        state.setTimeoutDuration(TIMEOUT_SEC * 1000)
    clicks, views, cat_count = summarize(merged)
    is_bot, reason = classify_merged(clicks, views, cat_count)
    out = _OUT_TEMPLATE.copy()
    out.iat[0, 0] = key[0]
    out.iat[0, 1] = clicks
    out.iat[0, 2] = views
    out.iat[0, 3] = cat_count
    out.iat[0, 4] = is_bot
    out.iat[0, 5] = reason
    yield out


def _update_fn_event_time(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Top-level named wrapper (applyInPandasWithState pickles the
    function; a lambda/partial would work but this keeps the plan's
    python_udf name readable in explain output)."""
    return _update_fn(key, pdf_iter, state, event_time=True)


def keyed_history_verdicts(
    log_records: DataFrame,
    event_time: bool = False,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming per-key verdict over the trailing 10-minute history
    (the DStream pipeline ImplDStreams.scala:86-125 as one operator).

    Input: LogRecord-shaped streaming DataFrame
    (ip, time, clicks, views, category). Output: one verdict row per
    active key per micro-batch (update semantics).

    ``event_time=True`` (r11) switches idle-key eviction from the wall
    clock to the watermark — evict when it passes the key's newest
    bucket + 10 min. Processing-time (the default, faithful to
    ImplDStreams.scala:121) is right for live ingestion where arrival
    ≈ event time; event-time is the replay-safe form for backfills
    (wall clock racing event time would otherwise purge every key
    mid-replay, and any >10-minute stall purges state that is live in
    event time). applyInPandasWithState does NOT drop late input: rows
    behind the watermark still reach ``_update_fn_event_time`` and
    merge into the history; the watermark only drives EVICTION timing
    (which is why the timer clamps to watermark+1 for already-expired
    keys — Spark rejects timers at or behind the watermark). Size
    ``watermark_delay`` to the deployment's real out-of-orderness: it
    bounds how long an idle key's state survives.
    """
    if event_time:
        return (
            log_records.withWatermark("time", watermark_delay)
            .groupBy("ip")
            .applyInPandasWithState(
                _update_fn_event_time,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    return log_records.groupBy("ip").applyInPandasWithState(
        _update_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
