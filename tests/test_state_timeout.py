"""Unit test of the T3 timeout branch: an idle key firing its
processing-time timeout is evicted without emission (the reference's
``isTimingOut`` guard, ImplDStreams.scala:94-96), exercised against a
fake GroupState so no streaming query is needed."""

from __future__ import annotations

import pandas as pd

from in_stream_processing_course_spark.streaming import state as st_mod


class FakeGroupState:
    def __init__(self, value=None, has_timed_out=False):
        self._value = value
        self.hasTimedOut = has_timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:
            raise ValueError("state empty")
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _batch(rows):
    return pd.DataFrame(
        {
            "time": pd.to_datetime([r[0] for r in rows], unit="s"),
            "clicks": [r[1] for r in rows],
            "views": [r[2] for r in rows],
            "category": [r[3] for r in rows],
        }
    )


def test_update_emits_and_registers_timeout():
    state = FakeGroupState()
    out = list(
        st_mod._update_fn(("ip1",), [_batch([(0, 1, 0, "a")])], state)
    )
    assert len(out) == 1
    assert out[0]["ip"].tolist() == ["ip1"]
    assert state.timeout_ms == st_mod.TIMEOUT_SEC * 1000
    assert state.exists


def test_timeout_evicts_without_emission():
    state = FakeGroupState(
        value=([0], [5], [5], ['["a"]']), has_timed_out=True
    )
    out = list(st_mod._update_fn(("ip1",), iter([]), state))
    assert out == []
    assert state.removed


def test_state_accumulates_between_calls():
    state = FakeGroupState()
    list(st_mod._update_fn(("k",), [_batch([(0, 1, 0, "a")])], state))
    out = list(
        st_mod._update_fn(("k",), [_batch([(40, 0, 1, "b")])], state)
    )
    row = out[0].iloc[0]
    assert (row["clicks"], row["views"], row["categories_count"]) == (1, 1, 2)


def test_window_prune_drops_buckets_outside_trailing_window():
    """Old buckets beyond the trailing window fall out of the merged
    history: the corrected-intent prune (SURVEY §1.4.4)."""
    state = FakeGroupState()
    list(st_mod._update_fn(("k",), [_batch([(0, 0, 5, "a")])], state))
    out = list(
        st_mod._update_fn(
            ("k",), [_batch([(st_mod.WINDOW_SEC + 100, 2, 1, "b")])], state
        )
    )
    row = out[0].iloc[0]
    # the t=0 bucket is outside (max_bucket - window]: only batch 2 counts
    assert (row["clicks"], row["views"], row["categories_count"]) == (2, 1, 1)


class FakeEventTimeGroupState(FakeGroupState):
    def __init__(self, value=None, has_timed_out=False, watermark_ms=0):
        super().__init__(value, has_timed_out)
        self.timeout_ts = None
        self.watermark_ms = watermark_ms

    def setTimeoutTimestamp(self, ms):
        # mirror Spark's guard (INVALID_TIMEOUT_TIMESTAMP)
        if ms < self.watermark_ms:
            raise ValueError(f"timeout {ms} earlier than watermark {self.watermark_ms}")
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


# --- event-time eviction mode (r11) ------------------------------------------


def test_event_time_mode_arms_watermark_timer_from_newest_bucket():
    """The timer base must be DATA-derived: newest retained bucket +
    slide + timeout, never the wall clock — what makes eviction
    replay-safe under backfills."""
    state = FakeEventTimeGroupState()
    out = list(
        st_mod._update_fn_event_time(
            ("ip1",), [_batch([(95, 1, 0, "a"), (40, 0, 1, "b")])], state
        )
    )
    assert len(out) == 1
    # newest bucket = floor(95/30)*30 = 90; timer = (90 + 30 + 600)s
    assert state.timeout_ts == (90 + st_mod.SLIDE_SEC + st_mod.TIMEOUT_SEC) * 1000
    assert state.timeout_ms is None  # never the processing-time API


def test_event_time_mode_timer_never_rewinds_on_late_batches():
    """Out-of-order catch-up: a batch older than the retained history
    merges but must not pull the eviction point backwards (the timer
    tracks the NEWEST bucket, which only moves forward)."""
    state = FakeEventTimeGroupState()
    list(st_mod._update_fn_event_time(("k",), [_batch([(300, 1, 0, "a")])], state))
    first = state.timeout_ts
    out = list(
        st_mod._update_fn_event_time(("k",), [_batch([(100, 0, 1, "b")])], state)
    )
    assert state.timeout_ts == first  # newest bucket still 300s
    row = out[0].iloc[0]
    assert row["categories_count"] == 2  # the late row DID merge


def test_event_time_mode_timeout_branch_evicts_silently():
    state = FakeEventTimeGroupState(
        value=([0], [5], [5], ['["a"]']), has_timed_out=True
    )
    out = list(st_mod._update_fn_event_time(("k",), iter([]), state))
    assert out == []
    assert state.removed


def test_event_time_mode_same_verdicts_as_processing_time():
    """The mode changes WHEN keys are evicted, never WHAT is computed:
    identical batches through both modes yield identical rows."""
    rows = [(0, 3, 1, "a"), (40, 2, 2, "b"), (90, 1, 1, "c")]
    s1, s2 = FakeGroupState(), FakeEventTimeGroupState()
    r1 = list(st_mod._update_fn(("k",), [_batch(rows)], s1))[0].iloc[0]
    r2 = list(st_mod._update_fn_event_time(("k",), [_batch(rows)], s2))[0].iloc[0]
    assert r1.to_dict() == r2.to_dict()


def test_event_time_mode_clamps_timer_for_already_expired_keys():
    """applyInPandasWithState does NOT drop late input, so a straggler
    batch whose rows are all older than (watermark - timeout) still
    reaches the operator; Spark rejects timers behind the watermark,
    so the timer clamps to watermark+1 — the key emits for the late
    batch, then evicts at the next batch (found live by the eviction
    test, pinned here)."""
    state = FakeEventTimeGroupState(watermark_ms=5_018_000)
    out = list(
        st_mod._update_fn_event_time(("ip1",), [_batch([(100, 1, 0, "a")])], state)
    )
    assert len(out) == 1  # the late batch still gets its verdict
    assert state.timeout_ts == 5_018_001  # earliest legal timer
