"""Property-based tests (hypothesis) extending the reference's test
strategy (SURVEY §5.2): classifier column/python parity on random
inputs, and the monoid properties that make the salted/two-level/state
merges sound.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from in_stream_processing_course_spark.streaming.state import (
    classify_merged,
    merge_history,
    summarize,
)

counts = st.integers(min_value=0, max_value=2000)
cats = st.integers(min_value=0, max_value=30)


@given(clicks=counts, views=counts, n_cats=cats)
@settings(max_examples=300, deadline=None)
def test_classifier_reference_semantics(clicks, views, n_cats):
    """Pure-python mirror obeys the reference rules exactly
    (Common.scala:25-50): strict >, integer division, precedence."""
    is_bot, reason = classify_merged(clicks, views, n_cats)
    requests = clicks + views
    ratio = clicks // max(views, 1)
    expected_bot = requests > 1000 or n_cats > 5 or ratio > 5
    assert is_bot == expected_bot
    if requests > 1000:
        assert reason == "requests"
    elif n_cats > 5:
        assert reason == "categories"
    elif ratio > 5:
        assert reason == "clicks/views"
    else:
        assert reason == "clear"


row = st.tuples(
    st.integers(min_value=0, max_value=590),  # event time (one window)
    st.integers(min_value=0, max_value=3),  # clicks
    st.integers(min_value=0, max_value=3),  # views
    st.sampled_from(["a", "b", "c", "d"]),
)


def _batch(rows):
    return pd.DataFrame(
        {
            "time": pd.to_datetime([r[0] for r in rows], unit="s"),
            "clicks": [r[1] for r in rows],
            "views": [r[2] for r in rows],
            "category": [r[3] for r in rows],
        }
    )


@given(rows=st.lists(row, min_size=1, max_size=40), split=st.integers(0, 40))
@settings(max_examples=150, deadline=None)
def test_merge_history_is_batching_invariant(rows, split):
    """Merging one batch == merging any two-way split of it (the
    IpStat monoid property, Common.scala:52-61 — what makes map-side
    combine, salting, and cross-batch state accumulation all sound).
    All event times inside one horizon so no pruning interferes."""
    split = min(split, len(rows))
    one = merge_history(None, _batch(rows))
    a = merge_history(None, _batch(rows[:split])) if split else None
    two = merge_history(a, _batch(rows[split:])) if split < len(rows) else a
    assert summarize(one) == summarize(two)
    assert one == two


@given(rows=st.lists(row, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_merge_history_empty_identity(rows):
    """Merging an empty batch is the identity (monoid empty())."""
    state = merge_history(None, _batch(rows))
    assert merge_history(state, _batch([])) == state


@given(
    batches=st.lists(
        st.dictionaries(
            st.sampled_from([f"i{n}" for n in range(12)]),
            st.integers(min_value=1, max_value=50),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    ),
    capacity=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_space_saving_guarantees_hold(batches, capacity):
    """Space-Saving invariants for ANY arrival sequence and capacity:
    overcount-only, error-bounded, summary size <= capacity, and no
    false negatives above n/capacity."""
    from collections import Counter

    from in_stream_processing_course_spark.streaming.heavy_hitters import (
        space_saving_fold,
    )

    true: Counter = Counter()
    s: dict = {}
    for b in batches:
        true.update(b)
        s = space_saving_fold(s, b, capacity)
    n = sum(true.values())
    assert len(s) <= capacity
    for item, (est, err) in s.items():
        assert est >= true[item]
        assert est - err <= true[item]
    for item, cnt in true.items():
        if cnt > n // capacity:
            assert item in s


# --- streaming attribution: batching invariance + brute-force parity -------


class _FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None


def _run_attribution(events, cut_points):
    """Drive streaming/attribution._attribution_fn over time-ordered
    chunks split at ``cut_points``; return {event_id: n_touches}."""
    import pandas as pd

    from in_stream_processing_course_spark.streaming.attribution import (
        _attribution_fn,
    )

    state = _FakeGroupState()
    got = {}
    bounds = [0, *sorted(cut_points), len(events)]
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = events[lo:hi]
        if not chunk:
            continue
        pdf = pd.DataFrame(
            {
                "event_id": [e[0] for e in chunk],
                "event_type": [e[2] for e in chunk],
                "value": [1.0] * len(chunk),
                "ts_us": [e[1] for e in chunk],
            }
        )
        for out in _attribution_fn((1,), [pdf], state):
            got.update(
                zip(out["event_id"].tolist(), out["n_touches"].tolist())
            )
    return got


_LOOKBACK = 7 * 86400 * 1_000_000

attr_events = st.lists(
    st.tuples(
        st.integers(0, 20 * 86400 * 1_000_000),  # ts_us across ~3 lookbacks
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=25,
)


@given(raw=attr_events, cuts=st.lists(st.integers(0, 25), max_size=4))
@settings(max_examples=200, deadline=None)
def test_attribution_state_fn_matches_brute_force(raw, cuts):
    # time-ordered with unique ids; ties broken by id like the operator
    events = [
        (i, ts, et)
        for i, (ts, et) in enumerate(sorted(raw, key=lambda e: e[0]))
    ]
    got = _run_attribution(events, [min(c, len(events)) for c in cuts])
    for eid, t, et in events:
        if et != "purchase":
            continue
        expected = sum(
            1
            for _eid2, t2, et2 in events
            if et2 in ("view", "click") and t - _LOOKBACK <= t2 < t
        )
        assert got[eid] == expected, (eid, got[eid], expected)


# --- MMR greedy (round 5) ---------------------------------------------------

from in_stream_processing_course_spark.plans.retrieval_queries import (  # noqa: E402
    _MMR_LAMBDA,
    mmr_greedy,
)

_mmr_inputs = st.integers(min_value=1, max_value=12).flatmap(
    lambda n: st.tuples(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=n,
            max_size=n,
        ),
        st.lists(
            st.lists(
                st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
                min_size=n,
                max_size=n,
            ),
            min_size=n,
            max_size=n,
        ),
    )
)


@given(data=_mmr_inputs, k=st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_mmr_greedy_invariants(data, k):
    """Each pick is the argmax of the MMR objective GIVEN the previous
    picks (verified directly against a per-step brute-force recompute),
    the first pick is pure max-relevance, ids never repeat, and the
    output size is min(k, n)."""
    rels, sim_rows = data
    n = len(rels)
    rel = {i: rels[i] for i in range(n)}
    sims = {
        i: {j: sim_rows[i][j] for j in range(n) if j != i} for i in range(n)
    }
    out = mmr_greedy(rel, sims, k)
    assert len(out) == min(k, n)
    ids = [d for d, _ in out]
    assert len(set(ids)) == len(ids)
    assert ids[0] == min(rel, key=lambda d: (-rel[d], d))
    picked: list[int] = []
    for d, s in out:
        # brute-force the argmax at this step over the un-picked set
        def score(c):
            ms = max((sims[c].get(p, 0.0) for p in picked), default=0.0)
            return _MMR_LAMBDA * rel[c] - (1.0 - _MMR_LAMBDA) * ms

        best = min(
            (c for c in rel if c not in picked),
            key=lambda c: (-score(c), c),
        )
        assert d == best
        assert s == score(d)
        picked.append(d)


def _skyline_reference(points):
    out = []
    for p in points:
        dominated = any(
            (q[0] < p[0] and q[1] <= p[1]) or (q[0] <= p[0] and q[1] < p[1])
            for q in points
        )
        if not dominated:
            out.append(p)
    return out


@given(
    points=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_skyline_prefix_min_rule_equals_quadratic_reference(points):
    """The prefix-min dominance rule used by parts_skyline_per_brand
    (min_le / min_lt over price-ordered groups) selects exactly the
    quadratic NOT-EXISTS skyline on arbitrary integer point sets,
    duplicates included."""
    # group to (price -> min size), order by price, running mins
    by_price: dict[int, int] = {}
    for price, size in points:
        by_price[price] = min(size, by_price.get(price, size))
    running = None
    min_le: dict[int, int] = {}
    min_lt: dict[int, int | None] = {}
    for price in sorted(by_price):
        min_lt[price] = running
        running = (
            by_price[price] if running is None
            else min(running, by_price[price])
        )
        min_le[price] = running
    survivors = [
        p
        for p in points
        if not (
            min_le[p[0]] < p[1]
            or (min_lt[p[0]] is not None and min_lt[p[0]] <= p[1])
        )
    ]
    assert sorted(survivors) == sorted(_skyline_reference(points))
