"""Table-plan memo lifecycle (r14 — VERDICT r13 #9 / ADVICE r13 #1, #3).

The memo is plan metadata keyed by applicationId: stale generations
from a previous session must be evicted on insert, an explicit
invalidation hook must exist for overwrite-then-reload callers, and
the fan-out partition probe must be memoized per (app, dir, table).
"""

from __future__ import annotations

from in_stream_processing_course_spark.sources import batch as b

SF = "/root/testdata/sf0.001"


def test_stale_generation_evicted_on_insert(spark):
    """A new applicationId leaves at most one generation in the memo."""
    app = spark.sparkContext.applicationId
    df = b.load_table(spark, SF, "events")  # populate current generation
    # plant a fake dead-generation entry (a prior session's key shape)
    b._TABLE_PLAN_MEMO[("app-DEAD", SF, "events", False)] = df
    b._SCAN_PARTS_MEMO[("app-DEAD", SF, "events")] = 1
    # a MISS on any (table, fan_out) key triggers the eviction sweep —
    # force one (earlier tests in the session may have populated it)
    b._TABLE_PLAN_MEMO.pop((app, SF, "orders", False), None)
    b.load_table(spark, SF, "orders", fan_out=False)
    assert all(k[0] == app for k in b._TABLE_PLAN_MEMO)
    assert all(k[0] == app for k in b._SCAN_PARTS_MEMO)


def test_invalidate_table_plans_scoped_by_dir(spark):
    b.load_table(spark, SF, "events")
    b.load_table(spark, "/root/testdata/sf0.01", "events", fan_out=False)
    b.invalidate_table_plans(SF)
    assert not any(k[1] == SF for k in b._TABLE_PLAN_MEMO)
    assert any(k[1] == "/root/testdata/sf0.01" for k in b._TABLE_PLAN_MEMO)
    b.invalidate_table_plans()
    assert not b._TABLE_PLAN_MEMO and not b._SCAN_PARTS_MEMO


def test_scan_partitions_memoized(spark):
    app = spark.sparkContext.applicationId
    n = b.scan_partitions(spark, SF, "events")
    assert n >= 1
    assert b._SCAN_PARTS_MEMO[(app, SF, "events")] == n
    # second call is a pure dict hit returning the same answer
    assert b.scan_partitions(spark, SF, "events") == n


def test_fan_out_by_honors_caller_probe(spark):
    """n_partitions short-circuits the .rdd probe; the gate decision
    must match the probed path."""
    base = b.load_table(spark, SF, "events", fan_out=False)
    n = b.scan_partitions(spark, SF, "events")
    par = spark.sparkContext.defaultParallelism
    out = b.fan_out_by(base, "user_id", n_partitions=n)
    if n < par:
        assert out.rdd.getNumPartitions() == par
    # a claimed already-wide input must be left alone (no new exchange)
    assert b.fan_out_by(base, "user_id", n_partitions=par) is base


def test_fan_out_by_hint_matches_probed_partitions(spark, monkeypatch):
    """Every plan builder that passes ``n_partitions`` to fan_out_by
    claims its input's partition count without probing it. Build every
    registered query with a spy on each importing module's fan_out_by
    and check each claim against ``df.rdd.getNumPartitions()``; a wrong
    hint would silently skip (or force) the fan-out exchange."""
    import importlib

    from in_stream_processing_course_spark.plans.registry import QUERIES

    modules = [
        "bot_detection",
        "retrieval_queries",
        "relational",
        "dedup_queries",
        "events_queries",
        "incremental_queries",
    ]
    calls: dict[str, int] = {m: 0 for m in modules}
    wrong: list[tuple[str, tuple[str, ...], int, int]] = []

    def spy_for(mod_name, orig):
        def spy(df, *cols, n_partitions=None):
            calls[mod_name] += 1
            if n_partitions is not None:
                probed = df.rdd.getNumPartitions()
                if n_partitions != probed:
                    wrong.append((mod_name, cols, n_partitions, probed))
            return orig(df, *cols, n_partitions=n_partitions)

        return spy

    for name in modules:
        mod = importlib.import_module(
            f"in_stream_processing_course_spark.plans.{name}"
        )
        monkeypatch.setattr(mod, "fan_out_by", spy_for(name, mod.fan_out_by))
    for name in sorted(QUERIES):
        QUERIES[name](spark, SF)
    assert not wrong, wrong
    assert all(calls.values()), calls
