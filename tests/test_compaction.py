"""Small-file compaction (sinks/compaction.py): many-file directory
collapses to size-targeted files, data intact, sort-clustering
restores footer-stats pruning, the active-stream guard refuses, and a
crash inside the directory swap recovers."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from in_stream_processing_course_spark.operators.projections import (
    ensure_timestamp,
)
from in_stream_processing_course_spark.sinks.compaction import (
    compact_parquet_dir,
)
from in_stream_processing_course_spark.sources.batch import load_table


def test_compaction_preserves_data_and_reduces_files(spark, sf_dir, tmp_path):
    p = str(tmp_path / "many")
    ev = ensure_timestamp(load_table(spark, sf_dir, "events"), "ts")
    # simulate per-trigger accretion: 24 small appends
    ev.repartition(24).write.parquet(p)
    before_files = len(glob.glob(f"{p}/*.parquet"))
    assert before_files >= 24
    before = ev.count()
    before_sum = ev.agg(F.sum("event_id")).collect()[0][0]

    n_after = compact_parquet_dir(spark, p, sort_by=["user_id", "ts"])
    assert n_after < before_files
    got = spark.read.parquet(p)
    assert got.count() == before
    assert got.agg(F.sum("event_id")).collect()[0][0] == before_sum

    # sort-clustering: each compacted file covers a bounded user range
    bounds = []
    for f in sorted(glob.glob(f"{p}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("user_id")
        st = md.row_group(0).column(idx).statistics
        bounds.append((st.min, st.max))
    if len(bounds) > 1:
        spans = [hi - lo for lo, hi in bounds]
        users = got.select("user_id").distinct().count()
        assert max(spans) < users  # no file spans the whole domain


def test_compaction_refuses_while_stream_active(spark, tmp_path):
    from in_stream_processing_course_spark.sources import generator as gen
    from in_stream_processing_course_spark.sources.stream import (
        read_action_stream,
    )
    from in_stream_processing_course_spark.streaming.pipeline import (
        start_raw_event_cache,
    )

    gen.write_json_lines(
        [gen.Action(1, "1000", "ip1", "click")], str(tmp_path / "in" / "a.json")
    )
    sink_dir = str(tmp_path / "cache")
    q = start_raw_event_cache(
        read_action_stream(spark, str(tmp_path / "in")),
        sink_dir,
        str(tmp_path / "ckpt"),
        trigger_seconds="1 seconds",
    )
    try:
        q.processAllAvailable()
        with pytest.raises(RuntimeError, match="actively writing"):
            compact_parquet_dir(spark, sink_dir)
    finally:
        q.stop()


@pytest.mark.parametrize("rewrite", ["compact", "expire"])
def test_rewrite_swap_crash_recovers(spark, tmp_path, monkeypatch, rewrite):
    """A crash inside the swap window -- after the live table is retired
    but before the rewritten table is installed -- must not lose it.
    Inject the fault at the install, then re-run the rewrite: recovery
    restores the retired table, the rewrite completes with every row,
    and no swap directory is left behind."""
    import os
    import shutil

    from in_stream_processing_course_spark.streaming.pipeline import (
        expire_raw_events,
    )

    path = str(tmp_path / "table")
    n = 200
    spark.range(n).withColumn("ingested_at", F.current_timestamp()).repartition(
        8
    ).write.parquet(path)
    run = {
        "compact": lambda: compact_parquet_dir(spark, path),
        "expire": lambda: expire_raw_events(spark, path, 3600),
    }[rewrite]

    orig_move = shutil.move

    def crash_on_install(src, dst, *a, **kw):
        if str(dst) == path:
            raise OSError("injected crash during install")
        return orig_move(src, dst, *a, **kw)

    monkeypatch.setattr(shutil, "move", crash_on_install)
    with pytest.raises(OSError, match="injected crash"):
        run()
    monkeypatch.undo()
    assert not os.path.exists(path), "test premise: live table retired"

    run()
    got = spark.read.parquet(path)
    assert got.count() == n
    assert got.agg(F.sum("id")).collect()[0][0] == n * (n - 1) // 2
    leftovers = [
        d
        for d in os.listdir(tmp_path)
        if d.startswith(("table._stage_", "table._old_"))
    ]
    assert leftovers == [], f"stranded dirs not cleaned up: {leftovers}"


def test_backfill_overwrites_only_target_partitions(spark, tmp_path, sf_dir):
    """Dynamic partition overwrite: restating one day replaces that
    day's directory and leaves all others byte-identical (static mode
    would truncate the whole table)."""
    import os

    from pyspark.sql import functions as F

    from in_stream_processing_course_spark.operators.projections import (
        ensure_timestamp,
    )
    from in_stream_processing_course_spark.sinks.partitioned import (
        backfill_partitions,
        write_events_partitioned,
    )
    from in_stream_processing_course_spark.sources.batch import load_table

    out = str(tmp_path / "events_part")
    write_events_partitioned(spark, sf_dir, out)
    days = sorted(
        d for d in os.listdir(out) if d.startswith("event_date=")
    )
    assert len(days) > 2
    target_day = days[1].split("=", 1)[1]
    other_day = days[2].split("=", 1)[1]
    other_before = sorted(os.listdir(os.path.join(out, days[2])))

    ev = ensure_timestamp(load_table(spark, sf_dir, "events"), "ts")
    corrected = (
        ev.withColumn("event_date", F.col("ts").cast("date"))
        .where(F.col("event_date") == F.lit(target_day).cast("date"))
        .withColumn("value", F.col("value") * 2)  # the "bug fix"
    )
    backfill_partitions(spark, corrected, out)

    # untouched partition: same files on disk
    assert sorted(os.listdir(os.path.join(out, days[2]))) == other_before
    # restated partition: new values, same row count
    after = spark.read.parquet(out)
    tgt = after.where(F.col("event_date") == F.lit(target_day).cast("date"))
    orig_tgt = ev.withColumn("event_date", F.col("ts").cast("date")).where(
        F.col("event_date") == F.lit(target_day).cast("date")
    )
    assert tgt.count() == orig_tgt.count()
    got = tgt.agg(F.round(F.sum("value"), 2)).collect()[0][0]
    want = orig_tgt.agg(F.round(F.sum("value") * 2, 2)).collect()[0][0]
    assert abs(got - want) < 0.01
    # other day's rows unchanged through the backfill
    oth = after.where(F.col("event_date") == F.lit(other_day).cast("date"))
    orig_oth = ev.withColumn("event_date", F.col("ts").cast("date")).where(
        F.col("event_date") == F.lit(other_day).cast("date")
    )
    assert oth.count() == orig_oth.count()
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
    )


def test_read_evolving_merges_schema_versions(spark, tmp_path):
    """Files written under schema v1 (no quality column) and v2 read
    as ONE table: mergeSchema unions the footers, defaults backfill
    the v1 rows — no version sniffing downstream."""
    from in_stream_processing_course_spark.sources.batch import read_evolving

    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(out)  # v1 files
    spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, quality double"
    ).write.mode("append").parquet(out)  # v2 adds quality
    df = read_evolving(spark, out, defaults={"quality": 0.5})
    rows = {r["id"]: (r["name"], r["quality"]) for r in df.collect()}
    assert rows == {1: ("a", 0.5), 2: ("b", 0.5), 3: ("c", 0.9)}
    assert set(df.columns) == {"id", "name", "quality"}
