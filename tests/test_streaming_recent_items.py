"""Rolling recent-items MapState operator (streaming/recent_items.py):
stream/batch equivalence with pruned state, cross-batch displacement,
and the prune-safety property (a pruned category re-enters only via a
new occurrence). Gated on a working protobuf + RocksDB provider.
"""

from __future__ import annotations

import pytest

pytest.importorskip("google.protobuf.descriptor")

from in_stream_processing_course_spark.sources import generator as gen
from in_stream_processing_course_spark.sources.stream import read_action_stream
from in_stream_processing_course_spark.streaming.pipeline import (
    actions_to_log_records,
)
from in_stream_processing_course_spark.streaming.recent_items import (
    recent_categories_batch,
    recent_categories_stream,
)
from in_stream_processing_course_spark.streaming.runner import (
    run_stream_to_memory,
)



def _write(tmp_path, name, actions):
    gen.write_json_lines(actions, str(tmp_path / "in" / name))
    return str(tmp_path / "in")


def _last_per_ip(rows):
    # update mode emits once per (key, batch); keep the LAST emission
    out = {}
    for r in rows:
        out[r["ip"]] = r["recent"]
    return out


def test_recent_items_stream_matches_batch(rocksdb_spark, tmp_path):
    """Two micro-batches of category traffic -> the final per-key
    emission equals the batch top-N rule over ALL input, proving the
    per-batch prune loses nothing."""
    spark = rocksdb_spark
    # 8 categories over two files for one key; interleave a second key
    b1 = [gen.Action(10 + i, f"cat{i}", "u1", "view") for i in range(4)]
    b1 += [gen.Action(5, "солнце", "u2", "view")]
    b2 = [gen.Action(100 + i, f"cat{i}", "u1", "view") for i in range(2, 8)]
    b2 += [gen.Action(7, "cat0", "u2", "click")]
    in_dir = _write(tmp_path, "b1.json", b1)
    _write(tmp_path, "b2.json", b2)

    lr = actions_to_log_records(
        read_action_stream(spark, in_dir, max_files_per_trigger=1)
    )
    streamed = _last_per_ip(
        run_stream_to_memory(
            recent_categories_stream(lr),
            output_mode="update",
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    )
    # batch twin over the same drained input
    from in_stream_processing_course_spark.sources.generator import (
        actions_to_log_records as batch_records,
    )

    batched = {
        r["ip"]: r["recent"]
        for r in recent_categories_batch(
            batch_records(spark, b1 + b2)
        ).collect()
    }
    assert streamed == batched
    # displacement actually happened: u1 saw 8 categories, keeps 5
    assert len(streamed["u1"].split(",")) == 5
    assert streamed["u1"].split(",")[0] == "cat7@107"


def test_recent_items_pruned_category_reenters_on_new_occurrence(
    rocksdb_spark, tmp_path
):
    """catX is pruned in batch 1 (displaced by 5 newer), then reappears
    in batch 2 with a fresh time — it must re-enter at its NEW time,
    exactly as the batch rule dictates."""
    spark = rocksdb_spark
    b1 = [gen.Action(1, "catX", "u1", "view")] + [
        gen.Action(10 + i, f"cat{i}", "u1", "view") for i in range(5)
    ]
    b2 = [gen.Action(50, "catX", "u1", "view")]
    in_dir = _write(tmp_path, "b1.json", b1)
    _write(tmp_path, "b2.json", b2)

    lr = actions_to_log_records(
        read_action_stream(spark, in_dir, max_files_per_trigger=1)
    )
    streamed = _last_per_ip(
        run_stream_to_memory(
            recent_categories_stream(lr),
            output_mode="update",
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    )
    assert streamed["u1"].startswith("catX@50,")
    from in_stream_processing_course_spark.sources.generator import (
        actions_to_log_records as batch_records,
    )

    batched = {
        r["ip"]: r["recent"]
        for r in recent_categories_batch(
            batch_records(spark, b1 + b2)
        ).collect()
    }
    assert streamed == batched


def test_recent_items_stream_matches_batch_non_utc_session_tz(
    rocksdb_spark, tmp_path
):
    """ADVICE r4 (low): epoch seconds are computed in the query plan
    (unix_timestamp), not re-derived from pandas datetimes inside the
    processor — so the streamed cat@epoch strings must equal the batch
    twin even when the session timezone is not UTC (Arrow hands the
    processor tz-shifted naive datetimes under a non-UTC session tz)."""
    spark = rocksdb_spark
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        b1 = [gen.Action(10 + i, f"cat{i}", "u1", "view") for i in range(3)]
        in_dir = _write(tmp_path, "b1.json", b1)
        lr = actions_to_log_records(read_action_stream(spark, in_dir))
        streamed = _last_per_ip(
            run_stream_to_memory(
                recent_categories_stream(lr),
                output_mode="update",
                checkpoint_dir=str(tmp_path / "ckpt"),
            ).collect()
        )
        from in_stream_processing_course_spark.sources.generator import (
            actions_to_log_records as batch_records,
        )

        batched = {
            r["ip"]: r["recent"]
            for r in recent_categories_batch(batch_records(spark, b1)).collect()
        }
        assert streamed == batched
        # and the epochs are the true event epochs, not tz-shifted
        assert streamed["u1"] == "cat2@12,cat1@11,cat0@10"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
