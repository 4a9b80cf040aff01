"""Rolling last-N median ListState operator
(streaming/rolling_median.py): stream/batch equivalence across
micro-batch boundaries with displacement, and robustness of the
median to a pruned outlier. Gated like the recent-items tests on a
working protobuf + RocksDB provider.
"""

from __future__ import annotations

import json
import time

import pytest

pytest.importorskip("google.protobuf.descriptor")

from in_stream_processing_course_spark.schemas import EVENT_SCHEMA
from in_stream_processing_course_spark.sources.stream import read_event_stream
from in_stream_processing_course_spark.streaming.rolling_median import (
    WINDOW_N,
    rolling_median_batch,
    rolling_median_stream,
)
from in_stream_processing_course_spark.streaming.runner import (
    run_stream_to_memory,
)



def _event(eid, sec, uid, value):
    return {
        "event_id": eid,
        "ts": f"2024-01-01T00:{sec // 60:02d}:{sec % 60:02d}",
        "user_id": uid,
        "event_type": "view",
        "value": value,
        "props": "{}",
    }


def _write_chunks(tmp_path, chunks):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(chunks):
        with open(in_dir / f"c{i}.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        time.sleep(1.1)  # file-source orders micro-batches by mtime
    return str(in_dir)


def _last_per_user(rows):
    out = {}
    for r in rows:  # update mode: keep the LAST emission per key
        out[r["user_id"]] = (r["n_recent"], r["median_value"])
    return out


def test_rolling_median_stream_matches_batch_with_displacement(
    rocksdb_spark, tmp_path
):
    """User 1 sees 10 values across two micro-batches (3 displaced out
    of the 7-row window — including an early outlier the median must
    forget); user 2 stays under the window. Final per-key emission
    must equal the batch last-N rule over ALL input."""
    spark = rocksdb_spark
    b1 = [_event(i, 10 + i, 1, 1000.0 if i == 0 else float(i)) for i in range(6)]
    b1 += [_event(100, 5, 2, 42.0)]
    b2 = [_event(6 + i, 30 + i, 1, 10.0 + i) for i in range(4)]
    b2 += [_event(101, 50, 2, 44.0)]
    in_dir = _write_chunks(tmp_path, [b1, b2])

    streamed = _last_per_user(
        run_stream_to_memory(
            rolling_median_stream(
                read_event_stream(spark, in_dir, max_files_per_trigger=1)
            ),
            output_mode="update",
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    )
    batched = _last_per_user(
        [
            r.asDict()
            for r in rolling_median_batch(
                spark.read.schema(EVENT_SCHEMA).json(in_dir)
            ).collect()
        ]
    )
    assert streamed == batched
    # displacement happened: user 1 holds exactly WINDOW_N of 10 rows,
    # and the batch-1 outlier (1000.0) was pruned out of the median
    n1, med1 = streamed[1]
    assert n1 == WINDOW_N
    assert med1 == 10.0  # sorted kept values [3,4,5,10,11,12,13] -> idx 3
    assert streamed[2] == (2, 42.0)  # lower median of [42.0, 44.0]


def test_rolling_median_single_batch_partial_window(rocksdb_spark, tmp_path):
    """Under-full window: median over however many values exist."""
    spark = rocksdb_spark
    rows = [_event(i, 10 + i, 7, float(v)) for i, v in enumerate([9, 1, 5])]
    in_dir = _write_chunks(tmp_path, [rows])
    streamed = _last_per_user(
        run_stream_to_memory(
            rolling_median_stream(read_event_stream(spark, in_dir)),
            output_mode="update",
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    )
    assert streamed == {7: (3, 5.0)}
