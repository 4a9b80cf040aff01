from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

# transformWithStateInPandas (streaming/recent_items.py,
# streaming/rolling_median.py) needs a runtime google.protobuf; compat
# exposes the pure-Python copy bundled with the Google Cloud SDK when
# the real package is absent. Must run at conftest import time, before
# the JVM starts, so Spark's Python workers inherit the PYTHONPATH. On
# hosts with neither, those operators' tests keep their importorskip.
from in_stream_processing_course_spark.compat import (  # noqa: E402
    ensure_protobuf_fallback,
)

ensure_protobuf_fallback()

from in_stream_processing_course_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("isp-course-spark-tests", shuffle_partitions="8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def drip_json_chunks(tmp_path, chunks) -> str:
    """Write each chunk (a list of row dicts) as one JSON-lines file,
    sleeping between files so the file stream source orders
    micro-batches by mtime. Shared by the streaming equivalence tests.
    """
    import json
    import time

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, chunk in enumerate(chunks):
        with open(in_dir / f"c{i}.json", "w") as f:
            for row in chunk:
                f.write(json.dumps(row) + "\n")
        time.sleep(1.1)
    return str(in_dir)


@pytest.fixture()
def rocksdb_spark(spark):
    """Session with the RocksDB state store provider (required by every
    transformWithStateInPandas operator); restores the prior provider on
    teardown. Shared by the transformWithState test files."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocksdb)
    yield spark
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)
