"""Streaming near-dup gate (IncrementalDedupIngest): per-batch
screening against the persisted band index (cross-batch dupes caught
through index GROWTH), in-batch duplicates resolved to the min id,
one verdict per arrival, idempotent replay, checkpoint restart, the
file-drip streaming path, and agreement with the batch operator."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from in_stream_processing_course_spark.operators.dedup import (
    minhash_bands,
    minhash_index_matches,
)
from in_stream_processing_course_spark.streaming.ingest_dedup import (
    IncrementalDedupIngest,
)
from in_stream_processing_course_spark.streaming.runner import (
    run_stream_foreach_batch,
)

_DOCS_B0 = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six seven"),
    (3, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1 (in-batch)
    (4, "red orange yellow green blue indigo violet"),
]
_DOCS_B1 = [
    (11, "alpha beta gamma delta epsilon zeta"),  # dup of corpus doc 1
    (12, "totally fresh content never seen before anywhere"),
    (13, "one two three four five six seven"),  # dup of corpus doc 2
]

_CORPUS_TEXT = "the quick brown fox jumps over the lazy dog again and again"
_NOVEL_TEXT = "entirely different content about spark structured streaming"
_NOVEL2_TEXT = "a third unrelated passage concerning byte pair encoding"


def _make(tmp_path, id_col="doc_id"):
    return IncrementalDedupIngest(
        index_path=str(tmp_path / "index"),
        admitted_path=str(tmp_path / "admitted"),
        quarantine_path=str(tmp_path / "quarantine"),
        id_col=id_col,
    )


def _write_chunk(in_dir, name, rows, mtime=None):
    """One JSON-lines file; ``mtime`` pins the file source's order."""
    path = in_dir / name
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _quarantined(spark, ingest, id_col="doc_id"):
    return {
        r[id_col]: r["matched_doc_id"]
        for r in ingest.quarantined(spark).collect()
    }


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_screens_and_grows_index(spark, tmp_path):
    ingest = _make(tmp_path)
    ingest(_df(spark, _DOCS_B0), 0)
    admitted0 = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    # in-batch exact dup 3 defers to 1; everything else novel
    assert admitted0 == {1, 2, 4}
    ingest(_df(spark, _DOCS_B1), 1)
    admitted = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    assert admitted == {1, 2, 4, 12}
    # in-batch dup 3 is quarantined against 1, not dropped
    assert _quarantined(spark, ingest) == {3: 1, 11: 1, 13: 2}
    # index holds bands only for admitted docs
    index_ids = {r["doc_id"] for r in ingest.index(spark).collect()}
    assert index_ids == {1, 2, 4, 12}


def test_ingest_replay_is_idempotent(spark, tmp_path):
    ingest = _make(tmp_path)
    ingest(_df(spark, _DOCS_B0), 0)
    ingest(_df(spark, _DOCS_B1), 1)
    before = (
        ingest.admitted(spark).count(),
        ingest.quarantined(spark).count(),
        ingest.index(spark).count(),
    )
    # checkpoint-recovery replay of the same micro-batch: dynamic
    # partition overwrite replaces batch_id=1, never double-appends
    ingest(_df(spark, _DOCS_B1), 1)
    after = (
        ingest.admitted(spark).count(),
        ingest.quarantined(spark).count(),
        ingest.index(spark).count(),
    )
    assert before == after


def test_ingest_survives_an_empty_batch(spark, tmp_path):
    """An empty micro-batch (say, an empty input file) leaves index
    partitions without data files; the next batch must still read the
    index instead of failing schema inference on every retry."""
    ingest = _make(tmp_path)
    ingest(_df(spark, []), 0)
    ingest(_df(spark, _DOCS_B0), 1)
    assert {r["doc_id"] for r in ingest.admitted(spark).collect()} == {1, 2, 4}


def test_ingest_streaming_file_drip(spark, tmp_path):
    """The real wiring: readStream file source -> foreachBatch ingest,
    one file per trigger — same outcomes as the direct-call path."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # the file source orders by modification time — pin distinct mtimes
    # so b0 is provably the first micro-batch
    now = time.time()
    _write_chunk(in_dir, "b0.json", _DOCS_B0, mtime=now - 60)
    _write_chunk(in_dir, "b1.json", _DOCS_B1, mtime=now - 30)
    ingest = _make(tmp_path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    run_stream_foreach_batch(
        stream, ingest, "append", checkpoint_dir=str(tmp_path / "ckpt")
    )
    admitted = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    quarantined = {r["doc_id"] for r in ingest.quarantined(spark).collect()}
    # file order is lexicographic, so b0 lands first; outcomes match
    # the direct-call tests
    assert admitted == {1, 2, 4, 12}
    assert quarantined == {3, 11, 13}
    novel_flags = ingest.admitted(spark).select("doc_id").distinct().count()
    assert novel_flags == 4


def test_ingest_within_batch_near_dup_defers_to_min_id(spark, tmp_path):
    """Two identical texts arriving in ONE batch: only the min id
    survives (greedy representative), even with an empty index."""
    ingest = _make(tmp_path)
    rows = [
        (7, "same words in the same order here"),
        (9, "same words in the same order here"),
        (8, "different words entirely for this one"),
    ]
    ingest(_df(spark, rows), 0)
    admitted = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    assert admitted == {7, 8}
    assert _quarantined(spark, ingest) == {9: 7}


def test_ingest_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """T6/T8 for the ingest op: stop after batch 0, drop a new file,
    restart on the SAME checkpoint — only the new file is processed
    (the b0 docs are not re-screened; index partitions stay 0 and 1)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ingest = _make(tmp_path)
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return spark.readStream.schema("doc_id long, text string").json(
            str(in_dir)
        )

    _write_chunk(in_dir, "b0.json", _DOCS_B0)
    run_stream_foreach_batch(stream(), ingest, "append", checkpoint_dir=ckpt)
    assert {r["doc_id"] for r in ingest.admitted(spark).collect()} == {1, 2, 4}

    _write_chunk(in_dir, "b1.json", _DOCS_B1)
    run_stream_foreach_batch(stream(), ingest, "append", checkpoint_dir=ckpt)
    admitted = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    assert admitted == {1, 2, 4, 12}
    assert _quarantined(spark, ingest) == {3: 1, 11: 1, 13: 2}
    # index accreted exactly one partition per micro-batch
    parts = {
        d for d in os.listdir(tmp_path / "index") if d.startswith("batch_id=")
    }
    assert parts == {"batch_id=0", "batch_id=1"}


def test_ingest_gives_every_arrival_one_verdict(spark, tmp_path):
    """admitted and quarantined partition the arrivals: no doc is in
    both, and none is dropped (an in-batch dup must be quarantined,
    not silently collapsed away)."""
    ingest = _make(tmp_path)
    ingest(_df(spark, _DOCS_B0), 0)
    ingest(_df(spark, _DOCS_B1), 1)
    admitted = {r["doc_id"] for r in ingest.admitted(spark).collect()}
    quarantined = set(_quarantined(spark, ingest))
    assert admitted & quarantined == set()
    assert admitted | quarantined == {d for d, _ in _DOCS_B0 + _DOCS_B1}


def test_ingest_drip_seeded_corpus_grows_and_restarts(spark, tmp_path):
    """Seed a corpus as batch -1, then drip: corpus dupes, in-batch
    min id, a dup caught only through index GROWTH, a same-checkpoint
    restart that screens only the new file, and agreement with the
    batch operator on the final index."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ingest = _make(tmp_path)
    ingest(_df(spark, [(1, _CORPUS_TEXT)]), -1)

    now = time.time()
    # batch 0: 10 = dup of corpus, 11+12 = in-batch dup pair (novel to
    # the index), 13 = novel singleton
    _write_chunk(
        in_dir,
        "c0.json",
        [(10, _CORPUS_TEXT), (11, _NOVEL_TEXT), (12, _NOVEL_TEXT), (13, _NOVEL2_TEXT)],
        mtime=now - 60,
    )
    # batch 1: 20 = dup of batch-0 NOVEL doc 11 (only catchable if the
    # index grew), 21 = dup of corpus
    _write_chunk(
        in_dir, "c1.json", [(20, _NOVEL_TEXT), (21, _CORPUS_TEXT)], mtime=now - 30
    )

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )

    run_stream_foreach_batch(stream(), ingest, "append", checkpoint_dir=ckpt)
    assert _quarantined(spark, ingest) == {10: 1, 12: 11, 20: 11, 21: 1}
    index_ids = {r["doc_id"] for r in ingest.index(spark).collect()}
    assert index_ids == {1, 11, 13}

    # restart on the SAME checkpoint with a third file: 30 dups anchor
    # 11 (20 was not novel), 31 dups the other anchor 13
    _write_chunk(in_dir, "c2.json", [(30, _NOVEL_TEXT), (31, _NOVEL2_TEXT)])
    run_stream_foreach_batch(
        stream(), _make(tmp_path), "append", checkpoint_dir=ckpt
    )
    quarantined = _quarantined(spark, ingest)
    assert quarantined == {10: 1, 12: 11, 20: 11, 21: 1, 30: 11, 31: 13}
    stream_ids = {
        r["doc_id"]
        for df in (ingest.admitted(spark), ingest.quarantined(spark))
        for r in df.where("batch_id >= 0").select("doc_id").collect()
    }
    assert len(stream_ids) == 8  # no re-screening of committed batches

    # batch-operator agreement: probing every quarantined arrival
    # against the FINAL grown index reproduces its streamed match
    arrivals = spark.read.schema("doc_id long, text string").json(str(in_dir))
    probe = minhash_bands(arrivals.where(F.col("doc_id").isin(list(quarantined))))
    batch_verdict = {
        r["doc_id"]: r["matched_doc_id"]
        for r in minhash_index_matches(ingest.index(spark), probe).collect()
    }
    assert batch_verdict == quarantined


def test_ingest_honors_custom_id_col(spark, tmp_path):
    """The index screen keys on id_col: a vec_id-keyed index must catch
    a corpus duplicate, not read as all-NULL ids and admit it."""
    ingest = _make(tmp_path, id_col="vec_id")
    schema = "vec_id long, text string"
    ingest(spark.createDataFrame([(1, _CORPUS_TEXT)], schema), -1)
    ingest(spark.createDataFrame([(10, _CORPUS_TEXT), (11, _NOVEL_TEXT)], schema), 0)
    admitted = {r["vec_id"] for r in ingest.admitted(spark).collect()}
    assert admitted == {1, 11}
    assert _quarantined(spark, ingest, "vec_id") == {10: 1}


def test_ingest_honors_non_long_id_type(spark, tmp_path):
    """String ids: matched_doc_id follows the id column's type, so a
    string-keyed index still catches duplicates, in-batch dups resolve
    to the min string id, and the grown index keeps string ids."""
    ingest = _make(tmp_path)
    schema = "doc_id string, text string"
    ingest(spark.createDataFrame([("corpus-001", _CORPUS_TEXT)], schema), -1)
    rows = [
        ("arrival-b", _CORPUS_TEXT),  # dup of corpus
        ("arrival-c", _NOVEL_TEXT),  # novel anchor
        ("arrival-d", _NOVEL_TEXT),  # in-batch dup -> min string id
    ]
    ingest(spark.createDataFrame(rows, schema), 0)
    assert _quarantined(spark, ingest) == {
        "arrival-b": "corpus-001",
        "arrival-d": "arrival-c",
    }
    assert dict(ingest.quarantined(spark).dtypes)["matched_doc_id"] == "string"
    index_ids = {r["doc_id"] for r in ingest.index(spark).collect()}
    assert index_ids == {"corpus-001", "arrival-c"}
