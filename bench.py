#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation,
no driver collect) — measures engine throughput, not py4j transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

from in_stream_processing_course_spark.plans.registry import QUERIES
from in_stream_processing_course_spark.session import get_spark

HEADLINE = [
    "bot_stats_sliding",
    "bot_stats_two_level",
    "bot_classified_totals",
    "bot_verdicts",
    "sessionize_events",
    "hourly_event_counts",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume",
    "window_running_revenue",
    "dedup_events_exact",
    "dedup_minhash_candidates",
    "dedup_simhash_candidates",
    "knn_brute_force",
    "text_metrics",
]

# round-3 incremental-maintenance family — reported as a separate
# metric so the 16-query headline total stays comparable across rounds
INCREMENTAL_FAMILY = [
    "scd2_user_type",
    "incremental_daily_rollup",
    "merge_user_profiles",
    "view_click_interval_join",
    "temporal_join_events_dim",
    "profile_change_feed",
]

# round-5 retrieval family (BM25 / hybrid RRF / MMR + the new
# analytics pair) — separate metric, same comparability rule
RETRIEVAL_FAMILY = [
    "retrieval_bm25_topk",
    "retrieval_hybrid_rrf",
    "retrieval_mmr_diversified",
    "parts_skyline_per_brand",
    "events_twap_per_user",
]

# round-5 corpus-LM + sketch family — separate metric, same rule
# (lm_outlier_docs shares lm_doc_scores' whole pipeline, so only the
# score query is timed)
LM_FAMILY = [
    "lm_bigram_model",
    "lm_doc_scores",
    "lm_oov_rate",
    "events_heavy_hitters",
]

# round-5 clustering + tokenizer family — the corpus-sized passes only
# (the iterative fit/merge loops are driver-paced job sequences whose
# wall time measures scheduling overhead at this SF, not engine
# throughput; their per-round cost IS these passes)
CLUSTERING_FAMILY = [
    "embedding_kmeans_assign",
    "bpe_pair_counts",
    "lm_quality_buckets",
]

# round-6 family: BPE encode (ENCODE-ONLY since r8 — training is
# pre-warmed into the session merge cache and timed separately as
# bpe_train_wall_sec), windowed TWAP, broadcastable LM scoring,
# isolated Lloyd's update
R6_FAMILY = [
    "bpe_encoded_token_counts",
    "events_twap_per_user_windowed",
    "lm_doc_scores_thresholded",
    "embedding_kmeans_update",
    "events_cm_user_counts",
    "bpe_lang_fertility",
]


def _drip_workload(tmp_root: str) -> tuple[str, int]:
    """Generate the 8-file botgen drip shared by the streaming benches."""
    import os as _os

    from in_stream_processing_course_spark.sources import generator as gen

    in_dir = _os.path.join(tmp_root, "in")
    n_files, duration = 8, 240
    actions = gen.botgen_workload(
        n_bots=50, n_users=5000, user_freq=500, duration_sec=duration
    )
    slice_sec = max(1, duration // n_files)
    buckets: list[list] = [[] for _ in range(n_files)]
    for a in actions:
        buckets[min(a.time // slice_sec, n_files - 1)].append(a)
    for i, b in enumerate(buckets):
        gen.write_json_lines(b, _os.path.join(in_dir, f"part-{i:04d}.json"))
    return in_dir, len(actions)


def bench_windowed_stream(spark) -> tuple[int, float]:
    """Structured windowed path throughput (A1: watermark + sliding
    window + verdict filter — all JVM-side streaming aggregation).
    The contrast line for the Python state path: same drip, native
    state store, no Arrow round-trip."""
    import shutil
    import tempfile

    from in_stream_processing_course_spark.sources.stream import (
        read_action_stream,
    )
    from in_stream_processing_course_spark.streaming.pipeline import (
        windowed_bot_stream,
    )
    from in_stream_processing_course_spark.streaming.runner import (
        await_drained,
    )

    root = tempfile.mkdtemp(prefix="bench_win_")
    in_dir, n_rows = _drip_workload(root)
    verdicts = windowed_bot_stream(
        read_action_stream(spark, in_dir, max_files_per_trigger=1)
    )
    start = time.perf_counter()
    query = (
        verdicts.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(query, timeout_sec=600)
    elapsed = time.perf_counter() - start
    shutil.rmtree(root, ignore_errors=True)
    return n_rows, elapsed


def bench_calibration(spark) -> float:
    """Fixed-work host-speed probe (r13, VERDICT r12 next-round #3):
    a deterministic shuffle+agg whose input is GENERATED (spark.range —
    no parquet, no sf dependence) and whose work is pinned (16M rows,
    xxhash64, 1M-key hash aggregate), timed min-of-3 like the headline
    queries. The probe's wall moves with host speed/contention only —
    never with repo code — so round-over-round headline comparisons
    can divide out the host band arithmetically instead of
    adjudicating it by narrative (r10 −41% streaming read, r11 +11%
    headline, r12 run-3 drift were all host noise). Reported as
    ``calib_wall_sec``; compare headline/calib across rounds."""
    from pyspark.sql import functions as F

    probe = (
        spark.range(0, 16_000_000, 1, 32)
        .select(
            (F.col("id") % 1_000_000).alias("k"),
            # modulo keeps the ANSI-mode sum inside long range
            (F.xxhash64("id") % 1_000_000).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    walls = []
    for _ in range(3):
        start = time.perf_counter()
        probe.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - start)
    return round(min(walls), 3)


def bench_stateful_stream(spark) -> tuple[int, float]:
    """T3 state-path throughput (VERDICT r2 item 5): drip a generated
    botgen workload through the file source in 8 micro-batches
    (maxFilesPerTrigger=1, availableNow) -> applyInPandasWithState
    trailing-history verdicts -> noop sink. Returns (input rows, wall
    sec). Measures the state store merge + Arrow round-trip per batch —
    the path bench.py's batch queries never touch. Setup (python-side
    workload generation + JSON writes) happens outside the timer.

    Sizing note: per-batch wall is dominated by fixed state-store
    commit overhead per partition (every partition snapshots every
    batch), so state shuffle partitions should track key cardinality,
    not core count — measured 32 -> 8 partitions on this 5k-key
    workload is ~6% wall; at 100 TB with RocksDB the same rule holds
    with much bigger constants.
    """
    import shutil
    import tempfile

    from in_stream_processing_course_spark.sources.stream import (
        read_action_stream,
    )
    from in_stream_processing_course_spark.streaming.pipeline import (
        stateful_bot_stream,
    )
    from in_stream_processing_course_spark.streaming.runner import (
        await_drained,
    )

    root = tempfile.mkdtemp(prefix="bench_state_")
    in_dir, n_rows = _drip_workload(root)
    stream = read_action_stream(spark, in_dir, max_files_per_trigger=1)
    verdicts = stateful_bot_stream(stream)
    start = time.perf_counter()
    query = (
        verdicts.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(query, timeout_sec=600)
    elapsed = time.perf_counter() - start
    shutil.rmtree(root, ignore_errors=True)
    return n_rows, elapsed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # shuffle partitions track DATA size, not core count: at sf0.1 a
    # 32-partition shuffle stage is dominated by task scheduling (the
    # per-partition payload is KBs), and cores stay busy anyway because
    # consecutive stages pipeline. Measured on the five slowest headline
    # queries: 32 -> 16 partitions is -20% wall at sf0.1. At 100 TB the
    # same rule gives the documented 8000-partition submit conf — the
    # constant scales with bytes-per-partition, never with local cores.
    spark = get_spark(
        "isp-course-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) // 2, 8)),
    )
    # warm the JVM + parquet footers + codegen/agg paths on the tiny SF
    # so per-query numbers measure the queries, not first-call JIT
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    warm_sf = "/root/testdata/sf0.001"
    for warm_query in (
        "bot_stats_sliding",
        "dedup_minhash_candidates",
        "dedup_simhash_candidates",
    ):
        try:
            QUERIES[warm_query](spark, warm_sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # three timed passes per query, keep the min: absorbs host-load
    # noise and leftover JIT warmup (observed 1.5x run-to-run swings on
    # the same code, and whole-run inflation when sibling containers
    # compete for the host); the min is the engine's capability, the
    # thing being benchmarked.
    #
    # r14 (VERDICT r13 next-round #1): each rep is additionally split
    # into plan CONSTRUCTION (driver-side py4j/Catalyst work up to the
    # DataFrame handle) and EXECUTION (the noop-sink action). The
    # headline `queries` values are UNCHANGED in methodology — still
    # min over reps of the full build+exec window, same work inside the
    # timer as every prior round — the split is reported alongside
    # (queries_build / queries_exec, min over reps of each part) so the
    # driver's 8-vs-32-core scaling check can compare exec-only walls:
    # at sf0.1 the build part is fixed driver cost that never scales
    # with cores, which is what made every total-wall ratio read ~1.
    timings: dict[str, float] = {}
    build_timings: dict[str, float] = {}
    exec_timings: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            fn = QUERIES[name]
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            built = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            done = time.perf_counter()
            elapsed = round(done - start, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
            build_sec = round(built - start, 3)
            exec_sec = round(done - built, 3)
            if name not in build_timings or build_sec < build_timings[name]:
                build_timings[name] = build_sec
            if name not in exec_timings or exec_sec < exec_timings[name]:
                exec_timings[name] = exec_sec

    total = round(sum(timings.values()), 3)
    # incremental-maintenance family: timed separately so the headline
    # total stays comparable round-over-round (same 16 queries since
    # r1); one timed pass after a warm pass — these queries share all
    # scan/codegen paths with the headline set
    def _time_family(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = QUERIES[name]
            for _ in range(2):
                start = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                elapsed = round(time.perf_counter() - start, 3)
                if name not in out or elapsed < out[name]:
                    out[name] = elapsed
        return out

    incr_timings = _time_family(INCREMENTAL_FAMILY)
    retr_timings = _time_family(RETRIEVAL_FAMILY)
    lm_timings = _time_family(LM_FAMILY)
    cluster_timings = _time_family(CLUSTERING_FAMILY)
    # isolate tokenizer TRAINING from the encode-only queries (VERDICT
    # r6 wrong #2 / r7 next-round #7): train once here, timed, so the
    # r6-family bpe_* numbers below hit the session merge cache and
    # measure ENCODE — the deploy-time cost that should trend
    # round-over-round — while training gets its own stable figure
    from in_stream_processing_course_spark.plans import (
        tokenizer_queries as _tkq,
    )

    # warm the vocab cache OUTSIDE the timed window: on first touch the
    # cached vocab runs the corpus-sized word-count pass (its
    # checkpoint), which is corpus preparation, not merge learning
    # (ADVICE r8: it used to land inside train_start)
    vocab_start = time.perf_counter()
    _warm_vocab = _tkq._corpus_vocab_cached(spark, sf_dir)
    bpe_vocab_sec = round(time.perf_counter() - vocab_start, 3)
    train_start = time.perf_counter()
    # pass the (now warm) cached vocab so the figure is TRAINING-only —
    # just the merge-learning rounds (review r8)
    _tkq._learned_merges(spark, sf_dir, vocab=_warm_vocab)
    bpe_train_sec = round(time.perf_counter() - train_start, 3)
    r6_timings = _time_family(R6_FAMILY)
    state_rows, state_sec = bench_stateful_stream(spark)
    win_rows, win_sec = bench_windowed_stream(spark)
    calib_sec = bench_calibration(spark)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    metrics = {
                "metric": "headline_queries_total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # r14 scaling contract (VERDICT r13 #1): effective core
                # count + parallelism the session actually ran with, and
                # the per-query build/exec split — exec_sec is the
                # engine wall the 8-vs-32-core ratio should be read
                # from; build_sec is driver-side plan construction that
                # is core-count-invariant by nature.
                "cpus": int(cpus),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "queries_build": build_timings,
                "queries_exec": exec_timings,
                "sf": float(sf),
                "stateful_pipeline_rows": state_rows,
                "stateful_pipeline_wall_sec": round(state_sec, 3),
                "stateful_pipeline_rows_per_sec": round(state_rows / state_sec),
                "windowed_pipeline_rows_per_sec": round(win_rows / win_sec),
                "incremental_family_wall_sec": round(
                    sum(incr_timings.values()), 3
                ),
                "incremental_queries": incr_timings,
                "retrieval_family_wall_sec": round(
                    sum(retr_timings.values()), 3
                ),
                "retrieval_queries": retr_timings,
                "lm_family_wall_sec": round(sum(lm_timings.values()), 3),
                "lm_queries": lm_timings,
                "clustering_family_wall_sec": round(
                    sum(cluster_timings.values()), 3
                ),
                "clustering_queries": cluster_timings,
                "r6_family_wall_sec": round(sum(r6_timings.values()), 3),
                "r6_queries": r6_timings,
                "bpe_train_wall_sec": bpe_train_sec,
                "bpe_vocab_prep_wall_sec": bpe_vocab_sec,
                # fixed-work host-speed probe: divide headline walls by
                # (calib_this_round / calib_other_round) before calling
                # a cross-round delta a regression
                "calib_wall_sec": calib_sec,
            }
    line = json.dumps(metrics)
    # the metric line must be UN-LOSABLE (round 5 shipped parsed=null
    # because spark.stop()'s v2-state-server teardown stack traces
    # buried the single print in the driver's 2000-char combined tail):
    # (a) persist it to a file next to this script, (b) print it once
    # now, (c) quiet the JVM logger for teardown, and (d) re-print it
    # as the FINAL line after spark.stop() inside try/finally so the
    # tail capture always ends with the metric JSON.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_METRICS.json"),
        "w",
    ) as f:
        f.write(line + "\n")
    print(line)
    sys.stdout.flush()
    try:
        # log4j ERRORs (aborted noop-sink commits, state-server
        # interrupts) are expected teardown noise, not signal
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    finally:
        print(line)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
