#!/usr/bin/env python
"""Per-query profiling for the optimization rounds (guide §1).

For each named query: time the DataFrame CONSTRUCTION (driver-side py4j
plan building — invisible to stage metrics but real wall time) separately
from the noop-sink EXECUTION (min over --reps), and optionally dump
`.explain('formatted')` to plans/r14/<query>_<tag>.txt so plan claims are
checkable without running Spark.

Usage:
  python tools/profile_queries.py [--sf DIR] [--reps N] [--dump TAG] q1 q2 ...
  python tools/profile_queries.py --headline --dump before
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from in_stream_processing_course_spark.plans.registry import QUERIES
from in_stream_processing_course_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--dump", default=None,
                    help="write plans/r13/<q>_<TAG>.txt explain files")
    ap.add_argument("--headline", action="store_true")
    args = ap.parse_args()
    names = list(args.queries) + (HEADLINE if args.headline else [])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "profile-queries", master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) // 2, 8)),
    )
    # same warmup as bench.py so numbers are comparable
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    for warm in ("bot_stats_sliding", "dedup_minhash_candidates",
                 "dedup_simhash_candidates"):
        if warm in QUERIES:
            try:
                QUERIES[warm](spark, "/root/testdata/sf0.001").write.format(
                    "noop").mode("overwrite").save()
            except Exception:
                pass
    dump_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r14")
    if args.dump:
        os.makedirs(dump_dir, exist_ok=True)
    print(f"{'query':42s} {'build_s':>8s} {'exec_min':>9s} {'execs'}")
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        build = time.perf_counter() - t0
        execs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            # fresh construction per rep only for iterative queries that
            # execute during construction; plain queries reuse df
            df.write.format("noop").mode("overwrite").save()
            execs.append(round(time.perf_counter() - t0, 3))
        if args.dump:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(dump_dir, f"{name}_{args.dump}.txt"),
                      "w") as f:
                f.write(buf.getvalue())
        print(f"{name:42s} {build:8.3f} {min(execs):9.3f} {execs}")
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
