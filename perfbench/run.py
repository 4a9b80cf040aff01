"""Benchmark entry point:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``batch_headline``, ``stream_stateful`` (both gated in
BENCHMARK.json) and ``stream_windowed`` (same harness, run by hand).
``--size smoke`` shrinks the stream drip for the smoke test (the batch
tables are the sf0.001 fixtures either way).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. Everything the run writes stays under
``.perfbench/`` in the repository root (the parent of this directory);
the spans of a traced run are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are fewer than 11."""
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100
    return ordered[n - 11], math.floor(100 * (n - 10) / n)


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "smoke"), default="full")
    args = parser.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "in_stream_processing_course_spark")):
        print(f"perfbench: no package under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers read PYTHONPATH from the JVM's environment, so the
    # package must be on it before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path[1:1] = [root, os.path.join(root, "tests")]

    import workloads

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    bench = workloads.Bench(args.seed, args.seconds, bool(args.trace), args.size, work)
    try:
        out = workloads.WORKLOADS[args.workload](bench)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    if not out.ops or "pass_wall_s" not in out.e2e:
        print("perfbench: no pass completed; no result", file=sys.stderr)
        return 1
    tail_s, tail_pct = tail(out.ops)
    out.layers.update({"op.tail_s": tail_s, "op.tail_pct": tail_pct, "op.samples": len(out.ops)})
    if args.trace:
        traces = os.path.join(root, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"conf": out.conf, "layers": out.layers,
                       "spans": [s.__dict__ for s in out.spans.spans]}, f)

    print(f"perfbench: workload={args.workload} seed={args.seed} nproc={out.conf['nproc']} "
          f"conf={json.dumps(out.conf, sort_keys=True)}")
    print("perfbench: " + " | ".join(
        [f"{k}={v:.6g}" for k, v in out.e2e.items()]
        + [f"op_tail_s={tail_s:.6g} (p{tail_pct} of {len(out.ops)} samples)",
           f"error_rate={out.failed / max(out.attempted, 1):.4g} "
           f"({out.failed}/{out.attempted}), output checks run: {out.checks}"]))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    values = out.layers if args.trace else out.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({
        "correct": out.failed == 0 and out.checks > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
