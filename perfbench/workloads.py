"""The benchmark's workloads, driven through the package's public entry
points from one Spark driver process on ``local[<threads>]``.

Every workload is a closed loop with one query or stream at a time:

- set-up: session start, seeded input generation (stream workloads),
  a cold pass and ``WARMUP_DRAINS`` warm drains (stream workloads);
  together ``setup_s``;
- timed passes until their walls add up to ``--seconds`` (at least
  ``MIN_PASSES`` of the workload);
- output checks, outside every timed window.

A pass, an operation that raised, timed out or failed its output check
counts as failed, and its wall is never recorded.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import inputs
from spans import ExecCounts, JobCounter, Tracer, jvm_peak_rss_mb, median, wrap_call

from in_stream_processing_course_spark.session import get_spark

# Passes keep getting faster for three or four passes after the cold
# one while the JIT compiles (it keeps two or three cores busy) and the
# Python workers and state store warm up: on 4 cores batch passes take
# about 26, 11, 8.5, 8 then 7 s, drains about 13, 5, 5, 4.5 then 4 s.
# Set-up runs the cold pass and, for the stream workloads, this many
# warm drains; the run budget holds no more batch passes.
WARMUP_DRAINS = 3
# Timed passes per run, at least. The median of three drains is one of
# them, so a drain slowed by the host does not move it.
MIN_PASSES = {"batch": 2, "stream": 3}
DRAIN_TIMEOUT_S = 120
NPROC = len(os.sched_getaffinity(0))
DRIP = {
    "full": inputs.DripSize(n_users=400, n_bots=20, user_freq=30, duration_sec=120, n_files=2),
    "smoke": inputs.DripSize(n_users=40, n_bots=4, user_freq=5, duration_sec=120, n_files=2),
}
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
# StreamingQueryProgress.durationMs phase -> per-layer metric
TRIGGER_PHASES = {
    "latestOffset": "source.latest_offset_ms",
    "getBatch": "source.get_batch_ms",
    "queryPlanning": "stream.planning_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}
# stateOperators field (summed over the query's stateful operators) -> metric
STATE_FIELDS = {
    "numRowsTotal": "state.rows_total",
    "numRowsUpdated": "state.rows_updated",
    "numRowsRemoved": "state.rows_removed",
    "memoryUsedBytes": "state.memory_bytes",
    "commitTimeMs": "state.commit_ms",
    "allUpdatesTimeMs": "state.updates_ms",
    "allRemovalsTimeMs": "state.removals_ms",
    "numRowsDroppedByWatermark": "state.dropped_by_watermark",
}


@dataclass
class Outcome:
    """What one run measured; ``run.py`` turns it into the result line."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    ops: list[float] = field(default_factory=list)  # untraced per-operation latencies
    attempted: int = 0
    failed: int = 0
    checks: int = 0  # output checks that ran
    conf: dict[str, str] = field(default_factory=dict)
    spans: Tracer | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class Bench:
    """State shared by the workloads of one process."""

    def __init__(self, seed: int, seconds: float, trace: bool, size: str, work: str):
        self.seed, self.seconds, self.size, self.work = seed, seconds, size, work
        self.tracer = Tracer(trace)
        self.out = Outcome(spans=self.tracer)
        self.spark = None
        self.counter: JobCounter | None = None

    # -- set-up -------------------------------------------------------------

    def start_session(self, threads: int, shuffle_partitions: int) -> float:
        with self.tracer.span("session"):
            start = time.perf_counter()
            self.spark = get_spark(
                "perfbench",
                master=f"local[{threads}]",
                shuffle_partitions=str(shuffle_partitions),
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            elapsed = time.perf_counter() - start
        self.spark.sparkContext.setLogLevel("ERROR")
        self.out.layers["session.start_s"] = elapsed
        self.out.conf = {"nproc": str(NPROC), **dict(self.spark.sparkContext.getConf().getAll())}
        if self.tracer.enabled:
            self.counter = JobCounter(self.spark)
        return elapsed


    def measure(self, one_pass, min_passes: int) -> dict[bool, list[float]]:
        """Closed loop of timed passes until their walls add up to
        ``seconds`` (a failed pass counts with its elapsed time), and at
        least ``min_passes``. The time between walls (stopping a stream,
        which waits out its in-flight no-data batch, and checking its
        sink) does not count. Traced runs follow the slow first pass
        with traced and untraced passes in palindromic order (U, then
        U T T U ..., at least five passes), so that the warm-up drift of
        later passes cancels out of ``trace.overhead_frac``.
        ``one_pass(i, traced)`` returns the pass wall, or None when the
        pass failed."""
        walls: dict[bool, list[float]] = {False: [], True: []}
        measured, i = 0.0, 0
        while True:
            traced = self.tracer.enabled and i % 4 in (2, 3)
            self.tracer.run_id = f"pass-{i}"
            if traced:
                self.counter.take()  # jobs since the last take are not this pass's
            began = time.perf_counter()
            wall = one_pass(i, traced)
            elapsed = time.perf_counter() - began
            if wall is not None:
                walls[traced].append(wall)
                print(f"perfbench: pass {i} wall {wall:.3f} s of {elapsed:.3f} s"
                      f"{' (traced)' * traced}", file=sys.stderr, flush=True)
            measured += elapsed if wall is None else wall
            i += 1
            if measured >= self.seconds and i >= (5 if self.tracer.enabled else min_passes):
                return walls

    def finish(self, setup_s: float, walls: dict[bool, list[float]], op_p50_s: float) -> Outcome:
        out = self.out
        out.e2e["setup_s"] = setup_s
        if walls[False]:
            out.e2e["pass_wall_s"] = median(walls[False])
            out.e2e["op_p50_s"] = op_p50_s
        if self.tracer.enabled:
            if walls[False][1:] and walls[True]:
                # means over the palindrome cancel a linear drift; the
                # slow first pass is left out
                untraced = statistics.fmean(walls[False][1:])
                out.layers["trace.overhead_frac"] = statistics.fmean(walls[True]) / untraced - 1
            from bench import bench_calibration

            out.layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
            out.layers["host.calib_s"] = bench_calibration(self.spark)
        return out

    def add_exec(self, per_pass: list[ExecCounts]) -> None:
        for name in EXEC_FIELDS:
            self.out.layers[f"exec.{name}"] = median(getattr(c, name) for c in per_pass)


# -- batch_headline -----------------------------------------------------------


def batch_headline(b: Bench) -> Outcome:
    from bench import HEADLINE
    from oracle_compare import canonical_hash, run_oracle

    from in_stream_processing_course_spark.plans.registry import ORACLES, QUERIES

    # The tables are tiny: task threads on half the cores lose nothing
    # and leave the rest to the JIT and GC threads, which keep two or
    # three cores busy over the first passes.
    # Shuffle partitions follow bench.py's rule (data size, not cores).
    spark_s = b.start_session(threads=max(1, NPROC // 2), shuffle_partitions=max(NPROC // 2, 8))
    sf_dir = inputs.TABLES
    spark, out = b.spark, b.out

    # warm-up: the cold first pass, collected so its outputs can be checked
    results = {}
    start = time.perf_counter()
    with b.tracer.span("warmup"):
        for name in HEADLINE:
            out.attempted += 1
            try:
                df = QUERIES[name](spark, sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                traceback.print_exc()
                out.fail(f"{name}: raised in the warm-up pass")
    setup_s = spark_s + time.perf_counter() - start
    print(f"perfbench: session {spark_s:.3f} s, cold pass {setup_s - spark_s:.3f} s",
          file=sys.stderr)

    per_query: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    query_walls: dict[str, list[float]] = defaultdict(list)  # untraced
    per_pass: list[dict[str, float]] = []
    exec_passes: list[ExecCounts] = []

    def one_pass(i: int, traced: bool) -> float | None:
        ok, start = True, time.perf_counter()
        totals: dict[str, float] = defaultdict(float)
        exec_total = ExecCounts()
        with b.tracer.span("pass"):
            for name in HEADLINE:
                out.attempted += 1
                try:
                    with b.tracer.span(f"plans:{name}"):
                        t0 = time.perf_counter()
                        df = QUERIES[name](spark, sf_dir)
                        t1 = time.perf_counter()
                    built = b.counter.take() if traced else None
                    with b.tracer.span(f"exec:{name}"):
                        t2 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                    ran = b.counter.take() if traced else None
                except Exception:
                    traceback.print_exc()
                    out.fail(f"{name}: raised in pass {i}")
                    ok = False
                    continue
                if not traced:
                    out.ops.append(t1 - t0 + t3 - t2)
                    query_walls[name].append(t1 - t0 + t3 - t2)
                    continue
                q = per_query[name]
                q["build_s"].append(t1 - t0)
                q["exec_s"].append(t3 - t2)
                q["build_jobs"].append(built.jobs)
                totals["plans.build_s"] += t1 - t0
                totals["plans.build_jobs"] += built.jobs
                totals["plans.build_job_s"] += built.job_s
                totals["exec.s"] += t3 - t2
                for f in EXEC_FIELDS:
                    setattr(exec_total, f, getattr(exec_total, f) + getattr(ran, f))
        if traced and ok:
            per_pass.append(totals)
            exec_passes.append(exec_total)
        return time.perf_counter() - start if ok else None

    walls = b.measure(one_pass, MIN_PASSES["batch"])
    for name, (cols, rows) in results.items():
        ocols, orows = run_oracle(ORACLES[name], sf_dir)
        out.checks += 1
        same = (
            sorted(cols) == sorted(ocols)
            and len(rows) == len(orows)
            and canonical_hash(cols, rows) == canonical_hash(ocols, orows)
        )
        if not same:
            out.fail(f"{name}: output differs from its oracle")
    if per_pass:
        for key in per_pass[0]:
            out.layers[key] = median(p[key] for p in per_pass)
        b.add_exec(exec_passes)
        for name, q in per_query.items():
            for key, values in q.items():
                out.layers[f"query.{name}.{key}"] = median(values)
    return b.finish(setup_s, walls, median(median(w) for w in query_walls.values()))


# -- stream_windowed / stream_stateful ----------------------------------------


def _progress_end(p: dict) -> float:
    """Epoch seconds at which a trigger committed."""
    begin = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return begin + p["durationMs"]["triggerExecution"] / 1e3


def _wait_for_data(query, events: int, timeout_s: float) -> None:
    """Return once every input row has been committed (or the query
    stopped or the timeout passed); the runner's no-data tail is not
    waited out."""
    deadline = time.monotonic() + timeout_s
    while query.isActive and time.monotonic() < deadline:
        if sum(p["numInputRows"] for p in query.recentProgress) >= events:
            return
        time.sleep(0.05)


def expected_flagged(spark, drip: inputs.Drip, mode: str) -> set[str]:
    """The stream==batch reference for the sink's flagged-ip set.

    ``structured``: the same windowed transform run as a batch query
    over the same files. ``dstream``: the keyed-history operator's
    per-key state transition (``merge_history`` then
    ``classify_merged``) replayed over the files in trigger order,
    since ``applyInPandasWithState`` has no batch form.
    """
    if mode == "structured":
        from in_stream_processing_course_spark.schemas import ACTION_SCHEMA
        from in_stream_processing_course_spark.streaming.pipeline import windowed_bot_stream

        batch = spark.read.schema(ACTION_SCHEMA).json(drip.path)
        return {r[0] for r in windowed_bot_stream(batch).select("bot_ip").distinct().collect()}
    import pandas as pd

    from in_stream_processing_course_spark.streaming.state import (
        classify_merged,
        merge_history,
        summarize,
    )

    history: dict[str, tuple] = {}
    flagged: set[str] = set()
    for actions in drip.files:
        by_ip = defaultdict(list)
        for a in actions:
            by_ip[a.ip].append(a)
        for ip, acts in by_ip.items():
            batch = pd.DataFrame({
                "time": pd.to_datetime([a.time for a in acts], unit="s"),
                "clicks": [int(a.action == "click") for a in acts],
                "views": [int(a.action == "view") for a in acts],
                "category": [a.category_id for a in acts],
            })
            history[ip] = merge_history(history.get(ip), batch)
            if classify_merged(*summarize(history[ip]))[0]:
                flagged.add(ip)
    return flagged


def stream(b: Bench, mode: str) -> Outcome:
    from in_stream_processing_course_spark.sinks.upsert import KeyedUpsertSink
    from in_stream_processing_course_spark.sources.stream import read_action_stream
    from in_stream_processing_course_spark.streaming.pipeline import start_bot_detection
    from in_stream_processing_course_spark.streaming.runner import await_drained

    if b.tracer.enabled:
        wrap_call(b.tracer, KeyedUpsertSink, "sink")
    # one state partition per core: each trigger's state tasks run in a
    # single wave (with 8 on 4 cores the per-trigger floor doubles)
    spark_s = b.start_session(threads=NPROC, shuffle_partitions=NPROC)
    with b.tracer.span("generator"):
        start = time.perf_counter()
        drip = inputs.write_drip(os.path.join(b.work, "drip"), b.seed, DRIP[b.size])
        gen_s = time.perf_counter() - start
    b.out.layers["generator.write_s"] = gen_s
    b.out.layers["generator.events"] = drip.events
    b.out.layers["generator.keys"] = drip.keys
    spark, out = b.spark, b.out
    expected: set[str] = set()
    bots: set[str] = set()
    per_drain: list[dict[str, float]] = []
    exec_drains: list[ExecCounts] = []
    triggers_traced: list[dict] = []

    def drain(i: int, traced: bool) -> float | None:
        """One drain of the drip into a fresh sink; returns its wall
        (stream start -> commit of the last data-bearing trigger)."""
        out.attempted += 1
        sink_path = os.path.join(b.work, f"sink-{i}")
        with b.tracer.span("drain"):
            begin = time.time()
            query = start_bot_detection(
                read_action_stream(spark, drip.path, max_files_per_trigger=1),
                sink_path,
                os.path.join(b.work, f"ckpt-{i}"),
                mode=mode,
                available_now=True,
            )
            if traced:
                with b.tracer.span("runner"):
                    await_drained(query, timeout_sec=DRAIN_TIMEOUT_S)
            else:
                _wait_for_data(query, drip.events, DRAIN_TIMEOUT_S)
            returned = time.time()
            query.stop()
        counts = b.counter.take() if traced else None
        progress = query.recentProgress
        data = [p for p in progress if p["numInputRows"] > 0]
        if query.exception() is not None or sum(p["numInputRows"] for p in data) != drip.events:
            out.fail(f"drain {i}: {query.exception() or 'did not consume its input in time'}")
            return None
        last_commit = _progress_end(data[-1])
        if i < 0:  # warm-up drains run before the reference exists
            return last_commit - begin
        flagged = sink_flagged(sink_path)
        if not check_sink(flagged, f"drain {i}"):
            return None
        if not traced:
            out.ops.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in data)
        else:
            sink_walls = [
                s.end - s.start for s in b.tracer.spans
                if s.name == "sink" and s.run_id == b.tracer.run_id
            ]
            per_drain.append({
                "stream.triggers": len(data),
                "sink.calls": len(sink_walls),
                "sink.wall_ms": median(sink_walls) * 1e3,
                "sink.table_rows": len(flagged),
                "runner.drain_tail_s": returned - last_commit,
                "runner.nodata_batches": len(progress) - len(data),
            })
            triggers_traced.extend(data)
            exec_drains.append(counts)
        return last_commit - begin

    def sink_flagged(path: str) -> set[str]:
        rows = KeyedUpsertSink(path, ["bot_ip"]).read(spark).select("bot_ip").collect()
        return {r[0] for r in rows}

    def check_sink(flagged: set[str], what: str) -> bool:
        out.checks += 1
        if flagged == expected and bots <= flagged:
            return True
        out.fail(
            f"{what}: sink flagged {len(flagged)} ips, the batch reference "
            f"{len(expected)} ({len(flagged ^ expected)} differ)"
        )
        return False

    b.tracer.run_id = "warmup"
    start = time.perf_counter()
    warm = [drain(-1 - i, False) for i in range(1 + WARMUP_DRAINS)]
    setup_s = spark_s + gen_s + time.perf_counter() - start
    print(f"perfbench: session {spark_s:.3f} s, warm-up drains {warm} s", file=sys.stderr)
    bots.update(a.ip for f in drip.files for a in f if a.ip.startswith("172.20."))
    expected.update(expected_flagged(spark, drip, mode))
    walls = b.measure(drain, MIN_PASSES["stream"])
    if per_drain:
        for key in per_drain[0]:
            out.layers[key] = median(d[key] for d in per_drain)
        b.add_exec(exec_drains)
        for phase, name in TRIGGER_PHASES.items():
            out.layers[name] = median(p["durationMs"].get(phase, 0) for p in triggers_traced)
        out.layers["source.rows_per_trigger"] = median(p["numInputRows"] for p in triggers_traced)
        for key, name in STATE_FIELDS.items():
            out.layers[name] = median(
                sum(op.get(key, 0) for op in p["stateOperators"]) for p in triggers_traced
            )
    return b.finish(setup_s, walls, median(out.ops))


WORKLOADS = {
    "batch_headline": batch_headline,
    "stream_windowed": lambda b: stream(b, "structured"),
    "stream_stateful": lambda b: stream(b, "dstream"),
}
