"""Streaming distribution-drift monitor: the continuous form of the
batch ``events_categorical_drift`` query (plans/timeseries_queries.py).

Shape: a windowed (window x event_type) count aggregation — plain
JVM-side streaming state, update mode so late data keeps refining a
window — feeds a ``KeyedUpsertSink`` MERGE into a monitor table keyed
by (window_start, event_type). Chi-square against a REFERENCE mix is
computed on read (``chi2_by_window``): a micro-batch only carries the
cells that changed, never a window's full row set, so the statistic
cannot be finalized inside the stream — the monitor table is the
rendezvous point where a window's cells converge as late data lands.
This is the standard "metrics table + alert view" split, and it keeps
the streaming side a pure built-in aggregation (no Python state).

Scale: counts shuffle once per micro-batch on (window, type) with
map-side partials; the watermark bounds state; the monitor table
holds K rows per window (K = |event types|), kilobytes per day. The
reference mix is a handful of (type, share) rows — broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.projections import ensure_timestamp
from ..sinks.upsert import KeyedUpsertSink
from .runner import start_foreach_batch

DEFAULT_WINDOW = "10 minutes"
DEFAULT_WATERMARK = "2 minutes"


def windowed_type_counts(
    events: DataFrame,
    window: str = DEFAULT_WINDOW,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """(window_start epoch-us, event_type, n) streaming aggregation —
    works identically on a batch DataFrame (the equivalence tests use
    that to cross-check the drip)."""
    ev = ensure_timestamp(events, "ts")
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def drift_monitor(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    window: str = DEFAULT_WINDOW,
    watermark: str = DEFAULT_WATERMARK,
    available_now: bool = True,
):
    """Wire the counts stream into the keyed monitor table. Update
    output mode: every refinement of a (window, type) cell MERGEs over
    the previous value — idempotent under checkpoint replay, so the
    table is exactly-once."""
    counts = windowed_type_counts(events, window, watermark)
    sink = KeyedUpsertSink(table_path, ["window_start", "event_type"])
    return start_foreach_batch(counts, sink, checkpoint_dir, "update", available_now)


def chi2_by_window(
    counts: DataFrame, reference_mix: dict[str, float]
) -> DataFrame:
    """Per-window chi-square against a fixed reference mix (shares
    summing to 1): one row per window with the statistic and the most
    over-represented type. Missing types count as observed 0 via the
    reference-side cross join. Pure batch algebra over the monitor
    table — runs on anything ``windowed_type_counts``-shaped."""
    spark = counts.sparkSession
    ref = spark.createDataFrame(
        [(t, float(s)) for t, s in sorted(reference_mix.items())],
        "event_type string, ref_share double",
    )
    windows = counts.select("window_start").distinct()
    grid = windows.join(F.broadcast(ref))
    cells = (
        grid.join(counts, ["window_start", "event_type"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn(
            "_total", F.sum("n").over(Window.partitionBy("window_start"))
        )
    )
    expected = F.col("_total") * F.col("ref_share")
    diff = F.col("n") - expected
    contrib = F.when(expected > 0, diff * diff / expected).otherwise(
        F.lit(0.0)
    )
    scored = cells.withColumn("_contrib", contrib).withColumn(
        "_excess", F.col("n") - expected
    )
    return (
        scored.groupBy("window_start")
        .agg(
            F.max("_total").alias("n_events"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("_contrib")),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("chi2"),
            F.max_by("event_type", "_excess").alias("top_over_type"),
        )
        .orderBy("window_start")
    )


# --- in-stream scoring against a persisted reference profile ----------------
#
# The monitor-table path above finalizes the statistic ON READ because
# late data keeps refining a window's cells through the MERGE. The
# second deployment shape — score INSIDE the stream, one emission per
# window refinement — needs no sink table: the reference profile is
# driver-held model state (K fractions, bytes at any scale) inlined as
# literals, so the whole monitor is one watermarked windowed
# aggregation (per-category conditional counts — a single stateful
# operator) followed by a pure chi² projection. The batch twin is the
# hash-pinned events_drift_score_hourly oracle query, and the chi² sum
# is an ordered fold over the SORTED term array on both engines, so
# stream == batch == oracle bit-for-bit.


def reference_profile(
    df: DataFrame, cat_col: str = "event_type"
) -> dict[str, float]:
    """category → fraction over a reference slice. One aggregation;
    the result is K rows — legitimate driver-sized model state."""
    rows = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("n")).collect()
    total = sum(r["n"] for r in rows)
    return {r[cat_col]: r["n"] / total for r in rows}


def save_reference_profile(
    df: DataFrame, path: str, cat_col: str = "event_type"
) -> None:
    """Persist the (category, n) counts — fractions are re-derived at
    load so the artifact stays exact-integer."""
    df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(path)


def load_reference_profile(spark, path: str, cat_col: str = "event_type"):
    rows = spark.read.parquet(path).collect()
    total = sum(r["n"] for r in rows)
    return {r[cat_col]: r["n"] / total for r in rows}


def windowed_drift(
    df: DataFrame,
    profile: dict[str, float],
    ts_col: str = "ts",
    cat_col: str = "event_type",
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """(window_start epoch, n_events, n_unseen, chi2) per event-time
    window: Pearson's chi² of the window's category mix against the
    reference profile (zero-count cells contribute their expected
    count, the textbook convention), plus the count of events whose
    category the profile has never seen (always an anomaly signal,
    never silently folded into the statistic).

    Pass ``watermark`` (e.g. "10 minutes") on a streaming frame to
    bound state; identical plan otherwise — the batch twin is this
    function on a batch frame."""
    cats = sorted(profile)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    counted = df.groupBy(F.window(ts_col, window).alias("_w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(
                F.when(F.col(cat_col) == c, 1).otherwise(0)
            ).alias(f"_c{i}")
            for i, c in enumerate(cats)
        ],
    )
    terms = []
    seen = F.lit(0)
    for i, c in enumerate(cats):
        expected = F.col("n_events") * F.lit(profile[c])
        diff = F.col(f"_c{i}") - expected
        terms.append(diff * diff / expected)
        seen = seen + F.col(f"_c{i}")
    chi2 = F.aggregate(
        F.array_sort(F.array(*terms)), F.lit(0.0), lambda a, x: a + x
    )
    return counted.select(
        F.unix_timestamp(F.col("_w.start")).alias("window_start"),
        "n_events",
        (F.col("n_events") - seen).cast("long").alias("n_unseen"),
        F.round(chi2, 6).alias("chi2"),
    )
