"""Event-time windowing over the ``events`` table, as batch queries that
the DuckDB oracle checks (date_trunc buckets keep the oracle SQL literal).

The reference has no streaming surface (SURVEY.md §2.12); these extend the
engine for the events testdata. Incremental ingest lives in
``streaming.ingest``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_processes_spark.timeutil import ensure_timestamp, epoch_seconds_d


def hourly_event_rollup(events: DataFrame, ndigits: int = 6) -> DataFrame:
    """Tumbling 1-hour rollup per event_type: count, value sum/avg/min/max.
    One shuffle on (hour, event_type), partial-agg'd map-side."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ndigits).alias("sum_value"),
            F.round(F.avg("value"), ndigits).alias("avg_value"),
            F.round(F.min("value"), ndigits).alias("min_value"),
            F.round(F.max("value"), ndigits).alias("max_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user (classic lag + cumulative-sum):
    a new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Returns per-session (user_id, session_id, session_start,
    session_end, n_events, sum_value). Shuffles once on user_id; the window
    sort is per-user (bounded by per-user event counts — salting only needed
    for pathological single-user skew)."""
    events = ensure_timestamp(events, "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.lit(gap_minutes * 60.0)
    prev_ts = F.lag("ts").over(w)
    # fractional epoch seconds keep sub-second precision (unix_timestamp
    # truncates, which would disagree with the DuckDB oracle's epoch() on
    # gap boundaries); epoch_seconds_d is the shared NTZ-safe helper
    new_sess = F.when(
        prev_ts.isNull()
        | ((epoch_seconds_d(F.col("ts")) - epoch_seconds_d(prev_ts)) > gap),
        1,
    ).otherwise(0)
    with_sess = events.withColumn(
        "session_id", F.sum(new_sess).over(w)
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def user_running_totals(events: DataFrame, ndigits: int = 6) -> DataFrame:
    """Per-user event-time running total of ``value`` — the window-function
    showcase (rows between unbounded preceding and current row)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.round(F.sum("value").over(w), ndigits).alias("running_value"),
    )


def sliding_window_agg(
    events: DataFrame, duration: str = "1 hour", slide: str = "30 minutes", ndigits: int = 6
) -> DataFrame:
    """Sliding event-time windows (each event lands in duration/slide
    windows) — native F.window; epoch-aligned, so the SQL oracle can emulate
    with shifted floor-buckets."""
    return (
        events.groupBy(
            F.window("ts", duration, slide).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ndigits).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def cascading_rollup(events: DataFrame, ndigits: int = 6) -> tuple[DataFrame, DataFrame]:
    """Hypertable-style continuous-aggregate cascade: the DAILY rollup is
    computed FROM the hourly aggregates (sum of sums, min of mins, count of
    partial counts), never from raw events. At 100 TB this is the difference
    between re-scanning the fact table per resolution and aggregating
    24 rows per day per type; the hourly layer is the only one that touches
    raw data. Distinct-user counts do NOT cascade (distinct is not
    decomposable without a sketch), so neither layer carries them.

    Returns (hourly, daily). Parity daily-from-hourly == daily-from-raw is
    pinned by tests."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), ndigits).alias("sum_value"),
            F.round(F.min("min_value"), ndigits).alias("min_value"),
            F.round(F.max("max_value"), ndigits).alias("max_value"),
        )
        .withColumn(
            "avg_value",
            F.round(F.col("sum_value") / F.col("n_events"), ndigits),
        )
    )
    return hourly, daily
