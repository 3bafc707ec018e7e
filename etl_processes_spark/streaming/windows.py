"""Event-time windowing over the ``events`` table — batch forms (oracle-
checkable) plus Structured Streaming twins.

The reference has NO streaming surface (SURVEY.md §2.12); these extend the
engine for the events testdata. The batch forms use date_trunc so the DuckDB
oracle is literal; the streaming forms use the same logical aggregation with
watermarked event-time windows, so a batch-verified query carries over.
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


# ---------------------------------------------------------------------------
# Structured Streaming twins
# ---------------------------------------------------------------------------


def hourly_event_rollup_stream(
    spark, source_path: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of hourly_event_rollup: file-source readStream +
    watermarked tumbling window. Late rows beyond the watermark drop out of
    state; state size is bounded by (watermark horizon × distinct types)."""
    schema = spark.read.parquet(source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_once(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain the stream once into parquet (availableNow batch-of-the-stream)."""
    (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sessionize_stream(
    spark,
    source_path: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``sessionize`` as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``): per-user session state carries
    (session ordinal, start, last event ts, count, value sum); a session is
    emitted when (a) a later in-batch event opens a new one, or (b) the
    event-time watermark passes last_ts + gap (EventTimeTimeout). State per
    key is O(1) and expires with the timeout, so total state is bounded by
    the number of users active inside the watermark horizon — the property
    that makes this run indefinitely at scale.

    Output schema matches the batch ``sessionize`` exactly, and emitted
    sessions equal the batch result for any session closed by the watermark
    (pinned by tests/test_streaming.py). Session ordinals survive timeouts
    via a per-user tombstone (ordinal only, no open session) so a user who
    returns after a closure continues numbering like the batch cumulative
    sum — memory is O(distinct users ever seen), the price of batch-equal
    ordinals (key sessions by start timestamp instead if that is
    unacceptable). Late in-watermark events merge into the open session
    with min/max start/end — INCLUDING an event that precedes the open
    session's start by more than the gap: the batch twin would SPLIT that
    into two sessions, but a stateful stream cannot retroactively split an
    open session without buffering all events per key, so the stream
    extends the bounds instead (a documented divergence on top of the
    equal-only-for-watermark-closed caveat; shrink the watermark or run
    the batch sessionize over the landed data when exact parity matters).
    Requires a UTC-pinned session (the engine
    default): applyInPandasWithState delivers session-local naive
    timestamps, and the timeout registration below converts them to epoch
    assuming no offset."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_id", T.LongType()),
            T.StructField("session_start", T.StringType()),
            T.StructField("session_end", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    # (next ordinal, open-session start/last in epoch-us, count, value sum)
    state_schema = T.StructType(
        [
            T.StructField("sid", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("vsum", T.DoubleType()),
        ]
    )

    def _fmt(us: int) -> str:
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")

    def _r6(x: float) -> float:
        # HALF_UP like Spark's F.round (python round() is half-even and
        # would diverge from the batch twin on exact half-way sums)
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        closed = []
        if state.hasTimedOut:
            sid, start_us, last_us, n, vsum = state.get
            if start_us is not None:
                closed.append((user_id, sid, _fmt(start_us), _fmt(last_us), n, _r6(vsum)))
            # tombstone: keep the NEXT ordinal, no open session, no timeout —
            # a returning user continues numbering instead of re-seeding at 1
            # (which would emit duplicate (user_id, session_id) keys)
            state.update((sid + 1, None, None, 0, 0.0))
        else:
            sid, start_us, last_us, n, vsum = (
                state.get if state.exists else (1, None, None, 0, 0.0)
            )
            ev = pd.concat(list(pdfs), ignore_index=True)
            ev = ev.sort_values(["ts", "event_id"])
            for ts, val in zip(ev["ts"], ev["value"]):
                us = int(pd.Timestamp(ts).value // 1000)
                if start_us is None:
                    start_us, last_us, n, vsum = us, us, 1, float(val)
                elif us - last_us > gap_us:
                    closed.append(
                        (user_id, sid, _fmt(start_us), _fmt(last_us), n, _r6(vsum))
                    )
                    sid += 1
                    start_us, last_us, n, vsum = us, us, 1, float(val)
                else:
                    # late in-watermark events must never REGRESS the open
                    # session's bounds (in-batch sort can't order across batches)
                    start_us = min(start_us, us)
                    last_us = max(last_us, us)
                    n, vsum = n + 1, vsum + float(val)
            state.update((sid, start_us, last_us, n, vsum))
            # close when the watermark passes the gap horizon
            state.setTimeoutTimestamp(last_us // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_id", "session_start", "session_end",
                    "n_events", "sum_value",
                ],
            )

    schema = spark.read.parquet(source_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def cascading_rollup_distinct(
    events: DataFrame, lgk: int = 12, ndigits: int = 6
) -> tuple[DataFrame, DataFrame]:
    """Distinct-user counts THROUGH the rollup cascade via mergeable HLL
    sketches (the one statistic ``cascading_rollup`` cannot cascade —
    count-distinct is not decomposable without a sketch). The hourly layer
    aggregates each hour's user ids into a Datasketches HLL sketch
    (``hll_sketch_agg``, the only pass over raw events); the daily layer
    UNIONS the 24 hourly sketches per day (``hll_union_agg``) and estimates
    — never re-scanning the fact table. At 100 TB this turns daily/weekly/
    monthly distinct-user queries into sketch unions over tiny aggregates;
    relative error ~1.04/sqrt(2^lgk) (~1.6% at lgk=12, tunable).

    Returns (hourly, daily) with ``n_users_approx`` (exact-count parity
    within sketch error is pinned by tests/test_windows.py)."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.hll_sketch_agg(F.col("user_id"), F.lit(lgk)).alias("user_sketch"),
    )
    hourly_est = hourly.select(
        "hour",
        "event_type",
        "n_events",
        F.round(F.hll_sketch_estimate("user_sketch"), ndigits).alias("n_users_approx"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.hll_union_agg(F.col("user_sketch")).alias("user_sketch"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            F.round(F.hll_sketch_estimate("user_sketch"), ndigits).alias("n_users_approx"),
        )
    )
    return hourly_est, daily


def cascading_rollup(events: DataFrame, ndigits: int = 6) -> tuple[DataFrame, DataFrame]:
    """Hypertable-style continuous-aggregate cascade: the DAILY rollup is
    computed FROM the hourly aggregates (sum of sums, min of mins, count of
    partial counts), never from raw events. At 100 TB this is the difference
    between re-scanning the fact table per resolution and aggregating
    24 rows per day per type; the hourly layer is the only one that touches
    raw data (and in a live pipeline it is the streaming sink, incrementally
    maintained). Distinct-user counts do NOT cascade (distinct is not
    decomposable without a sketch) — the daily layer re-counts only if asked.

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


# ---------------------------------------------------------------------------
# incremental (continuous-aggregate) rollup maintenance
# ---------------------------------------------------------------------------


def hourly_rollup_state(events: DataFrame) -> DataFrame:
    """One batch's mergeable hourly partials: (hour, event_type, n_events,
    sum_dec, min_value, max_value). The value sum is an EXACT DECIMAL —
    count/min/max merge in any order trivially, and the decimal sum makes
    the one non-trivial statistic merge-order-independent too, so state
    folded over batches equals the rollup of the full data bit-for-bit
    (a double sum would drift with batch boundaries)."""
    events = ensure_timestamp(events, "ts")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("sum_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def rollup_upsert(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Merge a new batch of raw events into the accumulated hourly rollup —
    incremental maintenance of ``cascading_rollup``'s hourly layer: the
    corpus is NEVER re-scanned; each batch contributes its partials and the
    state merges by (hour, event_type). The same append-mode state-table
    architecture as the ingest path (SCALING.md): the state is orders of
    magnitude smaller than the event history, and a batch touches it by
    key. Returns the new state; persist it and pass it back for the next
    batch. Late events simply merge into their (old) hour's row — no
    watermark needed in batch mode."""
    delta = hourly_rollup_state(batch)
    if state is None:
        return delta
    return (
        state.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("decimal(38,6)").alias("sum_dec"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def rollup_read(state: DataFrame, ndigits: int = 6) -> DataFrame:
    """Render the rollup state for consumption: derived avg, double sums —
    the same shape ``hourly_event_rollup`` produces (minus the distinct-
    user count, which is not mergeable without a sketch; see
    ``cascading_rollup_distinct``)."""
    return state.select(
        "hour",
        "event_type",
        "n_events",
        F.round(F.col("sum_dec").cast("double"), ndigits).alias("sum_value"),
        F.round(
            F.col("sum_dec").cast("double") / F.col("n_events"), ndigits
        ).alias("avg_value"),
        F.round("min_value", ndigits).alias("min_value"),
        F.round("max_value", ndigits).alias("max_value"),
    )


def continuous_rollup_stream(
    spark,
    source_path: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming maintenance of the hourly rollup — the continuous-
    aggregate face of ``rollup_upsert``: a file-source stream of events,
    each micro-batch appending its MERGEABLE partials (count, exact
    decimal sum, min, max per (hour, event_type)) to
    ``state_dir/partials/batch=<id>`` with overwrite semantics. A replayed
    micro-batch rewrites exactly its own epoch dir (the idempotent-
    foreachBatch-sink pattern the ingest stream uses), so crashes/retries
    can neither double-count nor lose an hour. Raw events are read once,
    ever; consumers merge the tiny partials at read time
    (``read_continuous_rollup``). Returns the started StreamingQuery."""
    schema = spark.read.parquet(source_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hourly_rollup_state(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/partials/batch={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_continuous_rollup(spark, state_dir: str, ndigits: int = 6) -> DataFrame:
    """Merge the accumulated per-batch partials into the served rollup —
    the read side of ``continuous_rollup_stream``. Decimal partials make
    the merge equal to a full-data rollup bit-for-bit, however the event
    history was batched."""
    partials = spark.read.parquet(f"{state_dir}/partials")
    merged = (
        partials.drop("batch")
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("decimal(38,6)").alias("sum_dec"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return rollup_read(merged, ndigits=ndigits)
