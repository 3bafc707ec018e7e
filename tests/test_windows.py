"""Event-windowing tests: rollup/sessionize/running totals on a constructed
event stream with known session structure."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.streaming.windows import (
    hourly_event_rollup,
    sessionize,
    user_running_totals,
)

BASE = dt.datetime(2024, 1, 1, 10, 0, 0)

EVENTS = [
    # user 1: two sessions (gap > 30 min between e3 and e4)
    (1, 1, BASE, "click", 1.0),
    (2, 1, BASE + dt.timedelta(minutes=10), "view", 2.0),
    (3, 1, BASE + dt.timedelta(minutes=20), "click", 3.0),
    (4, 1, BASE + dt.timedelta(minutes=80), "purchase", 4.0),
    # user 2: one session
    (5, 2, BASE + dt.timedelta(minutes=5), "view", 10.0),
    (6, 2, BASE + dt.timedelta(minutes=34), "view", 20.0),
]


@pytest.fixture(scope="module")
def events(spark):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(EVENTS, schema)


def test_sessionize_gap_semantics(events):
    rows = sessionize(events, gap_minutes=30).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2  # split at the 60-min gap
    s1, s2 = sorted(by_user[1], key=lambda r: r["session_id"])
    assert s1["n_events"] == 3 and s2["n_events"] == 1
    assert s1["sum_value"] == 6.0 and s2["sum_value"] == 4.0
    # user 2: 29-min gap < 30 → one session
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 2


def test_hourly_rollup(events):
    rows = hourly_event_rollup(events).collect()
    hours = {(r["hour"].hour, r["event_type"]): r for r in rows}
    assert hours[(10, "click")]["n_events"] == 2
    assert hours[(11, "purchase")]["n_events"] == 1
    assert hours[(10, "view")]["sum_value"] == 32.0  # e2(2) + e5(10) + e6(20)


def test_running_totals_monotone_per_user(events):
    rows = user_running_totals(events).collect()
    u1 = [r["running_value"] for r in sorted(rows, key=lambda r: r["event_id"]) if r["user_id"] == 1]
    assert u1 == [1.0, 3.0, 6.0, 10.0]


def test_cascading_rollup_daily_equals_from_raw(spark):
    import datetime as dt

    from etl_processes_spark.streaming.windows import cascading_rollup

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, i % 24, i % 60, 0), i % 7,
         ["click", "view"][i % 2], float(i % 11))
        for i in range(500)
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    _, daily = cascading_rollup(ev)
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"], r["min_value"], r["max_value"])
        for r in daily.collect()
    }
    from_raw = {
        (r["day"], r["event_type"]): (r["n"], round(r["s"], 6), r["mn"], r["mx"])
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
            F.min("value").alias("mn"), F.max("value").alias("mx"),
        ).collect()
    }
    assert got == from_raw


def test_sessionize_gap_boundary_semantics(spark):
    # exactly-gap successor MERGES (inclusive boundary); one tick past the
    # gap splits
    import datetime as dt

    from etl_processes_spark.streaming.windows import sessionize

    def mk(second):
        return spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "c", 1.0, "{}"),
                (2, dt.datetime(2024, 1, 1, 0, 30, second), 1, "c", 1.0, "{}"),
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )

    assert sessionize(mk(0), 30).count() == 1
    assert sessionize(mk(1), 30).count() == 2
