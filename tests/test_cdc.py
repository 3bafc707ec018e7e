"""CDC compaction + SCD-2 history, and the as-of lookup against it."""

import datetime as dt

from pyspark.sql import functions as F

from etl_processes_spark.ops.asof import asof_join
from etl_processes_spark.ops.cdc import latest_snapshot, scd2_intervals


def _ts(d, h=0):
    return dt.datetime(2024, 1, d, h)


def _changes(spark):
    # key 1: three versions; key 2: one version then delete; key 3: single
    rows = [
        (1, _ts(1), "v1", False),
        (1, _ts(3), "v2", False),
        (1, _ts(5), "v3", False),
        (2, _ts(2), "x1", False),
        (2, _ts(4), None, True),
        (3, _ts(1), "y1", False),
    ]
    return spark.createDataFrame(rows, "k long, ts timestamp, val string, deleted boolean")


def test_latest_snapshot_upsert_delete(spark):
    ch = _changes(spark)
    got = {r["k"]: r["val"] for r in latest_snapshot(ch, "k", "ts", delete_col="deleted").collect()}
    assert got == {1: "v3", 3: "y1"}  # key 2's latest change is a delete
    # without delete handling: latest row per key, including the tombstone
    raw = {r["k"]: r["val"] for r in latest_snapshot(ch, "k", "ts").collect()}
    assert raw == {1: "v3", 2: None, 3: "y1"}


def test_latest_snapshot_tie_break_deterministic(spark):
    # same-ts duplicate rows: survivor chosen by column ordering, stable
    # under repartitioning
    rows = [(1, _ts(1), "a"), (1, _ts(1), "b")]
    df = spark.createDataFrame(rows, "k long, ts timestamp, val string")
    a = latest_snapshot(df, "k", "ts").collect()
    b = latest_snapshot(df.repartition(5), "k", "ts").collect()
    assert a == b and a[0]["val"] == "b"  # desc tie-break


def test_scd2_intervals(spark):
    ch = _changes(spark).filter("k = 1")
    got = {
        r["val"]: (r["valid_from_us"], r["valid_to_us"], r["is_current"])
        for r in scd2_intervals(ch, "k", "ts").collect()
    }
    us = lambda d: int(dt.datetime(2024, 1, d).timestamp() * 1_000_000)
    assert got["v1"] == (us(1), us(3), False)
    assert got["v2"] == (us(3), us(5), False)
    assert got["v3"] == (us(5), None, True)
    capped = scd2_intervals(ch, "k", "ts", end_us=us(9)).filter("is_current").first()
    assert capped["valid_to_us"] == us(9)


def test_asof_join_equals_scd2_interval_join(spark):
    """The SCD-2 lookup (dimension version valid at event time) as a
    backward as-of join equals the explicit interval join against
    ``scd2_intervals``."""
    dim = _changes(spark).select("k", "ts", "val")
    facts = spark.createDataFrame(
        [(i, k, _ts(d, 12)) for i, (k, d) in enumerate(
            [(1, 1), (1, 2), (1, 3), (1, 6), (2, 1), (2, 3), (3, 2)]
        )],
        "fid long, k long, ts timestamp",
    )
    tj = {
        r["fid"]: r["val_dim"]
        for r in asof_join(facts, dim, "k", suffix="_dim").collect()
    }
    # ground truth: explicit interval join against scd2_intervals
    iv = scd2_intervals(dim, "k", "ts")
    fe = facts.withColumn("__fus", F.unix_micros(F.col("ts")))
    gt_rows = (
        fe.join(iv, "k", "left")
        .filter(
            (F.col("valid_from_us") <= F.col("__fus"))
            & (F.col("valid_to_us").isNull() | (F.col("__fus") < F.col("valid_to_us")))
        )
        .select("fid", "val")
        .collect()
    )
    gt = {r["fid"]: r["val"] for r in gt_rows}
    for fid in tj:
        assert tj[fid] == gt.get(fid), fid
    # fact before the key's first version -> NULL dimension
    assert tj[4] is None  # key 2 fact at day 1 noon precedes its day-2 version
    assert tj[6] == "y1"  # key 3 fact at day 2 noon sees the day-1 version


def test_scd2_same_ts_tie_break_deterministic(spark):
    # two changes at the same (key, ts): interval chain ordered by the
    # remaining columns (desc), stable under repartitioning — the loser is
    # a deterministic zero-width interval, the winner carries forward
    rows = [(1, _ts(1), "a"), (1, _ts(1), "b"), (1, _ts(2), "c")]
    df = spark.createDataFrame(rows, "k long, ts timestamp, val string")
    a = scd2_intervals(df, "k", "ts").orderBy("valid_from_us", "val").collect()
    b = (
        scd2_intervals(df.repartition(7), "k", "ts")
        .orderBy("valid_from_us", "val")
        .collect()
    )
    assert a == b
    by_val = {r["val"]: r for r in a}
    # desc tie-break: "b" sorts first at ts(1) -> zero-width goes to "b"
    assert by_val["b"]["valid_to_us"] == by_val["a"]["valid_from_us"] == by_val["b"]["valid_from_us"]
    assert by_val["a"]["valid_to_us"] == by_val["c"]["valid_from_us"]
    assert by_val["c"]["is_current"]


def test_tiebreak_tolerates_unorderable_columns(spark):
    # a map-typed payload column must not fail the window sort with
    # AnalysisException (ADVICE r5); determinism falls back to its json form
    rows = [
        (1, _ts(1), "a", {"x": 1}),
        (1, _ts(1), "b", {"x": 2}),
        (2, _ts(2), "c", None),
    ]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, val string, payload map<string,int>"
    )
    snap = {r["k"]: r["val"] for r in latest_snapshot(df, "k", "ts").collect()}
    assert snap == {1: "b", 2: "c"}  # orderable cols still break the tie
    iv = scd2_intervals(df, "k", "ts").collect()
    assert len(iv) == 3 and sum(r["is_current"] for r in iv) == 2

    # rows identical EXCEPT the map: survivor still deterministic across
    # partitionings (json-render tie-break)
    rows2 = [(1, _ts(1), "same", {"m": i}) for i in range(4)]
    df2 = spark.createDataFrame(
        rows2, "k long, ts timestamp, val string, payload map<string,int>"
    )
    a = latest_snapshot(df2, "k", "ts").collect()
    b = latest_snapshot(df2.repartition(5), "k", "ts").collect()
    assert a == b and a[0]["payload"] == {"m": 3}
