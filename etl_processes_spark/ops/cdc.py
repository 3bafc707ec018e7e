"""Change-data-capture compaction and slowly-changing-dimension history —
turning an append-only change log into queryable snapshots and validity
intervals; point-in-time joins against them are ``ops.asof.asof_join``.

No reference counterpart (SURVEY.md §2.6 — the reference is single-table).
All operators are window/join compositions: one key shuffle each, no
driver-side loops, deterministic survivor choices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark.sql import types as T

from etl_processes_spark.timeutil import epoch_micros


def _orderable(dt: "T.DataType") -> bool:
    """True when Spark can ORDER BY this type (maps — at any nesting depth —
    cannot). Unorderable columns are excluded from the deterministic
    tie-break rather than failing the whole call with AnalysisException."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _tiebreak_exprs(changes: DataFrame, keys: list[str], ts: str):
    """Deterministic same-timestamp tie-break: every remaining ORDERABLE
    column, desc nulls last. Map-typed columns (unorderable) order on a json
    render instead — for a top-level map whose key/value types are
    themselves orderable, the entries are sorted by key first, so two maps
    equal as VALUES but built with different entry-insertion order
    tie-break identically. Deeper-nested maps (inside arrays/structs) fall
    back to the raw json render, which is deterministic per physical entry
    layout only."""
    others = [c for c in changes.columns if c not in keys and c != ts]
    by_name = {f.name: f.dataType for f in changes.schema.fields}
    exprs = [
        F.col(c).desc_nulls_last() for c in others if _orderable(by_name[c])
    ]
    for c in others:
        dt = by_name[c]
        if _orderable(dt):
            continue
        if (
            isinstance(dt, T.MapType)
            and _orderable(dt.keyType)
            and _orderable(dt.valueType)
        ):
            # canonical order-insensitive render: entries sorted by key
            # (sort_array on struct<key,value> compares key first; map keys
            # are unique so the value never decides)
            canon = F.to_json(F.sort_array(F.map_entries(F.col(c))))
        else:
            canon = F.to_json(F.col(c))
        exprs.append(canon.desc_nulls_last())
    return exprs


def latest_snapshot(
    changes: DataFrame,
    key: str | list[str],
    ts: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Compact a change log to its current state: the latest row per key
    (SCD type 1), ties broken deterministically on every remaining column.
    With ``delete_col`` (boolean), keys whose latest change is a delete
    drop out entirely — full CDC upsert/delete semantics.

    One key shuffle; the per-key sort is bounded by that key's change
    count. This is the read-side compaction of a merge-on-read layout:
    writers append, readers (or a compaction job writing the result back)
    resolve."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), *_tiebreak_exprs(changes, keys, ts)
    )
    latest = (
        changes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    if delete_col is not None:
        latest = latest.filter(
            ~F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        ).drop(delete_col)
    return latest


def scd2_intervals(
    changes: DataFrame,
    key: str | list[str],
    ts: str,
    end_us: int | None = None,
) -> DataFrame:
    """Build SCD type-2 validity intervals from a change log: each version
    row gains ``valid_from_us`` / ``valid_to_us`` (epoch micros; half-open
    [from, to)) and ``is_current``. The open version's ``valid_to_us`` is
    ``end_us`` (default: open-ended NULL → +infinity semantics downstream).

    One key shuffle + a lead() window — the standard dimension-history
    build; exact integer micros, NTZ-tolerant. Same-timestamp changes are
    ordered by the remaining columns (desc, nulls last) — the same
    deterministic tie-break ``latest_snapshot`` applies — so the interval
    chain is stable across runs and partitionings (the zero-width interval
    the loser becomes is deterministic too)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts), *_tiebreak_exprs(changes, keys, ts)
    )
    nxt = F.lead(epoch_micros(ts)).over(w)
    out = changes.withColumn("valid_from_us", epoch_micros(ts)).withColumn(
        "valid_to_us",
        F.coalesce(nxt, F.lit(end_us).cast("long")),
    )
    return out.withColumn("is_current", nxt.isNull())
