"""Input-width hygiene for CPU-heavy per-row projections.

Parquet splits at row-group granularity: a small file with one row group
arrives as ONE task no matter what ``spark.sql.files.maxPartitionBytes``
says, so an expensive projection (shingling, md5 hashing, embedding) runs
on a single core of the cluster. ``widen`` adds one tiny round-robin
shuffle to spread such inputs across the default parallelism — and is a
NO-OP when the input is already wide, which is the 100 TB case (thousands
of row groups), so the guard never adds a shuffle where the scan already
parallelizes.

Only operators whose downstream math is partition-independent (integer/md5
arithmetic, min/count aggregates, per-row expressions) call this before
their heavy stage; order-sensitive double summations keep their natural
partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


# Logical operators whose presence means the frame is (a) already wide —
# its partitioning comes from a shuffle sized by spark.sql.shuffle.partitions
# — and (b) unsafe to probe via df.rdd: finalizing an AQE plan to read the
# partition count would eagerly EXECUTE the upstream shuffle stages, which
# then re-run at the real action (no shuffle reuse across QueryExecutions).
_SHUFFLE_TOKENS = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",
    "Deduplicate",
    "GlobalLimit",
)

# Plan-node detection is anchored to tree positions (start of a plan line,
# after the :- +- drawing characters): a raw substring test would also
# match column names/literals printed inside Project/Relation nodes (a
# column called 'JoinDate' or 'WindowId' would silently disable widening —
# the CPU-heavy stage then runs on however few tasks the scan produced).
# Node names keep a trailing \w* so RepartitionByExpression still matches.
import re as _re

_SHUFFLE_RE = _re.compile(
    r"(?m)^[\s:+\-]*(?:" + "|".join(_SHUFFLE_TOKENS) + r")\w*\b"
)
# the file-scan leaf prints as 'Relation [cols] parquet' at a tree
# position; 'LocalRelation' starts with 'L' there and does not match
_FILESCAN_RE = _re.compile(r"(?m)^[\s:+\-]*Relation\b")


# Logical-stats sizeInBytes at/above this is "unknown" (LocalRelation and
# some leaves report Long.MaxValue-ish defaults rather than a real size).
_SIZE_UNKNOWN = 1 << 61


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's logical-plan size estimate (file bytes for parquet scans).
    Pure metadata — unlike df.rdd it never finalizes a physical plan, so the
    probe is ~free and safe on any frame. None when the estimate is a
    'huge/unknown' sentinel."""
    try:
        sz = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    return None if sz >= _SIZE_UNKNOWN else sz


def _row_statistic(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan row-count statistic (free — no job).
    Defined for LocalRelations, CBO-analyzed tables and some file sources;
    None otherwise."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    return None


def row_count(df: DataFrame) -> int:
    """Rows in ``df``: the row-count statistic when Catalyst defines one,
    otherwise one ``count()``. The one place a size route counts rows."""
    n = _row_statistic(df)
    return df.count() if n is None else n


def collect_bounded(df: DataFrame, max_rows: int) -> tuple[int, pd.DataFrame | None]:
    """The rows in ``df``, and ``df`` as a pandas frame when they are at
    most ``max_rows`` (else None): the one driver hand-off of a size route.
    A row-count statistic above the bound is trusted (a stale one at worst
    sends a small frame down a distributed route); otherwise one count()
    sizes the frame — on a lazy ``localCheckpoint``, the action that
    materializes it — before one Arrow ``toPandas``, one task per
    partition. A bounded ``limit(max_rows + 1).toPandas()`` with no count
    is slower at scale: Spark plans it as a single-partition exchange, and
    past the bound its rows are collected for nothing."""
    n = _row_statistic(df)
    if n is None or n <= max_rows:
        n = df.count()
    return n, (df.toPandas() if n <= max_rows else None)


def _parse_bytes_conf(v: str) -> int:
    """'134217728b' / '128m' / '1g' / '1t' → bytes; defaults to 128 MiB on
    anything unparseable."""
    s = str(v).strip().lower()
    for suf, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("tb", 1 << 40), ("pb", 1 << 50),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("t", 1 << 40), ("p", 1 << 50), ("b", 1)):
        if s.endswith(suf):
            s = s[: -len(suf)]
            break
    else:
        mult = 1
    try:
        return max(1, int(float(s) * mult))
    except ValueError:
        return 128 << 20


def release_checkpoint(df: DataFrame) -> bool:
    """Deterministically free the block-manager storage behind a
    ``localCheckpoint``-backed DataFrame. ``df.unpersist()`` is a no-op for
    these (it only talks to the SQL CacheManager; checkpoint blocks are
    otherwise reclaimed only when the ContextCleaner GCs the RDD) — but the
    checkpointed plan is a LogicalRDD whose underlying RDD we can unpersist
    directly. Returns True when the blocks were released, False when the
    frame isn't checkpoint-backed (plan isn't a LogicalRDD, or its RDD was
    never marked persistent, or internals moved); never raises.

    The unpersist is BLOCKING: the disk-pressure use case (a composed
    pipeline releasing a superseded stage at 100 TB) needs the blocks gone
    before the next stage's disk demand arrives — a non-blocking release
    races it (and made the block-accounting test flaky, round-8 verdict).

    The released frame is permanently unusable afterwards — its lineage was
    truncated at the checkpoint and the blocks are gone; any further action
    on it (or a frame derived from it) fails. Release only frames every
    consumer is done with.

    Callers that pin large intermediate state (the memoized ingest corpus
    state, the stage profiler's boundary checkpoints, the training
    pipeline's stage boundaries) use this so release happens when they
    decide, not when two garbage collectors agree."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        rdd = plan.rdd()
        lvl = rdd.getStorageLevel()
        if not (lvl.useMemory() or lvl.useDisk()):
            # StorageLevel.NONE: a LogicalRDD that was never persisted
            # (e.g. a frame built straight from an RDD) has nothing to free
            return False
        rdd.unpersist(True)
        return True
    except Exception:
        return False


# --- checkpoint tracking -----------------------------------------------
# Operators that internally localCheckpoint wide intermediate streams
# (posting lists, token windows, CC edge lists, IVF cells) register those
# frames here when a collector is active. A composed pipeline opens a
# collector around each stage, then — once the stage's OUTPUT is
# materialized — releases everything the stage pinned internally. Without
# this, a multi-stage flow retains every stage's full-corpus block set
# until job end: at sf100 that exhausted the disk the corpus itself needed
# (round-8 `e2e_training_pipeline_full` died on ENOSPC).
#
# A plain module-level stack: pipelines are driver-side single-threaded
# plan construction (the concurrent parts of this codebase — validation's
# per-column jobs — never construct checkpoints). Not re-entrancy-safe
# across threads, documented as such.

_CKPT_COLLECTORS: list[list[DataFrame]] = []


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Register a checkpoint-backed frame with the innermost active
    collector (no-op when none is active). Returns df for chaining."""
    if _CKPT_COLLECTORS:
        _CKPT_COLLECTORS[-1].append(df)
    return df


class collect_checkpoints:
    """Context manager: collect every checkpoint-backed frame registered
    via ``track_checkpoint`` inside the block. The caller releases them
    (``release_collected``) once their downstream consumer is materialized
    — releasing earlier would break the very job that materializes it."""

    def __enter__(self) -> list[DataFrame]:
        lst: list[DataFrame] = []
        _CKPT_COLLECTORS.append(lst)
        self._lst = lst
        return lst

    def __exit__(self, *exc) -> None:
        got = _CKPT_COLLECTORS.pop()
        assert got is self._lst


def release_collected(frames: list[DataFrame]) -> int:
    """Release every tracked checkpoint in ``frames`` (idempotent — frames
    that were never materialized or already released are skipped by
    release_checkpoint's own checks). Returns the number released."""
    n = 0
    while frames:
        if release_checkpoint(frames.pop()):
            n += 1
    return n


def widen(df: DataFrame, min_factor: int = 2, per_mb: float | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan-shaped frame up to the cluster's
    default parallelism; df unchanged otherwise. Frames downstream of a
    shuffle (join/agg/window/sort/limit in the optimized plan) are returned
    as-is: they are already shuffle-partitioned wide, and probing them via
    df.rdd would force AQE finalization (eager upstream execution).

    ``per_mb`` declares the caller's work density — how many input MB one
    task should own. CPU-heavy stages (md5-per-token embedding, blob decode)
    pass None: always widen to full parallelism, the work dwarfs the
    shuffle. Cheap per-row stages (token stats, BLAS batch scoring) pass
    their density so that a small input (e.g. a single-row-group parquet of
    a few MB) is NOT shuffled just to spread sub-second work across 32
    tasks — the repartition + per-task overhead costs more than it saves.
    At 100 TB both paths are no-ops (the scan is already wide), so the knob
    only shapes the small-to-middling regime."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _SHUFFLE_RE.search(plan):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    size = _plan_size_bytes(df)
    if per_mb is not None and size is not None:
        # density-scaled target: one task per per_mb MB, capped at the
        # cluster width; ≤1 means the input is too small to be worth a
        # shuffle for this work density
        target = min(target, max(1, int(size / (per_mb * 1024 * 1024)) + 1))
        if target <= 1:
            return df
    plan_has_filescan = bool(_FILESCAN_RE.search(plan))
    if size is not None and plan_has_filescan:
        # File scans: estimate the scan width with Spark's own split
        # formula — maxSplitBytes = min(maxPartitionBytes, max(openCost,
        # size / defaultParallelism)) — so a mid-size file that already
        # scans cluster-wide is recognized as wide and never re-shuffled
        # (the naive size/maxPartitionBytes estimate called a 160 MB /
        # 32-core scan "2 partitions" and paid a pointless full shuffle).
        # Real width can still be SMALLER (row-group packing), in which
        # case we under-widen — the cheap failure mode.
        conf = df.sparkSession.conf
        max_pb = _parse_bytes_conf(
            conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _parse_bytes_conf(
            conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        # the scan's width was decided against the FULL parallelism, not the
        # density-reduced target
        split = min(max_pb, max(open_cost, size // max(1, sc.defaultParallelism)))
        est_parts = max(1, (size + split - 1) // split)
        if est_parts * min_factor <= target:
            # the formula is an UPPER bound on the real width (row-group
            # boundaries can only make real splits coarser), so
            # formula-narrow is definitely narrow: widen without probing
            return df.repartition(target)
        # Formula says wide — but parquet is only splittable at ROW-GROUP
        # boundaries: Spark still creates est_parts byte-range partitions,
        # yet every row lands in the partition holding its row-group's
        # midpoint, so a monolithic-row-group file scans as ONE loaded task
        # however many empty splits surround it (measured at sf10: a 91 MB
        # single-row-group documents file serialized every text operator
        # onto one core, 2-3x the whole-query wall — and getNumPartitions
        # cannot see it, since the empty splits still count). Probe the
        # footers: row groups are the indivisible units, so their count
        # bounds the loaded-task width. Skipped when file-level parallelism
        # alone suffices, and any unreadable footer (remote fs, non-parquet
        # format — CSV/JSON split at arbitrary bytes anyway) falls back to
        # trusting the formula.
        try:
            files = df.inputFiles()
        except Exception:
            return df
        if len(files) * min_factor > target:
            return df
        n_rg = 0
        try:
            import pyarrow.parquet as _pq
            from urllib.parse import urlparse
            for uri in files:
                p = urlparse(uri)
                if p.scheme not in ("", "file"):
                    return df
                n_rg += _pq.ParquetFile(p.path or uri).metadata.num_row_groups
                if n_rg * min_factor > target:
                    return df  # enough indivisible chunks to scan wide
        except Exception:
            return df
        return df.repartition(target)
    # non-file leaves (Range, parallelized local data): the split formula
    # does not apply — fall back to the real partition count (cheap for
    # these leaves; the shuffle-token guard above already excluded frames
    # where the probe would force AQE finalization)
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df
