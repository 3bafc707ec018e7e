"""Skew-mitigation utilities for 100 TB joins.

AQE's skew-join splitting (enabled in session.py) handles most runtime skew;
these utilities cover the cases AQE can't re-plan:

 - ``salted_join``: explicit key-salting for a shuffle join where one key
   dominates (AQE splits partitions, but a single monster KEY still lands in
   one task per split boundary). Salts the big side's hot keys N ways and
   explodes the matching small-side rows N ways — deterministic, works on
   any join type that reduces to inner/left on the salted key.
 - ``bloom_semi_filter`` / ``bloom_join``: semi-join reduction for a small
   side too big to broadcast whose key set still fits a bloom filter — rows
   of the big side that cannot match are dropped before its shuffle.

A skewed ``groupBy(key).count()`` needs no utility: Spark's partial
aggregation already collapses a hot key map-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_processes_spark.partitioning import row_count

# Join types for which exploding the small side ×N and dropping the salt is
# result-identical to the plain join. right/full outer would KEEP all N
# copies of an unmatched small-side row — silently wrong.
_SALT_SAFE_JOINS = frozenset({"inner", "left", "left_outer", "leftouter", "cross"})


def _row_salt(n_buckets: int) -> Column:
    """Per-row salt in [0, n_buckets): xxhash64 of the row's physical
    position (partition id is encoded in monotonically_increasing_id).
    Position-based — NOT content-based — so fully duplicated rows (the most
    common hot-key shape: dup-heavy corpora, key-only projections) still
    spread across all buckets; hashing the row's columns would send every
    duplicate to ONE bucket, reproducing exactly the skew being mitigated.

    TASK-RETRY SAFETY (why monotonically_increasing_id is fine HERE and was
    a bug in repetition_stats): a retried/recomputed task may assign
    different salt values to the same rows, but salt never reaches a result
    — salted_join drops it after the join (every salt matches the exploded
    small side identically), so any partition of rows into buckets yields
    the same result. A retry shifts LOAD PLACEMENT only; join RESULTS are
    salt-invariant by construction (pinned by tests). Using MII as a row
    IDENTITY key (what repetition_stats once did) is the unsafe pattern,
    because there the value itself survives into the output."""
    return F.abs(F.xxhash64(F.monotonically_increasing_id())) % n_buckets


def _detect_hot_keys(
    big: DataFrame,
    key: str,
    hot_threshold: int | None,
    max_hot_keys: int,
    sample_rows: int = 2_000_000,
) -> list:
    """Estimate the big side's per-key frequencies on a bounded sample and
    return keys whose EXTRAPOLATED count exceeds ``hot_threshold`` (default:
    rows / defaultParallelism — a key that alone fills a whole task's share).
    One sample+groupBy job; the collected hot set is capped at
    ``max_hot_keys`` (hot keys are, by definition, few — a corpus where
    thousands of keys each fill a task needs repartitioning, not salting)."""
    est = row_count(big)
    if est == 0:
        return []
    if hot_threshold is None:
        par = max(big.sparkSession.sparkContext.defaultParallelism, 1)
        hot_threshold = max(est // par, 1000)
    frac = min(1.0, sample_rows / est)
    sampled = big if frac >= 1.0 else big.sample(False, frac, seed=42)
    rows = (
        sampled.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") * (1.0 / frac) > float(hot_threshold))
        .orderBy(F.desc("__c"), F.col(key))
        .limit(max_hot_keys)
        .collect()
    )
    return [r[key] for r in rows]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
    hot_keys: list | str | None = "auto",
    hot_threshold: int | None = None,
    max_hot_keys: int = 1024,
) -> DataFrame:
    """Join ``big`` ⋈ ``small`` on ``key`` with the big side's HOT keys
    salted N ways. Result-identical to ``big.join(small, key, how)``
    (certified by the oracle gate and the equivalence tests).

    Only rows whose key is in the hot set are salted: the hot-side slice of
    ``small`` (≤ max_hot_keys keys, practically always broadcastable) is
    exploded ×N so every (key, salt) matches, spreading the hottest key's
    rows over N tasks; everything else takes the plain equi-join. This is
    the piece that makes the utility survive scale — the previous shape
    exploded the ENTIRE small side ×N (measured at sf10: orders 15M × 8 =
    120M shuffled rows against lineitem's 60M for a join with no hot key at
    all), paying the mitigation cost everywhere instead of only where the
    skew is.

    ``hot_keys``: "auto" (default) detects via one bounded-sample frequency
    job (`_detect_hot_keys`); a list pins the hot set explicitly (no job);
    "all" forces the legacy everything-salted shape; None/[] means no key is
    hot (plain join). Join types where the exploded small side would surface
    as duplicated unmatched rows (right/full outer) are rejected."""
    if how.lower().replace("_", "") not in {j.replace("_", "") for j in _SALT_SAFE_JOINS}:
        raise ValueError(
            f"salted_join supports {sorted(_SALT_SAFE_JOINS)} joins; {how!r} would "
            "duplicate unmatched small-side rows x salt_buckets"
        )

    def _full_salt(b: DataFrame, s: DataFrame) -> DataFrame:
        b_s = b.withColumn("__salt", _row_salt(salt_buckets))
        s_s = s.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
        )
        return b_s.join(s_s, [key, "__salt"], how).drop("__salt")

    if isinstance(hot_keys, str):
        if hot_keys == "all":
            return _full_salt(big, small)
        if hot_keys != "auto":
            raise ValueError(f"hot_keys must be 'auto', 'all', a list, or None; got {hot_keys!r}")
        hot_keys = _detect_hot_keys(big, key, hot_threshold, max_hot_keys)
    hot_keys = list(hot_keys or [])
    if not hot_keys:
        return big.join(small, key, how)
    # ONE conditional-salt join, not a hot ∪ rest branch pair: the split
    # form scanned the big side TWICE (Spark shares no subtrees across
    # union branches) and paid two joins. Salting only hot rows inside a
    # single join is result-identical: is_hot is a function of the key, so
    # both sides agree on which rows carry a real salt; non-hot rows join
    # on the constant salt 0 exactly as an unsalted equi-join; a hot
    # small-side row is exploded across every salt so each (big, small)
    # pair still matches exactly once; NULL-keyed big rows take salt 0 and
    # match nothing (kept by left joins, dropped by inner — unchanged).
    # Certified by the oracle gate and the equivalence tests (round 12).
    is_hot = F.col(key).isin(hot_keys)
    zero = F.array(F.lit(0).cast("long"))
    all_salts = F.array(*[F.lit(i).cast("long") for i in range(salt_buckets)])
    b_s = big.withColumn(
        "__salt", F.when(is_hot, _row_salt(salt_buckets)).otherwise(F.lit(0).cast("long"))
    )
    s_s = small.withColumn("__salt", F.explode(F.when(is_hot, all_salts).otherwise(zero)))
    return b_s.join(s_s, [key, "__salt"], how).drop("__salt")


# ---------------------------------------------------------------------------
# bloom-filter join reduction
# ---------------------------------------------------------------------------

# Join types where pre-dropping big-side rows that cannot match is
# result-identical to the plain join. left/outer would LOSE the unmatched
# big-side rows the join is supposed to keep.
_BLOOM_SAFE_JOINS = frozenset({"inner", "semi", "left_semi", "leftsemi"})


def _bloom_num_bits(n: int, fpp: float) -> int:
    """Standard bloom sizing: m = -n ln(p) / ln(2)^2, capped at 64 MB."""
    import math

    bits = int(-n * math.log(max(fpp, 1e-9)) / (math.log(2) ** 2)) + 1
    return min(max(bits, 64), 64 * 8 * 1024 * 1024)


def _bloom_num_hashes(n_bits: int, n: int) -> int:
    """k = (m/n) ln 2, clamped to [1, 8]."""
    import math

    return max(1, min(8, round(n_bits / max(n, 1) * math.log(2))))


def _hash64_batch(values) -> "np.ndarray":
    """Stable 64-bit hashes for a pandas Series of join keys. Integers mix
    through splitmix64 (vectorized); anything else hashes its utf-8 bytes
    through md5 (low 64 bits). Only STABILITY matters — the bloom filter is
    certified by result-invariance against the plain join, never replayed
    by an oracle."""
    import hashlib

    if pd.api.types.is_integer_dtype(values.dtype):
        x = values.to_numpy(dtype=np.uint64, na_value=0)
        with np.errstate(over="ignore"):
            x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            z = x
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
        return z
    return np.fromiter(
        (
            int.from_bytes(hashlib.md5(str(v).encode()).digest()[:8], "little")
            for v in values
        ),
        dtype=np.uint64,
        count=len(values),
    )


def _bloom_positions(h: "np.ndarray", n_bits: int, n_hashes: int):
    """Double hashing (Kirsch–Mitzenmacher): position_i = h1 + i*h2 mod m."""
    h1 = h % np.uint64(n_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(n_bits)
    for i in range(n_hashes):
        yield (h1 + np.uint64(i) * h2) % np.uint64(n_bits)


_BLOOM_DRIVER_MERGE_MAX = 64 << 20  # partitions x bitmap bytes above this -> tree merge
_BLOOM_CHUNK_BYTES = 1 << 20        # tree-merge chunk granularity


def bloom_semi_filter(
    large: DataFrame,
    keys: DataFrame,
    key: str,
    large_key: str | None = None,
    expected_items: int | None = None,
    fpp: float = 0.03,
) -> DataFrame:
    """Filter ``large`` down to rows whose ``large_key`` PROBABLY appears in
    ``keys[key]`` — the semi-join reduction for joins where the small side
    is too big to broadcast but its KEY SET still fits a bloom filter.

    Build: one Arrow pass over ``keys`` emits ONE dense numpy bitmap per
    partition (numBits/8 bytes — ~220 KB at 1M keys / 3% fpp); only bitmaps
    cross the wire, never keys. Merge is size-routed: when partitions x
    bitmap stays under ``_BLOOM_DRIVER_MERGE_MAX`` the partials collect and
    OR on the driver (one hop, cheapest); above that a TREE merge runs —
    each partial splits into fixed 1 MB chunks keyed by word offset
    (all-zero chunks skipped), chunks OR-reduce per key on executors, and
    the driver collects exactly ONE bitmap's worth of merged chunks
    regardless of how many partitions built partials. ``expected_items`` is
    clamped by the 64 MiB bitmap cap (_bloom_num_bits): past ~1.5e8 items
    at 3% fpp the filter silently trades fpp for size rather than growing unboundedly — callers with
    billions of DISTINCT keys should route through a real semi-join
    instead, the key set no longer fits a useful bloom. Probe: the bitmap
    is broadcast and applied as a vectorized Arrow predicate right after
    the big side's scan — rows that cannot match never reach the shuffle.
    False positives pass through (exact joins keep the real join after);
    false negatives cannot happen, so for inner/semi joins the reduction is
    result-invariant (oracle-certified against the plain join).

    This is Spark's own runtime-bloom-filter pattern made explicit and
    composable: usable across pipeline stages (e.g. against a key set a
    previous step computed and saved), not just within one optimizer plan.

    ``expected_items`` defaults to AUTO: resolved from the key side's row
    count (Catalyst's free row-count statistic when defined, one keys-only
    count() otherwise — the build pass scans ``keys`` anyway). A static
    default is the silent-decay hazard: a filter sized for 1M keys fed 10M
    saturates (fpp → 1) and the "optimization" quietly becomes a no-op scan
    + broadcast at exactly the scale where pruning matters most. Row count
    over-estimates distinct keys, which only buys a LOWER fpp — never a
    worse filter."""
    lk = large_key or key
    if expected_items is None:
        expected_items = max(4096, int(row_count(keys)))
    n_bits = _bloom_num_bits(expected_items, fpp)
    n_bits = ((n_bits + 63) // 64) * 64
    n_hashes = _bloom_num_hashes(n_bits, expected_items)
    n_words = n_bits // 64

    try:
        n_parts = keys.rdd.getNumPartitions()
    except Exception:
        n_parts = 200
    driver_merge = n_parts * n_words * 8 <= _BLOOM_DRIVER_MERGE_MAX
    words_per_chunk = max(1, _BLOOM_CHUNK_BYTES // 8)

    def _fill(bitmap: "np.ndarray", pdf) -> bool:
        if len(pdf) == 0:
            return False
        h = _hash64_batch(pdf[key].dropna())
        for pos in _bloom_positions(h, n_bits, n_hashes):
            np.bitwise_or.at(
                bitmap, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
        return True

    def build(batches):
        bitmap = np.zeros(n_words, dtype=np.uint64)
        seen = False
        for pdf in batches:
            seen |= _fill(bitmap, pdf)
        if seen:
            yield pd.DataFrame({"bm": [bitmap.tobytes()]})

    def build_chunked(batches):
        bitmap = np.zeros(n_words, dtype=np.uint64)
        seen = False
        for pdf in batches:
            seen |= _fill(bitmap, pdf)
        if seen:
            offs, bufs = [], []
            for w0 in range(0, n_words, words_per_chunk):
                chunk = bitmap[w0 : w0 + words_per_chunk]
                if chunk.any():  # all-zero chunks never cross the wire
                    offs.append(w0)
                    bufs.append(chunk.tobytes())
            yield pd.DataFrame({"w0": pd.Series(offs, dtype="int64"), "bm": bufs})

    bitmap = np.zeros(n_words, dtype=np.uint64)
    if driver_merge:
        partials = keys.select(key).mapInPandas(build, schema="bm binary").collect()
        if not partials:  # empty key set: nothing can match
            return large.filter(F.lit(False))
        for r in partials:
            bitmap |= np.frombuffer(r["bm"], dtype=np.uint64)
    else:

        def or_chunks(pdf):
            acc = np.frombuffer(pdf["bm"].iloc[0], dtype=np.uint64).copy()
            for buf in pdf["bm"].iloc[1:]:
                acc |= np.frombuffer(buf, dtype=np.uint64)
            return pd.DataFrame({"w0": [int(pdf["w0"].iloc[0])], "bm": [acc.tobytes()]})

        def or_chunks_salted(pdf):
            out = or_chunks(pdf)
            out["salt"] = pdf["salt"].iloc[0]
            return out

        # Two-level reduce: a single groupBy(w0) would hand ONE task every
        # partition's chunk for that offset (10k partials × 1 MB = ~10 GB in
        # one pandas group — the very cliff this route exists to avoid). The
        # salted pre-reduce bounds any task's group to ceil(parts/fanout)
        # chunks, and the final level sees at most `fanout` rows per offset.
        try:
            n_src_parts = keys.rdd.getNumPartitions()
        except Exception:
            n_src_parts = 200
        fanout = max(2, int(np.ceil(np.sqrt(max(n_src_parts, 4)))))
        merged = (
            keys.select(key)
            .mapInPandas(build_chunked, schema="w0 long, bm binary")
            .withColumn("salt", F.spark_partition_id() % fanout)
            .groupBy("w0", "salt")
            .applyInPandas(or_chunks_salted, schema="w0 long, bm binary, salt int")
            .groupBy("w0")
            .applyInPandas(or_chunks, schema="w0 long, bm binary")
            .collect()  # <= one bitmap's worth of chunks, regardless of partitions
        )
        if not merged:
            return large.filter(F.lit(False))
        for r in merged:
            a = np.frombuffer(r["bm"], dtype=np.uint64)
            bitmap[r["w0"] : r["w0"] + len(a)] |= a
    b = large.sparkSession.sparkContext.broadcast(bitmap)

    @F.pandas_udf("boolean")
    def probe(col: pd.Series) -> pd.Series:
        bm = b.value
        if len(col) == 0:
            return pd.Series([], dtype=bool)
        h = _hash64_batch(col)
        ok = np.ones(len(col), dtype=bool)
        for pos in _bloom_positions(h, n_bits, n_hashes):
            word = bm[(pos >> np.uint64(6)).astype(np.int64)]
            ok &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        ok &= ~col.isna().to_numpy()
        return pd.Series(ok)

    return large.filter(probe(F.col(lk)))


def bloom_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    expected_items: int | None = None,
    fpp: float = 0.03,
) -> DataFrame:
    """Exact ``large ⋈ small`` with the large side bloom-prefiltered on the
    join key before its shuffle. The real join still runs (false positives
    are eliminated there), so the result is identical to ``large.join(small,
    key, how)`` — certified by the oracle gate. Only join types where
    dropping non-matching large-side rows early is sound are accepted.
    ``expected_items`` defaults to AUTO-sizing from the small side's row
    count (see bloom_semi_filter) so the filter keeps pruning as the key
    set grows."""
    if how.lower().replace("_", "") not in {j.replace("_", "") for j in _BLOOM_SAFE_JOINS}:
        raise ValueError(
            f"bloom_join supports {sorted(_BLOOM_SAFE_JOINS)}; {how!r} must keep "
            "unmatched large-side rows, which the prefilter would drop"
        )
    filtered = bloom_semi_filter(
        large, small.select(key), key, expected_items=expected_items, fpp=fpp
    )
    if how.lower().replace("_", "") in {"semi", "leftsemi"}:
        return filtered.join(small, key, "left_semi")
    return filtered.join(small, key, how)
