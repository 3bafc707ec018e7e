"""Training-data assembly operators: stratified sampling and token-budget
packing (no reference counterpart; extension family — the last mile of an
LLM data pipeline after dedup/filter/score).

Both are deterministic by construction (md5 ranking / cumulative sums over
an explicit order), so re-runs and engine changes produce identical
selections — the same property the certified sampling/generation paths rely
on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen uniformly by md5
    rank of (key, seed) — the balanced-sampling step (per language, per
    source, per quality bucket) of a training-data mix.

    Plan shape: one shuffle on the stratum key + per-partition sort;
    row_number stops at n so the sort is bounded per group (a windowed
    top-n, not a global sort). Deterministic: depends only on key values
    and seed, not partitioning — PROVIDED ``key_col`` is unique (the doc-id
    contract shared with the dedup family); rows duplicating a key value
    tie on both the md5 rank and the tiebreak, and a cutoff inside the tied
    group would select partition-order-dependently."""
    rank = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}")))
    w = Window.partitionBy(strata_col).orderBy(rank, F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Assign documents to contiguous bins of ~``budget`` tokens (sequence
    packing for fixed-context training). Greedy cumulative packing in id
    order: a document goes to bin
    floor(tokens_before / budget), so every bin holds a contiguous run and
    only the document straddling a boundary can overflow its bin — the
    standard streaming-pack tradeoff (exact first-fit is inherently
    sequential; this is one window pass).

    Output: (id, bin_id, offset_in_bin, n_tokens). An oversized document
    (> budget) starts in whatever bin its cumulative position lands in and
    spills across the following bin indices (bin boundaries are cumulative,
    so subsequent documents continue after it — no bin is ever assigned
    twice out of order).

    Scale shape — two-phase prefix sum, no global single-partition sort:
    the frame is RANGE-partitioned on the id into
    ``spark.sql.shuffle.partitions`` order-contiguous shards; phase 1
    computes each row's shard-local cumulative sum (window partitioned BY
    SHARD — every shard sorts in parallel); phase 2 adds the total tokens
    of all earlier shards, a shard-indexed prefix computed from the tiny
    per-shard totals (one row per shard, broadcast back). The result is the
    exact global cumulative sum. spark_partition_id() is safe as the shard key
    precisely because repartitionByRange makes shards order-contiguous and
    index-ordered: the global cumsum is invariant to WHERE the shard
    boundaries fall, so the output is deterministic even though the range
    sampler is not."""
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")  # / and % by 0 are null under non-ANSI
    base = df.select(F.col(id_col), F.col(tokens_col).alias("n_tokens"))
    try:
        num_shards = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on managed platforms
        num_shards = df.sparkSession.sparkContext.defaultParallelism
    sh = base.repartitionByRange(num_shards, F.col(id_col)).withColumn(
        "__shard", F.spark_partition_id()
    )
    # the shard ids come from a SAMPLING-based range partitioner: both plan
    # branches below (local cumsum + per-shard prefix) must observe the SAME
    # boundaries, which exchange-reuse usually — but not contractually —
    # guarantees. The lazy checkpoint makes it hold by construction.
    from etl_processes_spark.partitioning import track_checkpoint

    sh = track_checkpoint(sh.localCheckpoint(eager=False))
    w_local = (
        Window.partitionBy("__shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    # per-shard totals → prefix of earlier shards (one row per shard: the
    # single-partition window here is over the TINY aggregate, never the data)
    w_pref = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    prefix = (
        sh.groupBy("__shard")
        .agg(F.sum("n_tokens").alias("__tot"))
        .select(
            "__shard",
            F.coalesce(F.sum("__tot").over(w_pref), F.lit(0)).alias("__prefix"),
        )
    )
    out = sh.withColumn("__lb", local_before).join(F.broadcast(prefix), "__shard")
    before = F.col("__lb") + F.col("__prefix")
    return out.select(
        id_col,
        F.floor(before / budget).cast("long").alias("bin_id"),
        (before % budget).cast("long").alias("offset_in_bin"),
        "n_tokens",
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into fixed-size token windows (training-sequence
    chunking): chunk i covers tokens [i*stride, i*stride + chunk_tokens) of
    the whitespace tokenization; ``stride`` < ``chunk_tokens`` gives
    overlapping windows (contextual continuity across chunk boundaries),
    the default stride = chunk_tokens gives a disjoint partition of the doc.

    Output: (id, chunk_id, start_token, n_tokens, chunk_text). A document
    with n <= chunk_tokens tokens yields exactly one chunk (its full text;
    an empty/whitespace doc yields one empty chunk rather than silently
    dropping the row); otherwise ceil((n - chunk_tokens)/stride) + 1 chunks,
    so the final window always reaches the last token.

    Scale shape: pure per-row expressions (split / sequence / posexplode /
    slice) — map-side only, NO shuffle, streams through whole-stage codegen
    at any corpus size. This is the step after cleaning/dedup and before
    packing: chunk → tokenize → pack_documents."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be > 0, got {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if stride <= 0:
        raise ValueError(f"stride must be > 0, got {stride}")
    # split on whitespace runs. After trim the ONLY way an empty token
    # appears is the fully-blank text (-> ['']), so blank detection is an
    # array-equality check, NOT a higher-order filter(): lambda expressions
    # don't participate in whole-stage codegen and would drop this
    # projection out of the codegen span (measured: the interpreted Project
    # re-evaluates split() per output column).
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.when(toks == F.array(F.lit("")), F.lit(0)).otherwise(F.size(toks))
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int") + 1
    )
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"), n_chunks.alias("__k")
    )
    chunk = base.select(
        id_col,
        "__toks",
        "__n",
        F.posexplode(F.sequence(F.lit(0), F.col("__k") - 1)).alias("chunk_id", "__i"),
    ).withColumn("__start", F.col("__i") * stride)
    return chunk.select(
        id_col,
        "chunk_id",
        F.col("__start").cast("long").alias("start_token"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start"))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def mixture_rates(
    df: DataFrame, group_col: str, alpha: float = 0.5, ndigits: int = 6
) -> dict[str, float]:
    """Per-group keep rates that flatten a skewed source/language mix toward
    uniform (multinomial temperature sampling, alpha<1 flattens): rate_g =
    round((min_count / count_g) ** (1 - alpha), ndigits), so the SMALLEST
    group keeps everything and dominant groups are downsampled toward it.

    One tiny aggregate (|groups| rows to the driver); the returned dict
    feeds mixture_sample as plain literals — which is also what makes the
    selection replayable by an external engine (the rates are data, not
    engine arithmetic)."""
    import math

    rows = df.groupBy(group_col).count().collect()
    counts = {r[group_col]: float(r["count"]) for r in rows}
    if not counts:
        return {}
    mn = min(counts.values())

    def _pow(x: float, e: float) -> float:
        # sqrt is correctly rounded by IEEE-754 (pow is not): at the default
        # alpha the rate is bit-identical in any compliant engine, which is
        # what lets an external replayer reproduce the exact selection
        return math.sqrt(x) if e == 0.5 else x**e

    return {g: round(_pow(mn / c, 1.0 - alpha), ndigits) for g, c in counts.items()}


def mixture_rates_by_tokens(
    df: DataFrame,
    group_col: str,
    token_col: str,
    alpha: float = 0.5,
    ndigits: int = 6,
) -> dict[str, float]:
    """``mixture_rates`` weighted by TOKEN MASS instead of document count —
    what production mixtures actually target (a group of few huge docs is
    over-represented in training tokens even when its doc count is small):
    rate_g = round((min_tokens / tokens_g) ** (1 - alpha), ndigits).

    Same contract as mixture_rates: one |groups|-row aggregate, rates are
    plain literals for the scan-side Bernoulli filter, sqrt-exact at the
    default alpha so an external engine replays the selection. Note the
    thinning is still per-DOCUMENT (keep/drop whole docs with probability
    rate_g); the expected kept token share per group is rate_g * tokens_g,
    which is what the temperature flattening operates on."""
    import math

    rows = (
        df.groupBy(group_col).agg(F.sum(token_col).alias("__tok")).collect()
    )
    tokens = {r[group_col]: float(r["__tok"] or 0.0) for r in rows}
    positive = [t for t in tokens.values() if t > 0]
    if not tokens:
        return {}
    if not positive:  # no group carries tokens — keep everything
        return {g: 1.0 for g in tokens}
    mn = min(positive)

    def _pow(x: float, e: float) -> float:
        return math.sqrt(x) if e == 0.5 else x**e

    # zero/NULL-mass groups keep rate 1.0 (they contribute no tokens, and
    # an absent dict entry would hit mixture_sample's default_rate=0.0 —
    # silently deleting the whole group)
    return {
        g: (1.0 if t <= 0 else round(_pow(mn / t, 1.0 - alpha), ndigits))
        for g, t in tokens.items()
    }


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    key_col: str,
    seed: int = 77,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-group Bernoulli thinning: keep a row iff its
    md5-uniform u(seed, key) < rates[group]. The corpus-mixture step of a
    training-data pipeline (downsample over-represented sources/languages
    to target proportions) as a SCAN-SIDE FILTER — no shuffle, no sort, no
    state; at 100 TB it fuses into the read stage and costs one hash per
    row. Selection depends only on (seed, key, rates): re-runs, retries and
    repartitions keep the identical rows, and an incremental run over new
    data extends the same sample."""
    from etl_processes_spark.generate.generators import u_expr

    u = u_expr(seed, "mix", F.col(key_col).cast("string"))
    rate = None
    for g, r in rates.items():
        cond = F.when(F.col(group_col) == g, F.lit(float(r)))
        rate = cond if rate is None else rate.when(F.col(group_col) == g, F.lit(float(r)))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(F.lit(float(default_rate)))
    return df.filter(u < rate)


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: int = 101,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets the split
    label whose cumulative-fraction interval contains its md5-uniform
    u(seed, key). Fractions must sum to ~1 (validated). Scan-side
    expression — no shuffle, no state; the assignment of a given key NEVER
    changes as the corpus grows (new rows hash into splits independently),
    which is the property that keeps eval sets stable across corpus
    versions. Adds a ``split`` column."""
    total = sum(fractions.values())
    if not fractions or abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions} (sum {total})")
    from etl_processes_spark.generate.generators import u_expr

    u = u_expr(seed, "split", F.col(key_col).cast("string"))
    expr = None
    hi = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        hi += frac
        cond = F.when(u < F.lit(hi), F.lit(name))
        expr = cond if expr is None else expr.when(u < F.lit(hi), F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def shuffle_deterministic(
    df: DataFrame, key_col: str, seed: int = 0, rank_col: str = "shuffle_rank"
) -> DataFrame:
    """Deterministic global pseudorandom ordering — the pre-training corpus
    shuffle. Every row gets ``rank_col`` = 60-bit md5 of (seed, key) and the
    frame is sorted by (rank, key); the order is a pure function of (seed,
    key set), so re-runs, resumed jobs and other engines (the DuckDB twin)
    reproduce the byte-identical sequence, and changing ``seed`` is a fresh
    epoch-level reshuffle.

    100 TB shape: ONE range-partitioned sort (Spark samples the rank to
    build partition bounds) — exactly what any global orderBy costs; there
    is no cheaper distributed total order. The md5 rank is uniform, so the
    range partitioner is skew-free by construction even when ``key_col``
    itself is skewed. Downstream sequential writers (e.g. the parquet sink)
    preserve the order per file, files ordered by partition index."""
    rank = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn(rank_col, rank).orderBy(rank_col, key_col)
