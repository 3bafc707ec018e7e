"""partitioning.widen — the guard that keeps CPU-heavy projections off a
single core for one-row-group inputs while never touching wide inputs —
and collect_bounded, the driver hand-off of the size routes."""

from etl_processes_spark.partitioning import collect_bounded, widen


def test_collect_bounded_at_and_past_the_bound(spark):
    df = spark.range(0, 5, numPartitions=3)
    n, pdf = collect_bounded(df, 5)
    assert n == 5 and sorted(pdf["id"]) == [0, 1, 2, 3, 4]
    assert collect_bounded(df, 4) == (5, None)


def test_widen_spreads_narrow_scan(spark, sf_dir):
    # a one-row-group parquet file arrives as a single partition
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = widen(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row multiset unchanged
    assert out.count() == df.count()


def test_widen_spreads_narrow_range(spark):
    df = spark.range(0, 1000, 1, 1)  # plain Range leaf, 1 partition
    out = widen(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r[0] for r in out.collect()) == list(range(1000))


def test_widen_per_mb_skips_tiny_inputs(spark, sf_dir):
    # documents at sf0.001/0.01 is well under 2 MB of parquet: a cheap
    # per-row op (per_mb=2) should NOT pay a shuffle to spread it
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert widen(df, per_mb=2.0) is df
    # a CPU-heavy caller (per_mb=None) still widens the same input
    assert widen(df).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_widen_per_mb_scales_with_size(spark, sf_dir):
    # per_mb small enough that even the tiny file earns multiple tasks;
    # target stays capped at defaultParallelism
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = widen(df, per_mb=0.000001)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == df.count()


def test_parse_bytes_conf():
    from etl_processes_spark.partitioning import _parse_bytes_conf

    assert _parse_bytes_conf("134217728b") == 134217728
    assert _parse_bytes_conf("134217728") == 134217728
    assert _parse_bytes_conf("128m") == 128 << 20
    assert _parse_bytes_conf("128mb") == 128 << 20
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("garbage") == 128 << 20


def test_widen_noop_for_already_wide_scan(spark, tmp_path):
    # a scan whose split math already spreads it cluster-wide must NOT pay a
    # repartition (regression: the est_parts heuristic once called a wide
    # scan narrow and re-shuffled it). The file must have enough ROW GROUPS
    # to genuinely fill those splits — Spark splits parquet only at
    # row-group boundaries, so byte math alone proves nothing.
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide.parquet")
    n = 4000
    pq.write_table(
        pa.table({"id": list(range(n)), "v": [f"row{i:06d}" for i in range(n)]}),
        path, row_group_size=n // (2 * target + 2),  # > 2*target row groups
    )
    assert pq.ParquetFile(path).metadata.num_row_groups * 2 > target
    size = os.path.getsize(path)
    # pick a split size that makes est_parts * 2 > target
    split = max(1, size // target)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        df = spark.read.parquet(path)
        assert widen(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


def test_widen_spreads_monolithic_row_group_despite_byte_splits(spark, tmp_path):
    # sf10 regression: a file big enough that the split formula says "wide"
    # but written as ONE row group scans as one loaded task — widen must see
    # through the empty byte-range splits and repartition.
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "mono.parquet")
    n = 4000
    pq.write_table(
        pa.table({"id": list(range(n)), "v": [f"row{i:06d}" for i in range(n)]}),
        path, row_group_size=n,  # monolithic
    )
    size = os.path.getsize(path)
    split = max(1, size // target)  # formula: ~target partitions -> "wide"
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        df = spark.read.parquet(path)
        out = widen(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == target
        assert out.count() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


def test_widen_range_leaf_already_wide(spark):
    # Range leaves use the real partition count, not the file-split math
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, target)
    assert widen(df) is df


def test_widen_noop_for_post_shuffle_frames(spark):
    target = spark.sparkContext.defaultParallelism
    # explicit repartition, joins, aggregates: already shuffle-partitioned
    # wide AND unsafe to probe (AQE finalization) — widen must not touch them
    assert widen(spark.range(1000).repartition(target)) is not None
    df = spark.range(1000).repartition(target)
    assert widen(df) is df
    r = spark.range(100)
    agg = r.groupBy((r["id"] % 3).alias("k")).count()
    assert widen(agg) is agg
    a, b = spark.range(50), spark.range(50)
    j = a.join(b, "id")
    assert widen(j) is j


def test_widen_ignores_shuffleish_column_names(spark, tmp_path):
    """A column named 'JoinDate'/'WindowId' must not read as a plan node
    and silently disable widening."""
    from etl_processes_spark.partitioning import widen

    p = str(tmp_path / "t")
    spark.range(1000).selectExpr(
        "id", "id AS JoinDate", "id AS WindowId", "id AS SortKey"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    before = df.rdd.getNumPartitions()
    after = widen(df).rdd.getNumPartitions()
    assert before == 1
    assert after == spark.sparkContext.defaultParallelism  # widened

    # a real aggregation still blocks widening
    agg = df.groupBy("JoinDate").count()
    assert widen(agg) is agg


def test_release_checkpoint_frees_blocks_and_rejects_plain_frames(spark):
    """release_checkpoint must free a localCheckpoint's block-manager
    storage deterministically (DataFrame.unpersist is a no-op for
    checkpoint-backed frames) and report False — without raising — on a
    frame that is not checkpoint-backed."""
    from pyspark import StorageLevel

    from etl_processes_spark.partitioning import release_checkpoint

    def _storage_used() -> int:
        # block-manager memory in use across the (single, local[*]) JVM;
        # measured as a DELTA so blocks other tests left cached don't flake
        status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.iterator()
        used = 0
        while it.hasNext():
            kv = it.next()
            used += kv._2()._1() - kv._2()._2()
        return used

    base = _storage_used()
    df = spark.range(0, 100_000, numPartitions=4).selectExpr(
        "id", "repeat('x', 32) AS s"
    )
    ck = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    assert ck.count() == 100_000
    pinned = _storage_used()
    assert pinned > base  # the checkpoint actually holds blocks
    assert release_checkpoint(ck) is True
    after = _storage_used()
    # the checkpoint's blocks are gone (release is now BLOCKING, so no
    # poll needed) — but the test's own jobs leave a few KB of broadcast
    # blocks above the pre-test baseline, so assert the BULK of the pinned
    # delta was freed rather than exact return-to-baseline (round-8 advice:
    # the <= base form failed on ~13 KB of residual broadcasts)
    assert after - base < 0.1 * (pinned - base)

    plain = spark.range(10)
    assert release_checkpoint(plain) is False

    # a LogicalRDD that was never persisted (frame built straight from an
    # RDD) must also report False — there is nothing to free
    rdd_frame = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]), "id long, s string"
    )
    assert release_checkpoint(rdd_frame) is False
