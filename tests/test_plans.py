"""Plan-shape regression tests: the scale properties (predicate pushdown,
column pruning, broadcast joins) must survive refactors — a correct slow plan
is a failure at 100 TB."""

import pytest


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf001(sf_dir):
    return sf_dir  # sf0.001


def test_pricing_summary_pushdown_and_pruning(spark, sf001):
    from etl_processes_spark.ops.relational import pricing_summary

    li = spark.read.parquet(f"{sf001}/lineitem.parquet")
    plan = _plan(pricing_summary(li))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: partkey/suppkey/orderkey must not be read
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_revenue_by_nation_broadcasts_dims(spark, sf001):
    from etl_processes_spark.ops.relational import revenue_by_nation

    t = lambda n: spark.read.parquet(f"{sf001}/{n}.parquet")
    plan = _plan(
        revenue_by_nation(t("region"), t("nation"), t("customer"), t("orders"), t("lineitem"))
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_numeric_profile_single_column_scan(spark, sf001):
    from etl_processes_spark.profile import numeric_profile_df

    li = spark.read.parquet(f"{sf001}/lineitem.parquet")
    plan = _plan(numeric_profile_df(li, "l_extendedprice"))
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def _emb_df(spark, n=50):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3), 2.0]) for i in range(n)], schema
    )


def test_cosine_topk_fast_is_blocked_not_joined(spark):
    """The entry's top-k path must be the streamed-corpus BLAS kernel: one
    MapInPandas over the corpus, NO join of any kind (the n×m pair set is
    never materialized as rows)."""
    from etl_processes_spark.ops.similarity import cosine_topk_fast

    df = _emb_df(spark)
    plan = _plan(cosine_topk_fast(df, df.filter("vec_id < 3"), k=2))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_near_dup_lsh_path_has_no_cartesian_product(spark, monkeypatch):
    """Above the exact-size threshold the near-dup plan must be the bucketed
    equi-join on band signatures — never an all-pairs cross join."""
    from etl_processes_spark.ops import similarity

    monkeypatch.setattr(similarity, "MAX_EXACT_ROWS", 0)
    df = _emb_df(spark)
    plan = _plan(similarity.embedding_near_dup_pairs(df, threshold=0.9))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan  # candidate generation keyed on (band, bh)


def test_ngram_jaccard_join_keyed_on_shingle(spark):
    """The near-dup join is an inverted-index equi-join on the hashed
    shingle key ``h`` (8-byte long, not the multi-word string) — a
    SortMergeJoin/ShuffledHashJoin, never a cross join; the hashed shingle
    stream is checkpointed once and re-read by every consumer."""
    from etl_processes_spark.ops.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"some shared words plus unique token{i}") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = _plan(ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1, max_df=10))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(h#" in plan  # shuffle keyed on the shingle hash
    assert "Scan ExistingRDD" in plan  # single-scan checkpoint reuse


def test_hash_sample_is_take_ordered(spark):
    """The deterministic profile sample must plan as TakeOrderedAndProject
    (per-partition heap + driver merge of n rows), never a global Sort."""
    from etl_processes_spark.profile import sample_frame

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = _plan(sample_frame(df, 100, seed=42, mode="hash", key="o_orderkey"))
    assert "TakeOrderedAndProject" in plan


def test_cube_and_grouping_sets(spark):
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.relational import sales_cube, sales_grouping_sets

    li = spark.createDataFrame(
        [("A", "F", 1.0), ("A", "O", 2.0), ("R", "F", 3.0), (None, "F", 4.0)],
        ["l_returnflag", "l_linestatus", "l_quantity"],
    )
    cube = {(r["l_returnflag"], r["l_linestatus"], r["gid"]): (r["n_items"], r["sum_qty"])
            for r in sales_cube(li).collect()}
    # grand total: gid=3
    assert cube[(None, None, 3)] == (4, 10.0)
    # genuine NULL key group distinguished from subtotal by gid
    assert cube[(None, "F", 0)] == (1, 4.0)     # the real NULL-flag row
    assert cube[(None, "F", 2)] == (3, 8.0)     # flag subtotal over F
    gs = sales_grouping_sets(li).collect()
    # only the two marginals: no (flag, status) detail rows, no grand total
    assert all(r["gid"] in (1, 2) for r in gs)
    by = {(r["l_returnflag"], r["l_linestatus"], r["gid"]) for r in gs}
    assert (None, None, 3) not in by and ("A", "F", 0) not in by


def test_scan_side_assembly_ops_have_no_exchange(spark, sf001):
    """chunk_documents / mixture_sample / split_assign are the scan-fused
    stages of the assembly pipeline: their plans must contain NO Exchange
    (any shuffle here multiplies the cost of a 100 TB pass), and the
    projections must stay inside whole-stage codegen."""
    from etl_processes_spark.ops.pack import chunk_documents, mixture_sample, split_assign

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    for df in (
        chunk_documents(docs, "doc_id", "text", 64, 48),
        mixture_sample(docs, "lang", {"en": 0.5, "de": 1.0}, "doc_id"),
        split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        # formatted mode stars codegen'd nodes; the projection must be one
        assert "* Project" in plan or "* Filter" in plan, plan


def test_split_assign_semantics(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.pack import split_assign

    df = spark.range(5000).withColumnRenamed("id", "k")
    out = split_assign(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 4000) < 200 and abs(counts["val"] - 500) < 100

    # growth-stable: the first 1000 keys keep their split when 4000 more appear
    small = {r["k"]: r["split"] for r in
             split_assign(df.filter(F.col("k") < 1000), "k",
                          {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    full = {r["k"]: r["split"] for r in out.filter(F.col("k") < 1000).collect()}
    assert small == full

    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, "k", {"train": 0.5, "val": 0.1})


def test_line_dedup_broadcast_anti_join(spark, sf001):
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.dedup import line_dedup

    d = spark.read.parquet(f"{sf001}/documents.parquet")
    src = d.select("doc_id", F.regexp_replace("text", " the ", "\n").alias("text"))
    plan = _plan(line_dedup(src, "doc_id", "text", max_doc_freq=1))
    # frequent-line removal must be a BROADCAST anti-join — document bodies
    # never shuffle by line hash
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # shuffle diet: the count_distinct two-phase (h,id → h) + the doc-id
    # reassembly — no more than 3 data exchanges
    assert plan.count("hashpartitioning(") <= 3


def test_shuffle_deterministic_single_range_sort(spark, sf001):
    from etl_processes_spark.ops.pack import shuffle_deterministic

    d = spark.read.parquet(f"{sf001}/documents.parquet").select("doc_id")
    plan = _plan(shuffle_deterministic(d, "doc_id", seed=1))
    # ONE range-partitioned sort on the md5 rank, nothing else
    assert plan.count("rangepartitioning(") == 1
    assert plan.count("hashpartitioning(") == 0
    assert "shuffle_rank" in plan.split("rangepartitioning")[1][:80]


def test_fk_violations_is_keys_only_anti_join(spark, sf001):
    from etl_processes_spark.ops.audit import fk_violations

    orders = spark.read.parquet(f"{sf001}/orders.parquet")
    li = spark.read.parquet(f"{sf001}/lineitem.parquet")
    plan = _plan(fk_violations(li, orders, {"l_orderkey": "o_orderkey"}))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # column pruning: the scans must read keys only, never payload columns
    assert "l_extendedprice" not in plan and "o_totalprice" not in plan


def test_gap_fill_single_data_exchange(spark):
    import datetime as dt

    from etl_processes_spark.ops.timeseries import gap_fill, resample

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, h), 1.0) for h in range(5)],
        "user_id long, ts timestamp, value double",
    )
    res = resample(ev, "user_id", "ts", "value", 3600)
    plan = _plan(gap_fill(res, "user_id"))
    # no (key, bucket) equi-join — the grid resolves in the window pass
    for op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert op not in plan, op


def test_tfidf_exchange_width_floored_at_parallelism(spark, tmp_path):
    """A tiny parquet input sizes to one 8 MB reduce task; the doc-keyed
    exchange is still floored at defaultParallelism (and capped at the
    shuffle width), so a size underestimate cannot serialize the agg."""
    import re

    from etl_processes_spark.ops.textstats import tfidf_top_terms

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")], "doc_id long, text string"
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        plan = _plan(tfidf_top_terms(docs, "doc_id", "text", k=2))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    widths = {int(n) for n in re.findall(r"hashpartitioning\(id#\d+L?, (\d+)\)", plan)}
    assert widths == {spark.sparkContext.defaultParallelism}
