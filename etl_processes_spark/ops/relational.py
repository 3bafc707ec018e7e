"""Relational showcase queries over the TPC-H-ish testdata — the engine's
join/aggregate surface (the reference is single-table, SURVEY.md §2.6; these
demonstrate the Spark-native relational capabilities the rebuilt engine adds).

Scale notes baked into each query:
 - dimension tables (region/nation/supplier/part at these ratios) are
   broadcast — no shuffle of the fact table for those joins;
 - fact-fact joins (orders ⋈ lineitem) shuffle on the join key once, with
   AQE free to re-plan/coalesce;
 - aggregates are expressed post-filter so predicate pushdown reaches the
   parquet scan (verify with .explain: PushedFilters on l_shipdate etc.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Money arithmetic runs in DECIMAL, not DOUBLE: a double sum over 10^5+ rows
# carries ~1e-10 relative error that DIFFERS between engines/partitionings,
# so an oracle hash on round(sum_double, 4) is a coin flip. Prices/discounts
# are 2-dp quantities — decimal sums are exact, deterministic, and identical
# in Spark and DuckDB; the final cast to double is then bit-stable too.


def _money(c: str) -> Column:
    return F.col(c).cast("decimal(18,2)")


def _one_minus(c: str) -> Column:
    return F.lit(1).cast("decimal(18,2)") - _money(c)


def _one_plus(c: str) -> Column:
    return F.lit(1).cast("decimal(18,2)") + _money(c)


def pricing_summary(lineitem: DataFrame, ship_before: str = "1998-09-01", ndigits: int = 4) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem (decimal-exact sums)."""
    cnt = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") < F.lit(ship_before).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_money("l_extendedprice") * _one_minus("l_discount"))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                _money("l_extendedprice") * _one_minus("l_discount") * _one_plus("l_tax")
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum("l_quantity") / cnt, ndigits).alias("avg_qty"),
            F.round(F.sum(_money("l_extendedprice")).cast("double") / cnt, ndigits).alias("avg_price"),
            F.round(F.sum(_money("l_discount")).cast("double") / cnt, ndigits).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


def top_unshipped_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    k: int = 10,
    ndigits: int = 4,
) -> DataFrame:
    """TPC-H Q3-style: top-k orders by revenue for one market segment.
    customer is broadcast (dim); orders ⋈ lineitem shuffles on o_orderkey."""
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    revenue = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.sum(_money("l_extendedprice") * _one_minus("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(revenue, orders.o_orderkey == revenue.l_orderkey)
        .select(
            F.col("o_orderkey"),
            F.col("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def revenue_by_nation(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    ndigits: int = 4,
) -> DataFrame:
    """TPC-H Q5-style: revenue per nation (customer side). All dims broadcast;
    the only big shuffles are orders⋈lineitem and the final groupBy."""
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_money("l_extendedprice") * _one_minus("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def top_orders_per_priority(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k via row_number window (deterministic tie-break on
    o_orderkey). One shuffle on the partition key."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            "rank",
        )
    )


def pivot_returnflag(lineitem: DataFrame) -> DataFrame:
    """Pivot l_returnflag into columns of quantity sums per linestatus.
    Values enumerated explicitly — never let pivot() run its distinct-scan
    pre-pass on a 100 TB fact table."""
    return (
        lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_linestatus",
            F.col("A").alias("qty_a"),
            F.col("N").alias("qty_n"),
            F.col("R").alias("qty_r"),
        )
    )


def quantity_quartiles_by_flag(lineitem: DataFrame) -> DataFrame:
    """Exact per-group quartiles (sort-based agg per group; for 100 TB use
    percentile_approx behind the same interface)."""
    x = F.col("l_quantity").cast("double")
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile(x, F.lit(0.25)).alias("q1"),
        F.percentile(x, F.lit(0.5)).alias("q2"),
        F.percentile(x, F.lit(0.75)).alias("q3"),
        F.count(x).alias("n"),
    )


def part_type_stats(part: DataFrame, lineitem: DataFrame, ndigits: int = 4) -> DataFrame:
    """Broadcast part dim into lineitem; per p_type quantity/price stats."""
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(
                F.sum(_money("l_extendedprice")).cast("double") / F.count(F.lit(1)), ndigits
            ).alias("avg_price"),
        )
    )


def sales_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations in
    one pass (Expand + single shuffle — same plan family as rollup()).
    grouping_id disambiguates real NULL group keys from subtotal rows."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping_id().cast("long").alias("gid"),
    )


def sales_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)): only the two
    single-dimension marginals — half the Expand width of cube() when the
    cross product isn't wanted (at 100 TB the Expand multiplier IS the
    cost: rows are replicated once per grouping set before the shuffle)."""
    return lineitem.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping_id().cast("long").alias("gid"),
    )
