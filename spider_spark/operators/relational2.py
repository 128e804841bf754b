"""Extended relational coverage: the remaining TPC-H-expressible queries
adapted to this schema, GROUPING SETS, and lead/lag analytics.

Same conventions as relational.py: broadcast dims, pushdown-friendly
filters, rounded double outputs, oracle-matched column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

_R2 = lambda c: F.round(c, 2)  # noqa: E731


def _exact_sum2(per_row):
    """round(Σ per_row, 2) as a double, summed as DECIMAL(18,4) — the q9
    pattern: an exact decimal sum does not depend on partition order
    (a double sum moves its last ulp with it), and half-up rounding of
    an exact decimal agrees in every engine."""
    return F.round(F.sum(per_row.cast("decimal(18,4)")), 2).cast("double")


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year (either
    direction), via supplier-nation × customer-nation join."""
    cat = Catalog(spark, sf_dir)
    n1 = cat.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    return (
        li.join(cat.orders, li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cat.supplier), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_exact_sum2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's supplier share of regional revenue by year."""
    cat = Catalog(spark, sf_dir)
    region = cat.region.filter(F.col("r_name") == "ASIA")
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    supp_nation = cat.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        cat.lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    return joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        _R2(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
            / F.sum(vol)
        ).alias("mkt_share")
    )


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp): profit = revenue − 0.6 ×
    retailprice × qty, by supplier nation and year, parts LIKE filter."""
    cat = Catalog(spark, sf_dir)
    part = cat.part.filter(F.col("p_name").like("%widget%"))
    # the double per-row product is bit-identical across engines; a
    # double sum of it landed exactly on a .xx5 boundary at sf0.001
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        cat.lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(_exact_sum2(profit).alias("sum_profit"))
    )


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no shipmode): late-shipment counts by line
    status, split into high/low order priority."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count (including
    zero-order customers via left outer join)."""
    cat = Catalog(spark, sf_dir)
    counts = (
        cat.customer.join(
            cat.orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max revenue in a quarter (ties kept,
    like the spec's view+subquery formulation)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            _exact_sum2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from lineitems below 50% of their part's average
    quantity. The correlated avg becomes a broadcast of per-part avgs."""
    cat = Catalog(spark, sf_dir)
    brand_parts = cat.part.filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    li = cat.lineitem.join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    avgs = li.groupBy("l_partkey").agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(F.broadcast(avgs.withColumnRenamed("l_partkey", "ap_key")),
                F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        # exact decimal sum, then one IEEE divide + round (per-row, same
        # in both engines)
        .agg(
            _R2(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted: above-average-balance customers with no orders
    since 1999, grouped by nation."""
    cat = Catalog(spark, sf_dir)
    avg_bal = cat.customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = cat.orders.filter(F.col("o_orderdate") >= F.lit("1999-01-01")).select(
        "o_custkey"
    )
    rich = cat.customer.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        _exact_sum2(F.col("c_acctbal")).alias("totacctbal"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id: (status, priority),
    (status), () — a shape ROLLUP/CUBE can't express."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price,
               grouping_id(o_orderstatus, o_orderpriority) AS gid
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    ).withColumn("gid", F.col("gid").cast("long"))


def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytics: days between a customer's consecutive orders +
    each order's delta vs previous order value."""
    orders = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", prev_date).cast("long").alias("gap_days"),
        _R2(F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("order_seq"),
    )
