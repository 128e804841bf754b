"""Core relational OLAP queries (TPC-H-derived, adapted to this schema).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the DuckDB oracle in ``__spark_entry__.py`` exactly.
Scale notes per query are inline; the shared rules:

- dimension joins (region/nation/supplier/part/customer) go through
  ``F.broadcast`` — no shuffle of the fact side on dim joins;
- filters are plain column predicates on the scan so parquet gets
  PushedFilters and pruned ReadSchema;
- double aggregates are rounded (2–4 dp) to make cross-engine value
  hashing stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

_R2 = lambda c: F.round(c, 2)  # noqa: E731


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one scan, map-side partial agg, 6-group final agg."""
    li = Catalog(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _R2(F.sum("l_quantity")).alias("sum_qty"),
            _R2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _R2(F.sum(disc_price)).alias("sum_disc_price"),
            _R2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            _R2(F.avg("l_quantity")).alias("avg_qty"),
            _R2(F.avg("l_extendedprice")).alias("avg_price"),
            _R2(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: broadcast customer dim, shuffle only on l_orderkey agg;
    top-10 executes as TakeOrderedAndProject (no full sort)."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.filter(F.col("c_mktsegment") == "BUILDING")
    orders = cat.orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = cat.lineitem.filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_R2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no commitdate column): orders in 1997Q3 with any
    line shipped >90 days after order date. LEFT SEMI join — the probe side
    never materialises lineitem columns."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01")) & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    li = cat.lineitem.select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: snowflake join; all dims broadcast, single fact shuffle."""
    cat = Catalog(spark, sf_dir)
    region = cat.region.filter(F.col("r_name") == "ASIA")
    nation, cust, supp = cat.nation, cat.customer, cat.supplier
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = cat.lineitem
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_R2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+agg; every predicate pushes to parquet."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_R2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-line revenue per customer, top 20."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = cat.lineitem.filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cat.customer), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_R2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: broadcast part; conditional aggregation, one shuffle."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(cat.part), li.l_partkey == F.col("p_partkey"))
        .agg(
            _R2(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev)
            ).alias("promo_share")
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING on grouped fact, then join back to headers.
    The heavy agg happens before the join, so the join input is tiny."""
    cat = Catalog(spark, sf_dir)
    big = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(_R2(F.sum("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(cat.orders, big.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _R2(F.col("o_totalprice")).alias("totalprice"),
            "total_qty",
        )
    )


def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs pushed as a join-level disjunction; part is
    broadcast so the disjunction never forces a cartesian product."""
    cat = Catalog(spark, sf_dir)
    li, part = cat.lineitem, cat.part
    cond = li.l_partkey == part.p_partkey
    branch = (
        ((part.p_brand == "Brand#12") & (part.p_size <= 15) & (li.l_quantity >= 1) & (li.l_quantity <= 21))
        | ((part.p_brand == "Brand#23") & (part.p_size <= 25) & (li.l_quantity >= 10) & (li.l_quantity <= 30))
        | ((part.p_brand == "Brand#34") & (part.p_size <= 35) & (li.l_quantity >= 20) & (li.l_quantity <= 40))
    )
    return li.join(F.broadcast(part), cond & branch).agg(
        _R2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue")
    )


def exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct count per group (expands to a two-phase
    aggregate: distinct-ify then count — both map-side combinable)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp")
    )


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — constant memory per group at any scale.
    No SQL oracle (approximate); recall bounds asserted in tests."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts")
    )


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). For 100 TB swap to approx_percentile — kept
    exact here because the oracle requires it."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("q50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("price_p90"),
        )
    )


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / EXCEPT / INTERSECT chain over customer key sets."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    buyers_95 = (
        cat.orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01")) & (F.col("o_orderdate") < F.lit("1996-01-01"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    mid_bal = cust.filter(F.col("c_acctbal").between(-500.0, 9000.0)).select("c_custkey")
    return building.union(negative).exceptAll(buyers_95).distinct().intersect(mid_bal)


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns (explicit value list so
    no extra distinct pass runs at scale)."""
    ev = Catalog(spark, sf_dir).events
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0)
    for k in kinds:
        out = out.withColumnRenamed(k, f"n_{k}")
    return out


def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + aggregation (JVM-side get_json_object)."""
    ev = Catalog(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        _R2(F.avg(k)).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, True)).alias("n_gt50"),
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(region, nation) over customer balances."""
    cat = Catalog(spark, sf_dir)
    joined = (
        cat.customer.join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        _R2(F.sum("c_acctbal")).alias("sum_acctbal"),
        F.count("*").alias("n_customers"),
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE(status, priority) over orders."""
    orders = Catalog(spark, sf_dir).orders
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _R2(F.sum("o_totalprice")).alias("sum_price"),
    )


def anti_semi_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mktsegment customer counts with vs without orders, computed via
    LEFT SEMI and LEFT ANTI joins (no fact columns materialised)."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.select("c_custkey", "c_mktsegment")
    okeys = cat.orders.select("o_custkey")
    semi = (
        cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("with_orders"))
    )
    anti = (
        cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("without_orders"))
    )
    return (
        semi.join(anti, "c_mktsegment", "full_outer")
        .na.fill(0, ["with_orders", "without_orders"])
    )
