"""EXT — star-schema joins, analytic windows, and aggregates.

The reference has no joins (SURVEY.md §2.4 — its pipeline is a linear
map/filter chain), but the engine exposes Spark's full join surface;
these functions are the demonstration queries over the TPC-H-ish
fixtures, written the way they should run at 100 TB:

- dimension tables are broadcast explicitly (region/nation/customer are
  tiny next to orders/lineitem → zero shuffle on the fact side until
  the final aggregation);
- aggregates go through DECIMAL so sums are exact and engine-order
  independent (oracle hash parity + no float drift at any scale);
- top-k per group is a window row_number, which Spark executes with a
  single shuffle on the partition key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iotstream.schemas import finite_lineitem, finite_measures, load_table


def dec(col: Column | str) -> Column:
    """``col`` as DECIMAL(12,4): fixture doubles carry ≤2 decimals, so
    the cast is lossless, and a product of three such factors (12,4 ×
    12,4 → 25,8; × 12,4 → 38,12) stays within the 38-digit cap in both
    engines, so every intermediate is exact at any row count."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,4)")


def volume() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (dec(F.lit(1)) - dec("l_discount"))


def dec_sum(col: Column | str, alias: str) -> Column:
    """Exact sum: cast to DECIMAL(18,4) first (fixture doubles carry ≤2
    decimals → lossless), sum exactly, return as double. Bit-identical
    across engines and partition orders."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per region/nation: orders ⋈ customer ⋈ nation ⋈ region.

    customer/nation/region are broadcast — the only shuffle in the plan
    is the final group-by. (At 100 TB, orders never moves for the join.)
    """
    return (
        _orders_with_geo(spark, sf_dir)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "revenue"),
        )
    )


def topk_per_group(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k orders per customer by total price — the row_number
    analytic pattern (one shuffle on o_custkey)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: filter pushed to
    the parquet scan, decimal-exact sums, avg derived from exact sum /
    count. Single shuffle (4 groups), partial aggregation map-side."""
    # table-level finite-measures contract (schemas.finite_lineitem):
    # Spark's CAST silently NULLs NaN/±Inf,
    # DuckDB raises — the exclusion is the declared, mirrored rule
    li = finite_lineitem(spark, sf_dir).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = volume()
    charge = disc_price * (dec(F.lit(1)) + dec("l_tax"))
    n = F.count(F.lit(1))
    sum_qty_d = F.sum(dec("l_quantity"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty_d.cast("double").alias("sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(sum_qty_d.cast("double") / n, 6).alias("avg_qty"),
            n.alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "avg_qty",
            "count_order",
        )
    )


def shipping_priority(
    spark: SparkSession,
    sf_dir: str,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: top-k unshipped orders by revenue for one market
    segment. Scale shape: both date filters and the segment filter push
    to the parquet scans (orders/lineitem shrink before any join), the
    filtered customer keys broadcast, and lineitem⋈orders is the only
    shuffle pair — AQE converts it to a broadcast join when the filtered
    orders side is small enough at runtime. Final top-k is
    TakeOrderedAndProject (per-partition k, single-reduce merge)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == segment)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = finite_lineitem(spark, sf_dir).filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(volume())
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan-side query — every predicate pushes
    to the parquet reader (shipdate range, discount band, quantity cap)
    and the plan is scan → partial agg → single-row exchange. The
    benchmark shape for 'filters reached the scan'."""
    li = finite_lineitem(spark, sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def local_supplier_volume(
    spark: SparkSession,
    sf_dir: str,
    region: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped: revenue per nation where the customer and the
    supplier share the nation, inside one region and one order year.

    Scale shape: the region filter collapses nation×region to a handful
    of rows before anything else runs; supplier⋈geo broadcasts; the
    orderdate range pushes to the orders scan. lineitem⋈orders is the
    only shuffle pair (AQE broadcasts the filtered orders side when it
    is small enough at runtime); the customer dim broadcasts. The
    c_nationkey = s_nationkey "local supplier" constraint rides the
    supplier join — no extra shuffle."""
    li = finite_lineitem(spark, sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(date_from))
            & (F.col("o_orderdate") < F.lit(date_to))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    geo = nation.join(
        F.broadcast(reg), nation.n_regionkey == reg.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_geo = F.broadcast(
        supp.join(F.broadcast(geo), supp.s_nationkey == geo.n_nationkey).select(
            "s_suppkey", "s_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            supp_geo,
            (li.l_suppkey == supp_geo.s_suppkey)
            & (cust.c_nationkey == supp_geo.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.sum(volume()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def large_quantity_orders(
    spark: SparkSession, sf_dir: str, threshold: int = 300, k: int = 100
) -> DataFrame:
    """TPC-H Q18-shaped: customers whose orders exceed a total-quantity
    threshold. The HAVING-style aggregate runs first (one shuffle on
    l_orderkey, map-side partials), shrinking lineitem to a tiny key
    set that AQE then broadcasts against orders; customer broadcasts.
    Final top-k is TakeOrderedAndProject."""
    # table-level finite-measures contract (schemas.finite_lineitem)
    li = finite_lineitem(spark, sf_dir).select("l_orderkey", "l_quantity")
    qty = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(dec("l_quantity"))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > threshold)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def dormant_customers(
    spark: SparkSession, sf_dir: str, cutoff: str = "2000-01-01"
) -> DataFrame:
    """TPC-H Q22-flavored: high-balance customers with no recent orders,
    summarized per nation. The global-average threshold is a 1-row
    aggregate cross-joined back in (broadcast — no collect, one plan),
    and the comparison is cross-multiplied (acctbal·n > Σbal) so it is
    DECIMAL-exact: no float-ulp boundary flips between engines. The
    anti-join side is pre-shrunk to distinct recent customer keys; AQE
    broadcasts it when small, shuffles on c_custkey otherwise."""
    # finite-measures contract: c_acctbal feeds the exact-decimal
    # threshold comparison and the final total (schemas.finite_measures)
    cust = finite_measures(
        load_table(spark, sf_dir, "customer"), "c_acctbal"
    )
    bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).alias("_sum_bal"),
        F.count(F.lit(1)).alias("_n_bal"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(cutoff))
        .select("o_custkey")
        .distinct()
    )
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.crossJoin(F.broadcast(bal))
        .filter(
            F.col("c_acctbal").cast("decimal(18,4)") * F.col("_n_bal")
            > F.col("_sum_bal")
        )
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_dormant"),
            dec_sum("c_acctbal", "total_balance"),
        )
    )


def priority_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS — revenue by nation AND by order
    priority in ONE pass over the fact table (two independent
    dashboards from a single scan+shuffle; rollup/cube can't express
    disjoint sets). Same broadcast-dims shape as enrichment_join."""
    return (
        _orders_with_geo(spark, sf_dir)
        .groupingSets(
            [["n_name"], ["o_orderpriority"]], "n_name", "o_orderpriority"
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "revenue"),
        )
    )


def _orders_with_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # finite-measures contract: every consumer of this frame feeds
    # o_totalprice into an exact-decimal sum (see schemas.finite_measures)
    orders = finite_measures(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return orders.join(dims, orders.o_custkey == dims.c_custkey)


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (region → nation → grand total) via rollup —
    the grouping-sets surface the reference lacks entirely. Sums stay
    DECIMAL through the rollup so sub/grand totals are exact."""
    return (
        _orders_with_geo(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "revenue"),
        )
    )
