"""EXT — the remaining TPC-H query shapes over the trimmed fixture schema.

`ext/joins.py` covers Q1/Q3/Q5/Q6/Q18/Q22; this module completes the
suite (Q2, Q4, Q7-Q17, Q19-Q21) so every classic join/subquery pattern —
EXISTS semi-join, NOT-IN anti-join, correlated aggregate subquery,
scalar subquery against a global aggregate, disjunctive pushdown,
left-outer distribution, nested aggregation — has a first-class,
oracle-checked implementation.

The fixture schema is a trimmed TPC-H (no partsupp, no
l_shipmode/l_commitdate/l_receiptdate, TESTDATA.md): where the official
query needs a missing column, the shape is kept and the predicate is
re-expressed over available columns (noted per function). The reference
system has no joins at all (SURVEY.md §2.4) — this is engine surface
beyond it, graded as EXT.

Scale discipline (100 TB rules, same as ext/joins.py):
- dims (region/nation/supplier/part ≤ ~2% of fact bytes) broadcast
  explicitly — the fact table never shuffles for a dim join;
- money math in DECIMAL (exact, partition-order independent → stable
  oracle hashes at any parallelism); ratios to double only at the end,
  rounded to 6;
- correlated subqueries become aggregate-then-join-back, with the
  per-key aggregate side broadcast when it is key-cardinality-sized;
- top-k is TakeOrderedAndProject (never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iotstream.ext.joins import dec, volume
from iotstream.schemas import finite_lineitem, finite_measures, load_table

__all__ = [
    "order_priority_check",
    "cross_nation_volume",
    "market_share",
    "product_profit",
    "returned_item_revenue",
    "priority_line_counts",
    "customer_order_distribution",
    "promo_revenue",
    "top_supplier",
    "parts_supplier_count",
    "small_qty_revenue",
    "disjunctive_revenue",
    "excess_supply_suppliers",
    "waiting_supplier_blame",
    "min_cost_supplier",
    "important_stock",
]


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — EXISTS semi-join: count orders per priority in one
    quarter having at least one line with l_discount > l_tax (stands in
    for the missing commitdate<receiptdate lateness predicate).

    Plan: the quarter filter pushes to the orders scan; the lineitem
    side is projected to l_orderkey only before the LEFT SEMI join, so
    the shuffle carries one slim column; the final groupBy has 5 groups.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    late = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > F.col("l_tax"))
        .select("l_orderkey")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def cross_nation_volume(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """Q7 shape — volume shipped between two nations (both directions),
    by supplier nation / customer nation / ship year.

    Plan: supplier⋈nation and customer⋈nation broadcast (both dims are
    tiny); the nation-pair disjunction is applied after both geo tags
    are attached, before aggregation. lineitem⋈orders is the only
    big-to-big shuffle."""
    li = finite_lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    rev_pair = (F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair | rev_pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(volume()).cast("double").alias("revenue"))
    )


def market_share(
    spark: SparkSession,
    sf_dir: str,
    nation: str = "NATION_7",
    region: str = "ASIA",
    ptype: str = "ECONOMY",
) -> DataFrame:
    """Q8 shape — one nation's share of supplier revenue for one part
    type sold to customers of one region, per order year.

    Plan: region/nation/part/supplier all broadcast; numerator is a
    conditional decimal sum over the same rows as the denominator, so
    the share needs ONE aggregation pass (no second scan or self-join).
    """
    li = finite_lineitem(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == ptype)
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    geo = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cust_natkey"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(geo), F.col("c_nationkey") == F.col("cust_natkey")
    ).select("c_custkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = volume()
    zero = F.lit(0).cast("decimal(26,8)")
    rows = (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        rows.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == nation, vol.cast("decimal(26,8)"))
                .otherwise(zero)
            ).alias("_nat"),
            F.sum(vol.cast("decimal(26,8)")).alias("_tot"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nat").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — profit by supplier nation and year for parts whose
    name contains 'widget'. partsupp is absent, so unit cost is modeled
    as 10% of p_retailprice (exact DECIMAL factor, noted deviation).

    Plan: part and supplier⋈nation broadcast; lineitem⋈orders is the
    only shuffle; profit is exact decimal so the nation/year sums are
    partition-order independent."""
    # table-level finite-measures contract (schemas.finite_lineitem):
    # Spark CAST NULLs NaN, DuckDB raises — the exclusion is the
    # declared, mirrored rule on every exact-DECIMAL lineitem consumer
    li = finite_lineitem(spark, sf_dir)
    part = (
        finite_measures(load_table(spark, sf_dir, "part"), "p_retailprice")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    cost = dec("p_retailprice") * dec("l_quantity") * F.lit("0.1").cast("decimal(2,1)")
    profit = (volume().cast("decimal(30,9)") - cost.cast("decimal(30,9)")).alias(
        "_amount"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — top 20 customers by revenue lost to returns
    (l_returnflag = 'R') in one quarter.

    Plan: quarter filter pushes to the orders scan, returnflag to the
    lineitem scan; customer⋈nation broadcast onto the aggregated
    per-customer revenue; final top-20 is TakeOrderedAndProject."""
    li = finite_lineitem(spark, sf_dir).filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(volume()).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(
                cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
                .select("c_custkey", "c_name", "c_acctbal", "n_name")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — conditional aggregation: per line status (stands in
    for the missing l_shipmode), how many 1996-shipped lines belong to
    high-priority vs low-priority orders.

    Plan: one lineitem⋈orders shuffle, then a 2-group aggregate with
    both counts computed in the same pass (CASE inside SUM)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — distribution of orders per customer, including
    zero-order customers (LEFT OUTER), excluding urgent orders via a
    join-side predicate.

    Plan: the priority filter applies to orders BEFORE the outer join
    (equivalent to an ON-clause extra predicate); both aggregations are
    cheap (per-customer, then per-count histogram)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — % of one month's revenue from PROMO-type parts.
    Single row; both numerator and denominator from one aggregation
    pass; part dim broadcast."""
    li = finite_lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = volume().cast("decimal(26,8)")
    zero = F.lit(0).cast("decimal(26,8)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).alias(
                "_promo"
            ),
            F.sum(vol).alias("_tot"),
        )
        .select(
            F.round(
                F.lit(100.0) * F.col("_promo").cast("double")
                / F.col("_tot").cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — supplier(s) achieving the maximum revenue in one
    quarter: scalar subquery against a global aggregate.

    Plan: per-supplier decimal revenue (exact → the max comparison has
    no float ambiguity); the 1-row global max is cross-joined
    (broadcast) back; supplier dim broadcast for the name."""
    li = finite_lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(volume()).alias("_rev")
    )
    mx = per_supp.agg(F.max("_rev").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(mx), F.col("_rev") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
    )


def parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — supplier diversity per (brand, type, size) bucket,
    excluding one brand and excluding low-balance suppliers via a
    NOT-IN anti-join (the complaints-supplier analog).

    Plan: the part-key bridge comes from lineitem distinct pairs (no
    partsupp in fixtures); excluded suppliers broadcast to a LEFT ANTI;
    COUNT(DISTINCT) runs as the standard two-phase expand aggregate."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — revenue opportunity from small-quantity lines of one
    brand: correlated per-part average re-expressed as
    aggregate-then-join-back, compared cross-multiplied so the
    0.5·avg(qty) threshold is exact integer/decimal math (no float
    boundary rows).

    Plan: brand filter broadcast-prunes lineitem first; the per-part
    (sum, count) aggregate is part-cardinality-sized → broadcast back;
    single row out."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = finite_lineitem(spark, sf_dir).join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(dec("l_quantity")).alias("_sq"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    # l_quantity < 0.5 * (_sq/_cnt)  ⇔  2·qty·cnt < sq   (all exact)
    small = li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("_pk")).filter(
        dec("l_quantity") * F.lit(2).cast("decimal(2,0)") * F.col("_cnt").cast("decimal(12,0)")
        < F.col("_sq")
    )
    return small.agg(
        F.round(
            F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0), 6
        ).alias("avg_yearly")
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — OR-of-conjuncts part⋈lineitem predicate (brand ×
    size band × quantity band), the classic disjunctive-pushdown test.

    Plan: part broadcast; Catalyst extracts the common l_quantity
    bounds (1..30) as a scan-level filter while the full disjunction
    evaluates post-join; single-row decimal aggregate."""
    li = finite_lineitem(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & q.between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & q.between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 50)
        & q.between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(b1 | b2 | b3)
        .agg(
            F.sum(volume()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — suppliers who shipped more than half of any widget
    part's 1996 volume: nested aggregation (per part-supplier, then per
    part) + semi-join up to the supplier dim.

    Plan: both aggregation levels shuffle on l_partkey (the second
    reuses the first's partitioning); the qualifying-supplier set is
    tiny → broadcast LEFT SEMI against supplier."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    li = (
        finite_lineitem(spark, sf_dir)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_quantity")).alias("_sq")
    )
    tot = ps.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_sq").alias("_tq")
    )
    qualifying = (
        ps.join(F.broadcast(tot), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("_sq") * F.lit(2).cast("decimal(2,0)") > F.col("_tq"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return supp.join(
        F.broadcast(qualifying), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


def waiting_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — single-blame attribution: on failed ('F') orders
    with lines from several suppliers, exactly one of which shipped a
    returned ('R') line, that supplier takes the blame. Re-expressed
    from EXISTS/NOT-EXISTS self-joins into one per-order aggregate (the
    scalable form — two lineitem self-joins would shuffle the fact
    table three times; this shuffles it once).

    Plan: per (order, supplier) flag aggregate → per-order supplier /
    returner counts via a window over the same partitioning (no second
    shuffle) → filter to single-returner multi-supplier orders →
    count per supplier; top 20 via TakeOrderedAndProject."""
    forders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        forders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("_has_r")
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        per_os.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn("_n_r", F.sum("_has_r").over(w))
        .filter((F.col("_has_r") == 1) & (F.col("_n_supp") > 1) & (F.col("_n_r") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — cheapest supplier per mid-size part. partsupp's
    ps_supplycost is absent: unit cost is the supplier's minimum
    observed l_extendedprice/l_quantity for the part (IEEE division of
    identical doubles — engine-portable). The correlated MIN subquery
    becomes a row_number over (part) ordered by (cost, suppkey).

    Plan: part filter broadcast-prunes lineitem; ONE shuffle on
    l_partkey covers both aggregation levels (the per-(part,supplier)
    groupBy accepts the partkey-only partitioning, and the per-part
    argmin reuses it); the correlated MIN is `min(struct(cost, supp))`
    — a pure hash aggregate with map-side partials, no sort, no
    ranking window; supplier⋈nation broadcast at the end."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    unit = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias(
                "unit_cost"
            )
        )
    )
    best = (
        unit.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_cost", "l_suppkey")).alias("_b"))
        .select("l_partkey", "_b.unit_cost", "_b.l_suppkey")
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    return (
        best.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "s_acctbal",
            "n_name",
            "unit_cost",
        )
    )


def important_stock(
    spark: SparkSession, sf_dir: str, region: str = "ASIA", fraction: float = 0.001
) -> DataFrame:
    """Q11 shape — parts whose traded value through one region's
    suppliers exceeds a fraction of that region's total: per-part
    aggregate HAVING-compared against a global scalar subquery.

    Plan: region suppliers broadcast; per-part decimal values shuffle
    once; the global total is a 1-row broadcast cross-join; the
    threshold multiply is decimal (fraction 1/1000 exact) so the HAVING
    boundary is crisp."""
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    geo = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(geo), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    li = finite_lineitem(spark, sf_dir).join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(volume()).alias("_val")
    )
    total = per_part.agg(F.sum("_val").alias("_tot"))
    # fraction as exact decimal: 0.001 → 1/1000
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("_val") * F.lit(1000).cast("decimal(6,0)")
            > F.col("_tot").cast("decimal(38,8)")
        )
        .select("l_partkey", F.col("_val").cast("double").alias("part_value"))
    )
