"""Relational analytics queries over the engine's DataFrame layer.

The reference has no general query executor (SURVEY §2.3/§2.6/§2.7: only
MIN/MAX, COUNT(*) and one anti-join shape) — Spark SQL gives the full
relational algebra for free. These queries are the engine's headline
surface: TPC-H-style aggregation/join/window/rollup plans used by bench.py
and the correctness gate.

Determinism discipline (drives the DuckDB oracle comparison):

* all money math runs in exact DECIMAL with operand precisions sized so no
  product exceeds precision 38 (no engine-specific overflow rounding), and
  only the final aggregate is cast to DOUBLE;
* every top-k has a total-order tie-break;
* all rounding happens once, at the output edge.

Scale notes: group-bys aggregate partially map-side before the shuffle;
joins against region/nation/supplier-sized dims broadcast (AQE converts
them; the dims are far under the broadcast threshold); the window query
shuffles once on its partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.sql.window import Window

D12_2 = DecimalType(12, 2)
D6_4 = DecimalType(6, 4)


def _price(c: str = "l_extendedprice"):
    return F.col(c).cast(D12_2)


def _qty():
    return F.col("l_quantity").cast(D12_2)


def _one_minus(c: str):
    return (F.lit(1).cast(D6_4) - F.col(c).cast(D6_4))


def _one_plus(c: str):
    return (F.lit(1).cast(D6_4) + F.col(c).cast(D6_4))


def q1_pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → groupBy → 8 aggregates."""
    disc_price = _price() * _one_minus("l_discount")  # d(12,2)*d(7,4) = d(20,6) exact
    charge = disc_price * _one_plus("l_tax")  # d(20,6)*d(7,4) = d(28,10) exact
    out = (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_qty()).cast("double").alias("sum_qty"),
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
            (F.sum(_qty()).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_price()).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "count_order",
        F.round("avg_qty", 6).alias("avg_qty"),
        F.round("avg_price", 6).alias("avg_price"),
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-06-01",
) -> DataFrame:
    """TPC-H Q3-shaped: dim-filtered join chain → grouped revenue → top 10.

    customer is dimension-sized relative to lineitem → broadcast-joined;
    the lineitem⋈orders join shuffles on the order key.
    """
    revenue = _price() * _one_minus("l_discount")
    cut = F.lit(cutoff).cast("timestamp")
    joined = (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(orders.filter(F.col("o_orderdate") < cut), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == segment)),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "REGION#0",
) -> DataFrame:
    """TPC-H Q5-shaped: 5-way join where customer and supplier must share a
    nation inside one region; revenue per nation. All dims broadcast."""
    revenue = _price() * _one_minus("l_discount")
    dims = (
        nation.join(F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    joined = (
        lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q10_returned_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_lo: str = "1995-10-01",
    date_hi: str = "1996-01-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped: revenue lost to returned items per customer in one
    quarter, top-k. Fact-side filters (returnflag, date window) run before
    the joins so the shuffled/broadcast volumes are the filtered sets;
    customer and nation broadcast."""
    revenue = _price() * _one_minus("l_discount")
    returned = lineitem.filter(F.col("l_returnflag") == "R")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    )
    joined = (
        returned.join(window, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


def q12_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q12-shaped conditional aggregation: per line status, how many
    lines belong to critical- vs low-priority orders (SUM(CASE ...)) —
    partial aggregation applies to both branches map-side."""
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


def q17_small_quantity_revenue(
    part: DataFrame, lineitem: DataFrame, brand: str = "Brand#4"
) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery, decorrelated by hand the
    way Catalyst would: the per-part threshold (0.2 × avg quantity) becomes
    a pre-aggregated table joined back to the facts. The threshold aggregate
    runs over ALL lineitem (the subquery correlates on partkey only), then
    both it and the brand-filtered part dim broadcast into one fact pass."""
    dims = part.filter(F.col("p_brand") == brand).select("p_partkey")
    brand_items = lineitem.join(
        F.broadcast(dims), F.col("l_partkey") == F.col("p_partkey")
    )
    # per-part avg over all lineitems of the part (restricting to brand
    # parts first doesn't change per-part averages, and shrinks the agg)
    # threshold = exact decimal SUM cast to double, then *0.2/n — the same
    # FP operation order the SQL oracle uses, so boundary rows can't flip
    thresholds = brand_items.groupBy("l_partkey").agg(
        (F.sum(_qty()).cast("double") * F.lit(0.2) / F.count(F.lit(1))).alias(
            "qty_threshold"
        )
    ).withColumnRenamed("l_partkey", "t_partkey")
    joined = brand_items.join(
        F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey")
    ).filter(_qty() < F.col("qty_threshold"))
    return joined.agg(
        F.round(F.sum(_price()).cast("double") / 7.0, 4).alias("avg_yearly")
    )


def q6_forecast_revenue(
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-shaped: pure filter→aggregate, no join — the pushdown
    showcase. All three predicates (date range, discount BETWEEN, quantity
    cap) reach the parquet scan as PushedFilters; the projection prunes to
    the 4 referenced columns; one partial+final aggregate, single row out."""
    revenue = _price() * F.col("l_discount").cast(D6_4)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
            & (F.col("l_discount").cast(D6_4) >= F.lit(disc_lo).cast(D6_4))
            & (F.col("l_discount").cast(D6_4) <= F.lit(disc_hi).cast(D6_4))
            & (F.col("l_quantity") < max_qty)
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def q14_promo_revenue(
    part: DataFrame, lineitem: DataFrame,
    date_lo: str = "1996-03-01", date_hi: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q14-shaped: promotion revenue share — conditional aggregation
    over a month window, part dim broadcast. The CASE sits inside both SUMs
    so the plan is one fact pass + partial aggregation."""
    disc_price = _price() * _one_minus("l_discount")
    promo = F.when(F.col("p_type").startswith("PROMO"), disc_price).otherwise(
        F.lit(0).cast(DecimalType(20, 6))
    )
    month = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    )
    joined = month.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return joined.agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc_price).cast("double"), 6
        ).alias("promo_revenue_pct"),
        F.sum(disc_price).cast("double").alias("total_revenue"),
    )


def q19_disjunctive_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q19-shaped: disjunctive multi-branch predicate join — three OR
    branches pairing a brand with a size range and a quantity window. The
    disjunction evaluates post-join on the broadcast dim (Catalyst can't
    split it), but the common join key and the per-branch ranges stay one
    fact pass."""
    disc_price = _price() * _one_minus("l_discount")
    qty = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & qty.between(20, 30))
    )
    joined = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return joined.filter(branch).agg(
        F.sum(disc_price).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q22_idle_customers(
    customer: DataFrame, orders: DataFrame, since: str = "1997-07-01"
) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average positive balance and
    no order since ``since`` — scalar aggregate subquery (broadcast one-row
    cross join) + anti join against the filtered fact, grouped by nation."""
    # exact decimal SUM then ONE double division — deterministic across
    # engines, unlike a floating AVG whose value depends on add order
    pos_avg = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast(D12_2)).cast("double") / F.count(F.lit(1)))
        .alias("avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(pos_avg)).filter(
        F.col("c_acctbal").cast(D12_2).cast("double") > F.col("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), how="left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast(D12_2)).cast("double").alias("total_bal"),
        )
    )


def q4_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1996-07-01",
    date_hi: str = "1996-10-01",
) -> DataFrame:
    """TPC-H Q4-shaped: order-priority checking — orders in a quarter with
    at least one line item shipped after the order date (EXISTS → left-semi
    join; the testdata carries no commit/receipt dates, so "late" is
    ship-after-order). The semi join shuffles on the order key once; the
    priority group-by then aggregates a tiny filtered set."""
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    )
    late = ords.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        how="left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q7_volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7-shaped: shipping volume between two nations by year — the
    multi-join showcase. supplier/customer/nation broadcast onto the two
    fact tables; the only big shuffle is lineitem⋈orders on the order key.
    Pre-filtering each side to the two nations prunes the facts before that
    shuffle."""
    revenue = _price() * _one_minus("l_discount")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(nation_a, nation_b))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(nation_a, nation_b))
    supp = supplier.join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey", "cust_nation")
    ord_cust = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    line = lineitem.join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    joined = line.join(ord_cust, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (
            (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
        )
        | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_region: str = "ASIA",
    part_type: str = "PROMO",
    share_nation: str = "NATION_5",
) -> DataFrame:
    """TPC-H Q8-shaped: a supplier nation's market share of a part type
    inside a customer region, by order year. Conditional share = one CASE
    inside both SUMs over a single joined pass; every dimension broadcasts;
    the only big shuffle is lineitem⋈orders."""
    revenue = _price() * _one_minus("l_discount")
    cust_in_region = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == target_region)
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    line_part = lineitem.join(
        F.broadcast(part.filter(F.col("p_type") == part_type).select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    joined = (
        line_part.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_in_region), F.col("o_custkey") == F.col("c_custkey"))
    )
    share = F.when(F.col("supp_nation") == share_nation, revenue).otherwise(
        F.lit(0).cast(DecimalType(20, 6))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(share).cast("double") / F.sum(revenue).cast("double"), 6
            ).alias("mkt_share"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
    )


def q9_product_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_like: str = "%widget%",
) -> DataFrame:
    """TPC-H Q9-shaped: revenue by supplier nation × order year for parts
    matching a name pattern (the testdata has no partsupp/supplycost, so
    profit degrades to discounted revenue). part and supplier⋈nation
    broadcast; lineitem⋈orders is the one big shuffle."""
    revenue = _price() * _one_minus("l_discount")
    parts = part.filter(F.col("p_name").like(name_like)).select("p_partkey")
    supp_nation = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    joined = (
        lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(revenue).cast("double").alias("sum_profit"))
    )


def q13_order_count_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13-shaped: distribution of orders-per-customer, including
    zero-order customers (left join, count of the nullable side). Two
    aggregations: per-customer count (shuffle on custkey), then the tiny
    histogram group-by."""
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            how="left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q15_top_supplier(
    supplier: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the maximum revenue over a
    quarter. Revenue stays exact DECIMAL through the max-equality filter
    (float ties would be engine-dependent); the max rides a one-row
    broadcast cross join, the same decorrelation as the reference view +
    scalar subquery."""
    revenue = _price() * _one_minus("l_discount")
    per_supp = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue).alias("rev_dec"))
    )
    top = per_supp.agg(F.max("rev_dec").alias("max_rev"))
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


def q18_large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 300.0,
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q18-shaped: customers with any order whose total quantity
    exceeds ``min_qty`` — aggregate-then-semi-join (the HAVING subquery),
    ordered with a total-order tie-break and capped (TakeOrderedAndProject,
    no global sort materialization)."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_qty()).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > F.lit(min_qty).cast(D12_2))
    )
    joined = orders.join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    ).join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
    return (
        joined.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast(D12_2).cast("double").alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(limit)
    )


def top_order_per_customer(orders: DataFrame) -> DataFrame:
    """Window operator: each customer's single highest-value order
    (row_number with a total-order tie-break)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast(D12_2).cast("double").alias("best_price"),
        )
    )


def rollup_pricing(lineitem: DataFrame) -> DataFrame:
    """ROLLUP aggregate — subtotals per (returnflag, linestatus), per
    returnflag, and grand total (absent in the reference; free in Spark)."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def cube_pricing(lineitem: DataFrame) -> DataFrame:
    """CUBE aggregate — all 2² grouping combinations of (returnflag,
    linestatus), including the per-linestatus slice ROLLUP can't produce.
    ``grouping_id`` disambiguates subtotal rows from (hypothetical)
    natural NULL group values, so the oracle compare is unambiguous.
    Like ROLLUP, CUBE is one shuffle: Spark expands the grouping sets
    map-side and aggregates partially before the exchange."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def distinct_orders_per_flag(lineitem: DataFrame) -> DataFrame:
    """COUNT(DISTINCT) — two-phase distinct aggregation."""
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling-window event aggregation: per hour × event_type."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D12_2)).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


def minmax_probe(df: DataFrame, key: str, table_name: str) -> DataFrame:
    """S3/A1 — the chunk planner's single-pass MIN/MAX(+count) probe."""
    return df.agg(
        F.lit(table_name).alias("table_name"),
        F.min(key).alias("min_key"),
        F.max(key).alias("max_key"),
        F.count(F.lit(1)).alias("row_cnt"),
    )


def row_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """A2/O6 — validation row counts as one DataFrame (deterministic order
    comes from the sorted table name)."""
    from functools import reduce

    parts = [
        df.agg(F.lit(name).alias("table_name"), F.count(F.lit(1)).alias("row_cnt"))
        for name, df in sorted(tables.items())
    ]
    return reduce(DataFrame.unionByName, parts)


def sequence_reset_values(tables: dict[str, tuple[DataFrame, str]]) -> DataFrame:
    """A3 — next sequence value per table: COALESCE(MAX(pk),0)+1."""
    from functools import reduce

    parts = [
        df.agg(
            F.lit(name).alias("table_name"),
            (F.coalesce(F.max(key), F.lit(0)) + 1).cast("long").alias("next_val"),
        )
        for name, (df, key) in sorted(tables.items())
    ]
    return reduce(DataFrame.unionByName, parts)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``. One shuffle on user_id; the
    session id is a running sum of boundary flags.

    Timestamps compare in exact integer microseconds (unix_micros) so the
    boundary decision is bit-identical across engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    boundary = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    with_sess = events.withColumn("session_id", F.sum(boundary).over(run))
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D12_2)).cast("double").alias("session_value"),
        )
    )


def asof_join_purchase_view(events: DataFrame) -> DataFrame:
    """As-of join: for every purchase, the most recent 'view' event of the
    same user at-or-before the purchase (ties broken by event_id order).

    Implemented as ONE ordered pass per user (last-non-null over a running
    window) instead of an O(n^2) inequality join — the scalable shape for
    temporal joins: a single shuffle on user_id, then a sort within
    partitions that AQE sizes.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_us = F.when(F.col("event_type") == "view", F.unix_micros(F.col("ts")))
    with_last = events.withColumn("last_view_us", F.last(view_us, ignorenulls=True).over(w))
    return (
        with_last.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts")).alias("purchase_us"),
            "last_view_us",
            ((F.unix_micros(F.col("ts")) - F.col("last_view_us")) / 1_000_000.0)
            .alias("secs_since_view"),
        )
    )


def big_order_customers(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                        min_qty: float = 150.0) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total lineitem quantity exceeds a
    threshold (aggregate → semi-join back), joined to their customer.
    The HAVING filter runs on the grouped fact table BEFORE the joins, so
    only qualifying order keys flow into the join graph."""
    qty = F.col("l_quantity").cast(D12_2)
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(min_qty).cast(D12_2))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


def cheapest_supplier_per_part(part: DataFrame, supplier: DataFrame,
                               lineitem: DataFrame) -> DataFrame:
    """TPC-H Q2-shaped min-per-group: for each part, the supplier offering
    the lowest extended price (decorrelated as a window rank, not a
    correlated subquery re-executed per row)."""
    priced = (
        lineitem.select(
            "l_partkey", "l_suppkey",
            F.col("l_extendedprice").cast(D12_2).alias("price"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("price").asc(), F.col("l_suppkey").asc()
    )
    return (
        priced.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("best_suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("price").cast("double").alias("best_price"),
        )
    )


def customer_set_ops(customer: DataFrame, orders: DataFrame, events: DataFrame) -> DataFrame:
    """Set operations: customers that placed orders INTERSECT/EXCEPT those
    appearing in the event stream, tagged by which set they fall in."""
    order_custs = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    event_custs = events.select(F.col("user_id").alias("custkey")).distinct()
    both = order_custs.intersect(event_custs).withColumn("bucket", F.lit("both"))
    only_orders = order_custs.exceptAll(event_custs).withColumn("bucket", F.lit("orders_only"))
    return both.unionByName(only_orders)


def events_pivot(events: DataFrame) -> DataFrame:
    """Pivot: one row per user, one count column per event type. Expressed
    as conditional aggregation (portable and skew-proof: a true PIVOT is
    sugar over exactly this plan)."""
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        for t in types
    ]
    return events.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))


def lineitem_column_stats(lineitem: DataFrame) -> DataFrame:
    """Per-column summary statistics (count/nulls/min/max/mean) — the
    engine's describe() analogue with deterministic exact math."""
    def stats(col, name):
        dec = F.col(col).cast(D12_2)
        return [
            F.count(F.col(col)).alias(f"{name}_count"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("long").alias(f"{name}_nulls"),
            F.min(dec).cast("double").alias(f"{name}_min"),
            F.max(dec).cast("double").alias(f"{name}_max"),
            F.round(F.sum(dec).cast("double") / F.count(F.col(col)), 6).alias(f"{name}_mean"),
        ]

    return lineitem.agg(*stats("l_quantity", "qty"), *stats("l_extendedprice", "price"))


def revenue_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of extended price per return flag
    (sort-based exact percentile, not the t-digest approximation — the
    approximate variant is not oracle-comparable across engines)."""
    price = F.col("l_extendedprice").cast(D12_2).cast("double")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.99)"), 4).alias("p99"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q16_supplier_part_types(
    part: DataFrame,
    lineitem: DataFrame,
    excl_brand: str = "Brand#1",
    excl_type: str = "PROMO",
    sizes: tuple = (1, 4, 7, 10, 13, 16, 19, 22),
) -> DataFrame:
    """TPC-H Q16-shaped, adapted to the testdata's columns: distinct
    supplier count per (brand, type, size) for qualifying parts, with the
    supplier relation derived from lineitem shipments (the testdata has no
    partsupp table — the shipped (partkey, suppkey) pairs are its
    observable stand-in; COVERAGE.md documents the adaptation).

    Shape: filters prune the part side BEFORE the join (pushed to the
    scan); part is the broadcast side against the lineitem fact; the
    distinct-supplier count aggregates once on the (brand, type, size)
    key. Same plan family as reference-shaped q16's partsupp join."""
    p = part.filter(
        (F.col("p_brand") != excl_brand)
        & (F.col("p_type") != excl_type)
        & F.col("p_size").isin(list(sizes))
    )
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


def q20_excess_shippers(
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    lineitem: DataFrame,
    name_prefix: str = "red",
    year: int = 1995,
    min_qty: float = 100.0,
    nation_name: str | None = None,
) -> DataFrame:
    """TPC-H Q20-shaped, adapted: suppliers who shipped more than
    ``min_qty`` units of ``name_prefix``-named parts during ``year``
    (the reference gates on partsupp availqty; shipped quantity is the
    testdata's observable stand-in), optionally restricted to one nation.

    Shape: the part filter broadcasts into the lineitem scan; the
    per-supplier quantity aggregate is one shuffle; supplier/nation are
    broadcast dims. The HAVING threshold rides the aggregate."""
    p = part.filter(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > min_qty)
    )
    out = shipped.join(
        F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
    ).join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    if nation_name is not None:
        out = out.filter(F.col("n_name") == nation_name)
    return out.select(
        "s_suppkey", "s_name", F.col("n_name").alias("nation"),
        F.col("qty_dec").cast("double").alias("shipped_qty"),
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
    size: int = 15,
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier, adapted: the testdata has no
    partsupp, so the observed unit cost ``min(l_extendedprice/l_quantity)``
    per shipped (partkey, suppkey) pair stands in for ps_supplycost.

    Shape is the point: Q2's correlated scalar subquery (min cost over the
    same part within the region) is decorrelated into a window-min over
    the part key — one shuffle on partkey covers both the per-pair cost
    aggregate's downstream consumer and the min — instead of re-scanning
    the cost relation per row.  supplier⋈nation⋈region are broadcast dims.
    Unit cost stays DOUBLE end to end: IEEE division and MIN are
    order-insensitive and bit-identical across engines, so the
    cost = min(cost) equality is deterministic (a SUM would not be).
    """
    p = part.filter(F.col("p_size") == size).select("p_partkey", "p_name", "p_brand")
    # push the part predicate through the cost aggregate: only 1/|size-
    # domain| of parts survive the final join, so aggregating every
    # shipped (part, supp) pair first wastes ~98%% of the shuffle — the
    # broadcast semi-join prunes the fact rows BEFORE the wide aggregate
    # (per-part window partitions are independent, so dropping other
    # parts is semantics-preserving)
    cost = (
        lineitem.join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey", "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    dims = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == region_name)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    in_region = cost.join(
        F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey")
    )
    w = Window.partitionBy("l_partkey")
    best = in_region.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", F.col("n_name").alias("nation"),
            "p_partkey", "p_name", "p_brand",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "nation", "s_name", "p_partkey"
        )
        .limit(limit)
    )


def q11_important_parts(
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
    nation_name: str = "NATION_3",
    multiple: int = 2,
) -> DataFrame:
    """TPC-H Q11-shaped important-stock identification, adapted: shipped
    value ``sum(l_extendedprice * (1 - l_discount))`` per part from one
    nation's suppliers stands in for partsupp value (no partsupp table),
    and the gate is "worth more than ``multiple``× the average part value"
    instead of a fixed fraction of the total — Q11's fraction is
    SF-dependent (0.0001/SF) and a constant would select zero rows past
    one scale; the average-relative form selects a stable tail at every
    SF while keeping the HAVING-against-a-global-scalar shape.

    Shape: the scalar subquery decorrelates into one per-part aggregate
    plus a second total aggregate over *the same grouped result* (not a
    second fact scan), broadcast back as a 1-row cross join — the fact
    table is read once.  Money math is exact DECIMAL, and the threshold
    compares ``value × n_parts > multiple × total`` so both engines
    evaluate it in exact decimal arithmetic (an AVG would surface as
    DOUBLE in the oracle); only the output casts down.
    """
    nat = nation.filter(F.col("n_name") == nation_name)
    sups = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    disc_price = _price() * _one_minus("l_discount")  # d(20,6) exact
    per_part = (
        lineitem.join(F.broadcast(sups), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(disc_price).alias("value_dec"))
    )
    # global total via an unpartitioned window over the GROUPED result:
    # the window table is part-cardinality (bounded), and the self-
    # referencing agg+crossJoin form compiled to TWO lineitem scans
    # (Catalyst does not reuse the exchange under a differing parent
    # aggregate — measured in the round-5 bench audit); the window keeps
    # the fact read truly single
    wall = Window.partitionBy()
    return (
        per_part.withColumn("total_dec", F.sum("value_dec").over(wall))
        .withColumn("n_parts", F.count(F.lit(1)).over(wall))
        .filter(
            F.col("value_dec") * F.col("n_parts")
            > F.col("total_dec") * F.lit(int(multiple))
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


def q21_waiting_suppliers(
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int = 60,
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting, adapted: the
    testdata has no receipt/commit dates, so "late" means the item shipped
    more than ``late_days`` days after the order date (status-F orders).

    Shape is the point: Q21's EXISTS (another supplier on the order) +
    NOT EXISTS (another *late* supplier) pair of correlated self-joins is
    re-expressed as one per-(order, supplier) aggregate plus WINDOW
    per-order rollups over that aggregate — a self-join rollup would make
    Spark recompute the fact scan + orders join + aggregate for each
    branch (verified on the executed plan), while the window reuses the
    single aggregated relation, which is |orders|·suppliers-per-order
    rows, orders of magnitude smaller than the fact.  One shuffle for the
    orders join + pair aggregate, one tiny one onto orderkey for the
    window, one on suppkey for the final count.  Classic numwait
    semantics are preserved exactly: a supplier's late *lineitems* count
    individually, and only when it is the sole late supplier on a
    multi-supplier order.  The DuckDB oracle runs the textbook
    EXISTS/NOT-EXISTS form, so the decorrelation itself is what the gate
    verifies.
    """
    flags = lineitem.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        "is_late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {int(late_days)} DAYS")
        ).cast("int"),
    )
    per_os = flags.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("is_late").alias("n_late_items")
    )
    w = Window.partitionBy("l_orderkey")
    sole_late = (
        per_os.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supp",
            F.sum((F.col("n_late_items") > 0).cast("int")).over(w),
        )
        .filter(
            (F.col("n_late_items") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.sum("n_late_items").alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(limit)
    )
