"""TPC-H queries and SQL-surface probes over the TPC-H tables."""

from __future__ import annotations

from pgferry_spark.entries.common import lake_table as _t
from pgferry_spark.entries.registry import register
from pgferry_spark.operators import queries as Q
from pgferry_spark.sources.parquet import load_tables


dec_price = "CAST(l_extendedprice AS DECIMAL(12,2))"
dec_qty = "CAST(l_quantity AS DECIMAL(12,2))"
one_minus = "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
disc_price = f"({dec_price} * {one_minus})"
one_plus = "(CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))"
charge = f"({disc_price} * {one_plus})"


@register("q1_pricing_summary", oracle=lambda: f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_qty}) AS DOUBLE) AS sum_qty,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({disc_price}) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM({charge}) AS DOUBLE) AS sum_charge,
                   COUNT(*) AS count_order,
                   ROUND(CAST(SUM({dec_qty}) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
                   ROUND(CAST(SUM({dec_price}) AS DOUBLE) / COUNT(*), 6) AS avg_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """)
def _q1(spark, sf):
    return Q.q1_pricing_summary(_t(spark, sf, "lineitem"))


@register("q3_shipping_priority", oracle=lambda: f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01'
              AND l_shipdate  > TIMESTAMP '1998-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """)
def _q3(spark, sf):
    return Q.q3_shipping_priority(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


@register("q5_local_supplier_volume", oracle=lambda: f"""
            SELECT n_name, CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """)
def _q5(spark, sf):
    return Q.q5_local_supplier_volume(
        _t(spark, sf, "region"),
        _t(spark, sf, "nation"),
        _t(spark, sf, "customer"),
        _t(spark, sf, "supplier"),
        _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"),
        region_name="ASIA",
    )


@register("q10_returned_revenue", oracle=lambda: f"""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """)
def _q10(spark, sf):
    return Q.q10_returned_revenue(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"), _t(spark, sf, "nation"),
    )


@register("q12_priority_counts", oracle="""
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_linestatus
        """)
def _q12(spark, sf):
    return Q.q12_priority_counts(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))


@register("q17_small_quantity_revenue", oracle=lambda: f"""
            SELECT ROUND(CAST(SUM({dec_price}) AS DOUBLE) / 7.0, 4) AS avg_yearly
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#4'
              AND CAST(l_quantity AS DOUBLE) < (
                SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       * 0.2 / COUNT(*)
                FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """)
def _q17(spark, sf):
    return Q.q17_small_quantity_revenue(
        _t(spark, sf, "part"), _t(spark, sf, "lineitem")
    )


@register("q6_forecast_revenue", oracle=lambda: f"""
            SELECT CAST(SUM({dec_price} * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND CAST(l_discount AS DECIMAL(6,4)) BETWEEN CAST(0.05 AS DECIMAL(6,4))
                                                       AND CAST(0.07 AS DECIMAL(6,4))
              AND l_quantity < 24
        """)
def _q6(spark, sf):
    return Q.q6_forecast_revenue(_t(spark, sf, "lineitem"))


@register("q14_promo_revenue", oracle=lambda: f"""
            SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {disc_price}
                                               ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
                         / CAST(SUM({disc_price}) AS DOUBLE), 6) AS promo_revenue_pct,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """)
def _q14(spark, sf):
    return Q.q14_promo_revenue(_t(spark, sf, "part"), _t(spark, sf, "lineitem"))


@register("q19_disjunctive_revenue", oracle=lambda: f"""
            SELECT CAST(SUM({disc_price}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
        """)
def _q19(spark, sf):
    return Q.q19_disjunctive_revenue(_t(spark, sf, "part"), _t(spark, sf, "lineitem"))


@register("q22_idle_customers", oracle="""
            WITH ab AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
              FROM customer WHERE c_acctbal > 0
            )
            SELECT c_nationkey, COUNT(*) AS n_custs,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
            FROM customer, ab
            WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1997-07-01')
            GROUP BY c_nationkey
        """)
def _q22(spark, sf):
    return Q.q22_idle_customers(_t(spark, sf, "customer"), _t(spark, sf, "orders"))


@register("q4_order_priority", oracle="""
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate <  TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """)
def _q4(spark, sf):
    return Q.q4_order_priority(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))


@register("q7_volume_shipping", oracle=lambda: f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """)
def _q7(spark, sf):
    return Q.q7_volume_shipping(
        _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation"),
    )


@register("q8_market_share", oracle=lambda: f"""
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   ROUND(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN {disc_price}
                                       ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
                         / CAST(SUM({disc_price}) AS DOUBLE), 6) AS mkt_share,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
            GROUP BY 1
        """)
def _q8(spark, sf):
    return Q.q8_market_share(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation"),
        _t(spark, sf, "region"),
    )


@register("q9_product_profit", oracle=lambda: f"""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(SUM({disc_price}) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """)
def _q9(spark, sf):
    return Q.q9_product_profit(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"), _t(spark, sf, "nation"),
    )


@register("q13_order_count_distribution", oracle="""
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """)
def _q13(spark, sf):
    return Q.q13_order_count_distribution(
        _t(spark, sf, "customer"), _t(spark, sf, "orders")
    )


@register("q15_top_supplier", oracle=lambda: f"""
            WITH r AS (
              SELECT l_suppkey, SUM({disc_price}) AS rev_dec
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT MAX(rev_dec) FROM r)
        """)
def _q15(spark, sf):
    return Q.q15_top_supplier(_t(spark, sf, "supplier"), _t(spark, sf, "lineitem"))


@register("q18_large_volume_customers", oracle="""
            WITH big AS (
              SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_dec
              FROM lineitem
              GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(300.0 AS DECIMAL(12,2))
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
                   CAST(sum_qty_dec AS DOUBLE) AS sum_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """)
def _q18(spark, sf):
    return Q.q18_large_volume_customers(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


@register("top_order_per_customer", oracle="""
            SELECT o_custkey, o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS best_price
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn = 1
        """)
def _top_order(spark, sf):
    return Q.top_order_per_customer(_t(spark, sf, "orders"))


@register("rollup_pricing", oracle=lambda: f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)
def _rollup(spark, sf):
    return Q.rollup_pricing(_t(spark, sf, "lineitem"))


@register("cube_pricing", oracle=lambda: f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({dec_price}) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS n_rows,
                   CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """)
def _cube(spark, sf):
    return Q.cube_pricing(_t(spark, sf, "lineitem"))


@register("distinct_orders_per_flag", oracle="""
            SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """)
def _distinct(spark, sf):
    return Q.distinct_orders_per_flag(_t(spark, sf, "lineitem"))


@register("big_order_customers", oracle="""
            WITH big AS (
              SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150.0 AS DECIMAL(12,2))
            )
            SELECT c_custkey, c_name, o_orderkey, CAST(total_qty AS DOUBLE) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """)
def _big_orders(spark, sf):
    return Q.big_order_customers(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


@register("cheapest_supplier_per_part", oracle="""
            WITH priced AS (
              SELECT l_partkey, l_suppkey, s_name,
                     CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                     row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)) ASC,
                                                 l_suppkey ASC) AS rn
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            )
            SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
                   s_name AS supplier_name, CAST(price AS DOUBLE) AS best_price
            FROM priced WHERE rn = 1
        """)
def _cheapest_supplier(spark, sf):
    return Q.cheapest_supplier_per_part(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"), _t(spark, sf, "lineitem")
    )


@register("customer_set_ops", oracle="""
            WITH oc AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
            ec AS (SELECT DISTINCT user_id AS custkey FROM events)
            SELECT custkey, 'both' AS bucket FROM (SELECT custkey FROM oc INTERSECT SELECT custkey FROM ec)
            UNION ALL
            SELECT custkey, 'orders_only' FROM (SELECT custkey FROM oc EXCEPT SELECT custkey FROM ec)
        """)
def _set_ops(spark, sf):
    return Q.customer_set_ops(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "events")
    )


@register("sql_exists_subquery", oracle="""
            SELECT c_custkey, c_mktsegment
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """)
def _sql_surface(spark, sf):
    """The SQL API surface: register temp views and execute literal SQL —
    an EXISTS subquery Catalyst decorrelates into a semi join."""
    for name in ("customer", "orders"):
        _t(spark, sf, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


@register("lineitem_column_stats", oracle="""
            SELECT COUNT(l_quantity) AS qty_count,
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
                   CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_min,
                   CAST(MAX(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_max,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                         / COUNT(l_quantity), 6) AS qty_mean,
                   COUNT(l_extendedprice) AS price_count,
                   CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_nulls,
                   CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_min,
                   CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_max,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                         / COUNT(l_extendedprice), 6) AS price_mean
            FROM lineitem
        """)
def _lineitem_stats(spark, sf):
    return Q.lineitem_column_stats(_t(spark, sf, "lineitem"))


@register("revenue_percentiles", oracle="""
            SELECT l_returnflag,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.5), 4) AS p50,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.9), 4) AS p90,
                   ROUND(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 0.99), 4) AS p99,
                   COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """)
def _percentiles(spark, sf):
    return Q.revenue_percentiles(_t(spark, sf, "lineitem"))


@register("minmax_probe", oracle="""
            SELECT 'orders' AS table_name, MIN(o_orderkey) AS min_key,
                   MAX(o_orderkey) AS max_key, COUNT(*) AS row_cnt
            FROM orders
        """)
def _minmax(spark, sf):
    return Q.minmax_probe(_t(spark, sf, "orders"), "o_orderkey", "orders")


@register("row_counts", oracle="""
            SELECT 'customer' AS table_name, COUNT(*) AS row_cnt FROM customer
            UNION ALL SELECT 'documents', COUNT(*) FROM documents
            UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
            UNION ALL SELECT 'events', COUNT(*) FROM events
            UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
            UNION ALL SELECT 'nation', COUNT(*) FROM nation
            UNION ALL SELECT 'orders', COUNT(*) FROM orders
            UNION ALL SELECT 'part', COUNT(*) FROM part
            UNION ALL SELECT 'region', COUNT(*) FROM region
            UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        """)
def _row_counts(spark, sf):
    return Q.row_counts(load_tables(spark, sf))


@register("q16_adapted", oracle="""
            SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
            GROUP BY p_brand, p_type, p_size
        """)
def _q16_adapted(spark, sf):
    """Q16-shaped distinct-supplier counts per (brand, type, size), with
    shipped (partkey, suppkey) pairs standing in for the absent partsupp."""
    return Q.q16_supplier_part_types(
        _t(spark, sf, "part"), _t(spark, sf, "lineitem")
    )


@register("q20_adapted", oracle="""
            WITH shipped AS (
              SELECT l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_name LIKE 'red%'
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1996-01-01'
              GROUP BY l_suppkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
            )
            SELECT s_suppkey, s_name, n_name AS nation,
                   CAST(qty_dec AS DOUBLE) AS shipped_qty
            FROM shipped
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
        """)
def _q20_adapted(spark, sf):
    """Q20-shaped excess shippers: > 100 units of red* parts in 1995,
    supplier/nation broadcast dims."""
    return Q.q20_excess_shippers(
        _t(spark, sf, "supplier"), _t(spark, sf, "nation"),
        _t(spark, sf, "part"), _t(spark, sf, "lineitem"),
    )


@register("q2_adapted", oracle="""
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     MIN(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2
            ),
            dims AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON n_nationkey = s_nationkey
              JOIN region ON r_regionkey = n_regionkey
              WHERE r_name = 'ASIA'
            ),
            best AS (
              SELECT c.l_partkey, c.unit_cost, d.s_name, d.s_acctbal, d.n_name,
                     MIN(c.unit_cost) OVER (PARTITION BY c.l_partkey) AS min_cost
              FROM cost c JOIN dims d ON d.s_suppkey = c.l_suppkey
            )
            SELECT s_acctbal, s_name, n_name AS nation,
                   p_partkey, p_name, p_brand,
                   ROUND(unit_cost, 6) AS unit_cost
            FROM best JOIN part ON p_partkey = l_partkey
            WHERE unit_cost = min_cost AND p_size = 15
            ORDER BY s_acctbal DESC, nation, s_name, p_partkey
            LIMIT 100
        """)
def _q2_adapted(spark, sf):
    """Q2-shaped min-cost supplier: window-min decorrelation of the
    correlated scalar subquery; shipped unit cost stands in for partsupp
    supplycost."""
    return Q.q2_min_cost_supplier(
        _t(spark, sf, "part"), _t(spark, sf, "supplier"),
        _t(spark, sf, "nation"), _t(spark, sf, "region"),
        _t(spark, sf, "lineitem"),
    )


@register("q11_adapted", oracle="""
            WITH sups AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON n_nationkey = s_nationkey
              WHERE n_name = 'NATION_3'
            ),
            per_part AS (
              SELECT l_partkey AS partkey,
                     SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
                       AS value_dec
              FROM lineitem JOIN sups ON s_suppkey = l_suppkey
              GROUP BY 1
            )
            SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
            FROM per_part
            WHERE value_dec * (SELECT COUNT(*) FROM per_part)
                  > (SELECT SUM(value_dec) FROM per_part) * 2
            ORDER BY part_value DESC, partkey
        """)
def _q11_adapted(spark, sf):
    """Q11-shaped important parts: HAVING vs a global scalar decorrelated
    into re-aggregation of the grouped result + broadcast cross join."""
    return Q.q11_important_parts(
        _t(spark, sf, "supplier"), _t(spark, sf, "nation"),
        _t(spark, sf, "lineitem"),
    )


# textbook correlated EXISTS/NOT-EXISTS form on purpose: the Spark
# side runs the decorrelated two-level aggregate, so a green row
# certifies the decorrelation, not just the arithmetic
@register("q21_adapted", oracle="""
            WITH l AS (
              SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE o_orderstatus = 'F'
            )
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
              AND EXISTS (
                SELECT 1 FROM l l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM l l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """)
def _q21_adapted(spark, sf):
    """Q21-shaped waiting suppliers: EXISTS/NOT-EXISTS pair decorrelated
    into a two-level aggregate; the oracle runs the textbook correlated
    form, so the gate verifies the decorrelation."""
    return Q.q21_waiting_suppliers(
        _t(spark, sf, "supplier"), _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"),
    )
