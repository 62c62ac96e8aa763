"""Relational analytics (h): TPC-H-shaped star joins over the
lineitem/orders/customer tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.operators import relational as rel
from file_indexer_spark.registry_core import register
from file_indexer_spark.tables import load_table


_REV_E4_SQL = """CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)"""


@register(
    "h1_regional_revenue",
    f"""
    SELECT n_name, {_REV_E4_SQL} AS revenue_e4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_e4 DESC, n_name
    """,
)
def h1_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape, DataFrame-native: bounded nation x region dim is
    force-broadcast; customer/supplier joins are left to AQE (they
    scale with the corpus); date predicates push into the fact scans."""
    return rel.regional_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "h2_returned_top_customers",
    f"""
    WITH per_customer AS (
        SELECT o_custkey, {_REV_E4_SQL} AS revenue_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY o_custkey
        ORDER BY revenue_e4 DESC, o_custkey
        LIMIT 20
    )
    SELECT c_custkey, c_name, revenue_e4,
           round(c_acctbal, 2) AS acctbal, n_name AS nation
    FROM per_customer
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue_e4 DESC, c_custkey
    """,
)
def h2_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: per-customer aggregate BEFORE the detail join,
    so the join input is one row per customer, not per lineitem."""
    return rel.returned_top_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "h3_late_order_priorities",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def h3_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS rewritten as per-order max(l_shipdate)
    pre-aggregation + equi join (commit d930a12; the LeftSemi form
    hash-built the fact side — test_plans.py pins LeftSemi OUT of the
    plan)."""
    return rel.order_priority_counts(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "h4_pricing_summary",
    """
    WITH l AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity * 100) AS BIGINT) AS qty_e2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty_e2) AS BIGINT) AS sum_qty_e2,
           CAST(SUM(price_e2) AS BIGINT) AS sum_base_price_e2,
           CAST(SUM(price_e2 * (100 - disc_pct)) AS BIGINT) AS sum_disc_price_e4,
           CAST(SUM(price_e2 * (100 - disc_pct) * (100 + tax_pct)) AS BIGINT)
               AS sum_charge_e6,
           round(CAST(SUM(qty_e2) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_qty,
           round(CAST(SUM(price_e2) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price,
           COUNT(*) AS count_order
    FROM l
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def h4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one lineitem scan, one 6-group hash agg, every
    measure fixed-point BIGINT so partial-agg order can't drift."""
    return rel.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "h5_shipping_priority",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_e4 DESC, o_orderdate, o_orderkey
    LIMIT 10
    """,
)
def h5_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer → orders → lineitem,
    join strategy left to AQE (customer grows with SF — no forced
    broadcast); top-10 is TakeOrderedAndProject over O(orders) rows."""
    return rel.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "h6_revenue_forecast",
    """
    -- TPC-H Q6 shape: single fact scan, every predicate pushed to the
    -- parquet reader, zero joins, fixed-point BIGINT revenue.
    WITH l AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 4 AND 8
          AND l_quantity < 24)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(price_e2 * disc_pct) AS BIGINT) AS revenue_e4
    FROM l
    """,
)
def h6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure pushdown scan + one-row global agg."""
    return rel.revenue_forecast(load_table(spark, sf_dir, "lineitem"))


@register(
    "h7_large_volume_customers",
    """
    -- TPC-H Q18 shape: HAVING on the big per-order quantity aggregate,
    -- then joins against orders/customer, top-100 by order value. The
    -- engine's rewrite keeps the HAVING pass's sum instead of
    -- re-joining lineitem (one fact shuffle, not two).
    WITH q AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice, q.total_qty
    FROM q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def h7_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume customers — HAVING-pruned per-order
    quantity agg (one lineitem shuffle), joins shrink to the qualifying
    orders, TakeOrderedAndProject top-100."""
    return rel.large_volume_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "h8_order_count_distribution",
    """
    -- TPC-H Q13 shape: orders-per-customer distribution INCLUDING the
    -- zero bucket (left outer join + double aggregation). The
    -- order-side exclusion rides the join condition, exactly like the
    -- engine's pre-join filter.
    WITH per_customer AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority NOT LIKE '%URGENT%'
        GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_customer GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def h8_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the left-outer count-distribution shape — unmatched
    customers MUST surface as the zero bucket; second agg is O(max
    count) rows."""
    return rel.order_count_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "h9_idle_rich_customers",
    """
    -- TPC-H Q22 shape: above-average balances with no orders — scalar
    -- subquery + anti-join + segment rollup. The boundary is integer
    -- cross-multiplication (cents * n_pos > total_pos_cents), so no
    -- engine's float-avg accumulation order can flip a member.
    WITH cents AS (
        SELECT c_custkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer),
    s AS (
        SELECT CAST(SUM(bal_cents) AS BIGINT) AS total_pos_cents,
               COUNT(*) AS n_pos
        FROM cents WHERE bal_cents > 0),
    cand AS (
        SELECT c.c_mktsegment, c.bal_cents
        FROM cents c, s
        WHERE c.bal_cents * s.n_pos > s.total_pos_cents
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey))
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
    FROM cand GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def h9_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: scalar-aggregate broadcast + LEFT ANTI join; the
    qualifying boundary is exact integer arithmetic on cents."""
    return rel.idle_rich_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "h10_nation_trade_volume",
    """
    -- TPC-H Q7 shape: supplier-nation x customer-nation trade volume
    -- by order year — the widest join tree in the pack; fixed-point
    -- BIGINT revenue, O(nations^2 x years) output.
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev) AS BIGINT) AS revenue_e4
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS l_year,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name) t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def h10_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: one pass over lineitem; nation force-broadcast (25
    rows forever), supplier/customer joins left to AQE; pair filter and
    year extraction map-side."""
    return rel.nation_trade_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "h11_top_revenue_suppliers",
    """
    -- TPC-H Q15 shape: maximum-revenue supplier(s) over a quarter,
    -- ties kept; fixed-point BIGINT revenue.
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
                   AS revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey),
    mx AS (SELECT MAX(revenue_e4) AS max_rev FROM rev)
    SELECT s.s_suppkey, s.s_name, r.revenue_e4
    FROM rev r, mx
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.revenue_e4 = mx.max_rev
    ORDER BY s.s_suppkey
    """,
)
def h11_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: one lineitem shuffle (date pushed), scalar-max
    broadcast, equality join-back keeps ties."""
    return rel.top_revenue_suppliers(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


# The module's fixed-point line-revenue fragment (relational.py
# _revenue_e4 rendered in SQL) — shared by the oracles below.
_REV_E4 = (
    "CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))"
)


@register(
    "h12_promo_revenue_share",
    f"""
    -- TPC-H Q14 shape: one month's promo-type revenue share. Exact
    -- BIGINT sums; the share is one double division of two exact
    -- integers, bit-identical between engines.
    WITH j AS (
        SELECT {_REV_E4} AS rev, p.p_type
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00')
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
               AS promo_revenue_e4,
           CAST(SUM(rev) AS BIGINT) AS total_revenue_e4,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                              AS DOUBLE)
                       / CAST(SUM(rev) AS DOUBLE), 4) AS promo_share_pct
    FROM j
    """,
)
def h12_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: shipdate range pushed to the fact scan, part joined
    declaratively (AQE broadcast at small SF), map-side CASE, one-row
    aggregate."""
    return rel.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "h13_small_qty_revenue",
    """
    -- TPC-H Q17 shape: the correlated 20%%-of-average quantity test,
    -- decorrelated to a per-part window; exact integer
    -- cross-multiplication (qty*5*n < sum) avoids the float average.
    WITH lines AS (
        SELECT l.l_partkey,
               CAST(ROUND(l.l_quantity * 100) AS BIGINT) AS qty_e2,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_e2
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#4' AND p.p_size <= 10),
    flagged AS (
        SELECT qty_e2, price_e2,
               SUM(qty_e2) OVER (PARTITION BY l_partkey) AS sum_qty_e2,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n_lines_part
        FROM lines)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(SUM(price_e2) AS BIGINT) AS revenue_e2
    FROM flagged
    WHERE qty_e2 * 5 * n_lines_part < sum_qty_e2
    """,
)
def h13_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: brand+size predicates pushed to the part scan; ONE
    shuffle of the qualifying slice onto l_partkey; window + threshold
    partition-local (no join-back, no second lineitem scan)."""
    return rel.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "h14_disjunctive_revenue",
    f"""
    -- TPC-H Q19 shape: OR-of-ANDs across both join sides; the oracle
    -- states the raw disjunction (DuckDB infers its own pushdowns).
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 5 AND 15)
       OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def h14_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the implied single-table relaxations are stated as
    explicit filters so both scans prune before the join; the exact
    disjunction runs map-side on the joined slice."""
    return rel.disjunctive_band_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "h15_waiting_suppliers",
    """
    -- TPC-H Q21 shape: EXISTS(co-supplier) and NOT EXISTS(other late
    -- supplier) collapsed to per-order counts over a (orderkey,
    -- suppkey) pre-aggregate; late = shipped > 60 days after order.
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS max_shipdate
        FROM lineitem GROUP BY l_orderkey, l_suppkey),
    flagged AS (
        SELECT p.l_orderkey, p.l_suppkey,
               CASE WHEN p.max_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM per_os p JOIN orders o ON p.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'),
    counted AS (
        SELECT l_suppkey, is_late,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
               SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM flagged),
    waiting AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM counted
        WHERE is_late = 1 AND n_suppliers >= 2 AND n_late = 1
        GROUP BY l_suppkey)
    SELECT s.s_name, w.numwait
    FROM waiting w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def h15_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: three fact-side shuffles on the SAME key (orderkey)
    replace two self-joins of the fact table; nation filter applies at
    the tiny dim join after counting."""
    return rel.waiting_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "h16_market_share",
    f"""
    -- TPC-H Q8 shape: NATION_3's share of ASIA's ECONOMY-part market
    -- by order year. Exact BIGINT sums; one double division per year.
    WITH j AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               {_REV_E4} AS rev, n2.n_name AS supplier_nation
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o ON l.l_orderkey = o.o_orderkey
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey)
    SELECT o_year,
           CAST(SUM(CASE WHEN supplier_nation = 'NATION_3' THEN rev ELSE 0 END)
                AS BIGINT) AS nation_revenue_e4,
           CAST(SUM(rev) AS BIGINT) AS total_revenue_e4,
           ROUND(100.0 * CAST(SUM(CASE WHEN supplier_nation = 'NATION_3'
                                       THEN rev ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share_pct
    FROM j GROUP BY o_year ORDER BY o_year
    """,
)
def h16_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: every dim narrows before the single fact pass;
    nation⋈region force-broadcast (bounded forever), the growing dims
    left to AQE."""
    return rel.national_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
    )
