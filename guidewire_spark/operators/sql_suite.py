"""SQL-text query surface: multi-join analytical queries submitted as
``spark.sql(...)`` strings over registered views (SURVEY.md §2.2
"register output as external table, full SQL over it" — reference
``README.md:74-77``).

These are TPC-H-shaped (Q3/Q5/Q10 analogues adapted to the driver's
schema) and deliberately go through the SQL parser rather than the
DataFrame API: the engine's contract is that both front ends hit the
same Catalyst plans. The DuckDB oracles are near-verbatim twins,
which is the point — this is the portable surface.

Scale notes: all three are fact-to-fact joins on orders/lineitem with
dimension joins (region/nation/customer/supplier) that AQE broadcasts;
aggregation is partial+final; top-k uses ORDER BY + LIMIT which Spark
executes as TakeOrderedAndProject (no global sort materialization).

Revenue sums round through ``DECIMAL(18,4)`` on both sides:
``ROUND(double, 2)`` at a half cent differs between the engines (Spark
rounds the shortest decimal rendering, DuckDB the binary value), and
the two engines' sums can differ in the last bit, so a half-cent
revenue (449314.275 on one fixture seed) rounded .28 in Spark and .27
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from guidewire_spark.plans.catalog import register_views
from guidewire_spark.registry import query


@query(
    "sql_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue (shipping priority): unshipped revenue of
    BUILDING-segment orders, top-10. Tiebreak on l_orderkey keeps the
    LIMIT boundary deterministic across engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                    AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


@query(
    "sql_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue (local supplier volume): revenue where
    customer and supplier share a nation, per ASIA nation."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                    AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        """
    )


@query(
    "sql_correlated_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries — Catalyst rewrites
    them to left-semi and left-anti joins (the decorrelation path)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        """
    )


@query(
    "sql_scalar_subquery",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate — executed once,
    broadcast as a literal into the scan filter."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "sql_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue,
           ROUND(c_acctbal, 2) AS acctbal,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue (returned items): top-20 customers by lost
    revenue on returned lineitems in a half-year window."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                    AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue,
               ROUND(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-07-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """
    )


@query(
    "sql_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the canonical wide-aggregate
    scan — eight aggregates over one filtered pass, partial+final agg
    on a 6-value grouping key. The classic whole-stage-codegen
    benchmark query."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_extendedprice), 6) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "sql_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (revenue forecast): pure filter + global aggregate —
    every predicate pushes to the parquet scan, no shuffle at all
    beyond the single-row final agg."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@query(
    "sql_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def sql_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue (order priority checking): correlated EXISTS
    against the fact table (shipped-after-order in place of the
    dataset's missing commit/receipt dates) → left-semi join after
    decorrelation."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@query(
    "sql_q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
               / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def sql_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue (promotion effect): conditional aggregate
    ratio over a fact-to-dim join (part broadcasts under AQE)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                   / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        """
    )


@query(
    "sql_q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def sql_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customers): IN over a grouped-HAVING
    subquery on the fact table — Catalyst plans it as an aggregate
    feeding a left-semi join, so the big table is scanned twice but
    never joined to itself row-by-row."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               ROUND(o_totalprice, 2) AS totalprice,
               ROUND(SUM(l_quantity), 2) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        """
    )


@query(
    "sql_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             YEAR(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def sql_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional nation-pair revenue —
    a five-way join where both nation dims broadcast and the OR-pair
    predicate prunes before aggregation."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               ROUND(SUM(volume), 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 YEAR(l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
              OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """
    )


@query(
    "sql_q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nationkey_supp = 7 THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT YEAR(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             s_nationkey AS nationkey_supp
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def sql_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue (national market share): one supplier
    nation's share of European order volume per year — conditional
    aggregate over a six-way join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_year,
               ROUND(SUM(CASE WHEN nationkey_supp = 7 THEN volume ELSE 0 END)
                     / SUM(volume), 6) AS mkt_share
        FROM (
          SELECT YEAR(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 s_nationkey AS nationkey_supp
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year
        """
    )


@query(
    "sql_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def sql_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): double aggregation over a
    left join with a join-condition filter — customers with zero
    qualifying orders must appear in the c_count=0 bucket."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        """
    )


@query(
    "sql_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, ROUND(total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): CTE + scalar-subquery max — the CTE
    is evaluated once for the join and once for the max under
    Catalyst's subquery reuse."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, ROUND(total_revenue, 2) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


@query(
    "sql_q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def sql_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analogue (small-quantity-order revenue): correlated
    scalar subquery per part — Catalyst decorrelates it to an
    aggregate + join instead of a per-row subquery."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = lineitem.l_partkey)
        """
    )


@query(
    "sql_q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def sql_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue (discounted revenue): disjunction of
    conjunctive brand/size/quantity ranges — the classic OR-of-ANDs
    predicate that exercises CNF conversion and partial pushdown of
    the common join key."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 20 AND l_quantity <= 30)
        """
    )


@query(
    "sql_q22_global_sales_opportunity",
    oracle="""
    SELECT seg, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT SUBSTRING(c_mktsegment, 1, 1) AS seg, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_totalprice > 250000)
    ) custsale
    GROUP BY seg
    """,
)
def sql_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue (global sales opportunity): above-average
    customers with no large order — scalar subquery + anti join + group by
    a derived key (market-segment initial standing in for the phone
    country code the dataset lacks)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT seg, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM (
          SELECT SUBSTRING(c_mktsegment, 1, 1) AS seg, c_acctbal
          FROM customer
          WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                             WHERE c_acctbal > 0)
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_totalprice > 250000)
        ) custsale
        GROUP BY seg
        """
    )


# ---------------------------------------------------------------------------
# Completing the TPC-H analogue suite (Q2/Q9/Q11/Q12/Q16/Q20/Q21).
# The driver schema has no partsupp table and no commit/receipt dates,
# so these analogues derive the part-supplier relation from lineitem
# (unit_cost = min l_extendedprice/l_quantity per part+supplier) and
# stand in l_linestatus / shipdate-vs-orderdate lag for shipmode /
# lateness — preserving each query's *shape* (correlated min, double
# exists/anti, distinct-count group, nested IN-with-HAVING), which is
# what exercises the optimizer. SQL text is shared verbatim between
# Spark and the DuckDB oracle: this is the portable dialect surface.
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       CAST(ROUND(CAST(unit_cost AS DECIMAL(18, 6)), 2) AS DOUBLE)
         AS supplycost
FROM part
JOIN supply ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size = 25 AND p_type = 'LARGE' AND r_name = 'ASIA'
  AND unit_cost = (
    SELECT MIN(s2.unit_cost) FROM supply s2
    JOIN supplier sp ON sp.s_suppkey = s2.l_suppkey
    JOIN nation n2 ON sp.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE s2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
"""


@query("sql_q2_min_cost_supplier", oracle=_Q2_SQL)
def sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analogue (minimum-cost supplier): the part-supplier
    cost relation is derived from lineitem (no partsupp table in this
    schema); the correlated MIN subquery — itself a 3-way join — is
    what Q2 exercises, and Catalyst decorrelates it into an aggregate
    joined back on p_partkey. Both CTE consumers reuse one exchange."""
    register_views(spark, sf_dir)
    return spark.sql(_Q2_SQL)


_Q9_SQL = """
SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.1 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%') profit
GROUP BY nation, o_year
"""


@query("sql_q9_product_type_profit", oracle=_Q9_SQL)
def sql_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue (product-type profit): 5-way star join with a
    substring part filter, profit proxied as revenue minus a retail-
    price-based cost (no ps_supplycost in this schema), grouped by
    supplier nation and order year. The two fact tables shuffle on
    orderkey; every dimension broadcasts under AQE."""
    register_views(spark, sf_dir)
    return spark.sql(_Q9_SQL)


_Q11_SQL = """
SELECT l_partkey AS ps_partkey,
       ROUND(SUM(l_extendedprice * l_quantity), 2) AS value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY l_partkey
HAVING SUM(l_extendedprice * l_quantity) > (
  SELECT 1.6 * SUM(l_extendedprice * l_quantity) / COUNT(DISTINCT l_partkey)
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7')
"""


@query("sql_q11_important_stock", oracle=_Q11_SQL)
def sql_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analogue (important stock): per-part inventory value
    for one nation's suppliers, kept only when above 1.6x the average
    per-part share (scale-invariant, unlike Q11's fixed fraction) — a
    HAVING over a scalar subquery that re-aggregates the same filtered
    join (Catalyst reuses the exchange)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


_Q12_SQL = """
SELECT l_linestatus AS shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


@query("sql_q12_shipmode_priority", oracle=_Q12_SQL)
def sql_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue (shipping modes and order priority): late
    lines (shipped 60+ days after ordering — the schema has no
    commit/receipt dates) counted into high/low priority classes per
    linestatus. Conditional aggregation over a fact-fact join; the sums
    are CAST to BIGINT on both engines (DuckDB sums ints to HUGEINT)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q12_SQL)


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type NOT IN ('PROMO', 'ECONOMY')
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("sql_q16_parts_supplier_relationship", oracle=_Q16_SQL)
def sql_q16_parts_supplier_relationship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 analogue (parts/supplier relationship): distinct
    supplier count per (brand, type, size) bucket, excluding one brand,
    two type families, and suppliers with negative balances (standing
    in for the complaints filter) via NOT IN → null-aware anti join."""
    register_views(spark, sf_dir)
    return spark.sql(_Q16_SQL)


_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 25)
  AND n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
"""


@query("sql_q20_potential_promotion", oracle=_Q20_SQL)
def sql_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue (potential part promotion): suppliers in
    three nations who moved >25 units of any 'red' part during 1997 —
    an IN over a grouped-HAVING subquery, planned as aggregate → semi
    join with the date+name filters pushed to the scans."""
    register_views(spark, sf_dir)
    return spark.sql(_Q20_SQL)


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
  AND n_name = 'NATION_2'
GROUP BY s_name
"""


@query("sql_q21_suppliers_kept_waiting", oracle=_Q21_SQL)
def sql_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue (suppliers who kept orders waiting): the only
    supplier shipping late (60+ days past ordering) on a finished
    multi-supplier order — EXISTS + NOT EXISTS on the same fact table,
    planned as left-semi + left-anti joins co-partitioned on orderkey."""
    register_views(spark, sf_dir)
    return spark.sql(_Q21_SQL)


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(v, depth) AS (
      SELECT CAST(MIN(l_suppkey) AS BIGINT), 0
      FROM lineitem WHERE l_partkey % 100 = 0
      UNION ALL
      SELECT CAST(e.s2 AS BIGINT), w.depth + 1
      FROM walk w JOIN (
        SELECT DISTINCT a.sk AS s1, b.sk AS s2 FROM
          (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
           WHERE l_partkey % 100 = 0) a
          JOIN
          (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
           WHERE l_partkey % 100 = 0) b
          ON a.pk = b.pk AND a.sk <> b.sk) e
        ON e.s1 = w.v
      WHERE w.depth < 2
    )
    SELECT v AS vertex, CAST(MIN(depth) AS BIGINT) AS min_depth,
           COUNT(*) AS n_paths
    FROM walk GROUP BY v
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): depth-bounded BFS from the smallest
    supplier vertex over the co-supply graph — iterative reachability
    pushed INTO the SQL engine instead of a driver-side loop (the
    unrolled-loop alternative is graph_pagerank; this is the
    parser-native form). Each recursion step is one join of the
    frontier onto the edge list; the depth bound caps state, and the
    final aggregate collapses path multiplicity into (min depth,
    path count) per vertex."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(v, depth) AS (
          SELECT CAST(MIN(l_suppkey) AS BIGINT), 0
          FROM lineitem WHERE l_partkey % 100 = 0
          UNION ALL
          SELECT CAST(e.s2 AS BIGINT), w.depth + 1
          FROM walk w JOIN (
            SELECT DISTINCT a.sk AS s1, b.sk AS s2 FROM
              (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
               WHERE l_partkey % 100 = 0) a
              JOIN
              (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
               WHERE l_partkey % 100 = 0) b
              ON a.pk = b.pk AND a.sk <> b.sk) e
            ON e.s1 = w.v
          WHERE w.depth < 2
        )
        SELECT v AS vertex, CAST(MIN(depth) AS BIGINT) AS min_depth,
               COUNT(*) AS n_paths
        FROM walk GROUP BY v
        """
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT: the
    SQL-text form of top-k-per-group (the DataFrame twin is
    window_topk_per_group). Catalyst decorrelates this into a
    partitioned window/rank plan rather than executing the subquery
    per outer row — same physical shape, portable syntax."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        """
    )


@query(
    "sql_udf_create_function",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS band,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END || ':' || o_orderpriority AS band_prio
    FROM orders WHERE o_orderkey % 30 = 0
    """,
)
def sql_udf_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDF (Spark 4 CREATE FUNCTION ... RETURN expr): a named,
    catalog-managed scalar function whose body is pure SQL — unlike a
    Python UDF it inlines into the Catalyst plan (codegen, pushdown,
    no serialization boundary), which makes it the right way to share
    business logic across queries at scale. The oracle inlines the
    same expression, which is exactly what the optimizer does."""
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION gw_price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 200000 THEN 'high'
                    WHEN p >= 100000 THEN 'mid'
                    ELSE 'low' END
        """
    )
    return spark.sql(
        """
        SELECT o_orderkey,
               gw_price_band(o_totalprice) AS band,
               gw_price_band(o_totalprice) || ':' || o_orderpriority AS band_prio
        FROM orders WHERE o_orderkey % 30 = 0
        """
    )


@query(
    "sql_pivot_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)
                AS DECIMAL(24,10)), 2) AS DOUBLE) AS f_qty,
           CAST(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)
                AS DECIMAL(24,10)), 2) AS DOUBLE) AS o_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (the parser-native form of the DataFrame pivot
    in agg_pivot): rows→columns on an explicit value list. An explicit
    IN list is mandatory for the scalable plan — it compiles to one
    conditional aggregation pass; an inferred list would need an extra
    distinct scan first."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(ROUND(CAST(f_qty AS DECIMAL(24,10)), 2) AS DOUBLE) AS f_qty,
               CAST(ROUND(CAST(o_qty AS DECIMAL(24,10)), 2) AS DOUBLE) AS o_qty
        FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem)
        PIVOT (SUM(l_quantity) FOR l_linestatus IN ('F' AS f_qty, 'O' AS o_qty))
        """
    )


@query(
    "sql_unpivot_clause",
    oracle="""
    SELECT c_custkey, metric, CAST(ROUND(CAST(val AS DECIMAL(24,10)), 2)
           AS DOUBLE) AS val
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val
      FROM customer WHERE c_custkey % 40 = 0
      UNION ALL
      SELECT c_custkey, 'nkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
      FROM customer WHERE c_custkey % 40 = 0
    )
    """,
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNPIVOT clause: columns→rows without a join or explode —
    compiles to the same single-pass Expand node as the DataFrame
    unpivot (reshape_unpivot); the oracle is the UNION ALL the clause
    replaces (which would scan the input once per column)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, metric,
               CAST(ROUND(CAST(val AS DECIMAL(24,10)), 2) AS DOUBLE) AS val
        FROM (
          SELECT c_custkey, c_acctbal AS acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nkey
          FROM customer WHERE c_custkey % 40 = 0
        )
        UNPIVOT (val FOR metric IN (acctbal, nkey))
        """
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                AS DECIMAL(24,10)), 2) AS DOUBLE) AS disc_revenue
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 10
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators, SQL:2023-adjacent):
    the pricing-summary shape written as a linear pipeline —
    FROM |> WHERE |> AGGREGATE ... GROUP BY |> WHERE (post-agg filter,
    pipe's HAVING) |> SELECT — covering the table-first flow the
    classic nested SELECT inverts.  Catalyst lowers pipes to exactly
    the plan of the equivalent nested query (scan→filter→partial agg→
    exchange→final agg), so the surface costs nothing at 100 TB; the
    oracle is that equivalent classic query."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                     COUNT(*) AS n_rows,
                     CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount))
                          AS DECIMAL(24,10)), 2) AS DOUBLE) AS disc_revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_rows > 10
        |> SELECT l_returnflag, l_linestatus, sum_qty, n_rows, disc_revenue
        """
    )
