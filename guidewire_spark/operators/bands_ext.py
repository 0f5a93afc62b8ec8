"""Band/threshold analytics: Bollinger bands from exact integer
rolling power sums, weighted median via cumulative weights, corpus
duplication observability, and the Pareto 80/20 concentration point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import two_phase_ordered
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_bollinger_bands",
    oracle="""
    WITH ints AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS y
      FROM lineitem WHERE l_suppkey % 20 = 0
    ),
    sums AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, y,
             COUNT(*) OVER w AS n,
             SUM(y) OVER w AS sy,
             SUM(y * y) OVER w AS syy
      FROM ints
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(ROUND(CAST(CAST(sy AS DOUBLE) / n / 100.0
                           AS DECIMAL(24,10)), 4) AS DOUBLE) AS mid,
           CAST(ROUND(CAST(
             (CAST(sy AS DOUBLE) / n
              + 2 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) / n) / 100.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS upper_band,
           CAST(ROUND(CAST(
             (CAST(sy AS DOUBLE) / n
              - 2 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) / n) / 100.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS lower_band,
           y > 0 AND CAST(y AS DOUBLE)
             > CAST(sy AS DOUBLE) / n
               + 2 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) / n AS breakout
    FROM sums
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per supplier price series: trailing-20 mean ±
    2σ with a breakout flag — the volatility envelope behind band-
    based anomaly alerts. Same exact-arithmetic discipline as
    ts_rolling_corr: the frame sums Σy and Σy² are exact integer
    cents, the population variance term n·Σy² − (Σy)² is exact int64,
    and the only doubles are per-row conversions of identical
    integers — the breakout comparison can never flip between
    engines. Per-supplier partitioning keeps every frame local."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_suppkey") % 20 == 0
    )
    y = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    ints = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        y.alias("y"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-19, 0)
    )
    sums = ints.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n, sy, syy, yv = F.col("n"), F.col("sy"), F.col("syy"), F.col("y")
    mean_d = sy.cast("double") / n
    dev = 2 * F.sqrt((n * syy - sy * sy).cast("double")) / n
    return sums.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        _r(mean_d / 100.0, 4).alias("mid"),
        _r((mean_d + dev) / 100.0, 4).alias("upper_band"),
        _r((mean_d - dev) / 100.0, 4).alias("lower_band"),
        ((yv > 0) & (yv.cast("double") > mean_d + dev)).alias("breakout"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH vals AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS price_c,
             CAST(ROUND(l_quantity, 0) AS BIGINT) AS wt
      FROM lineitem
    ),
    grouped AS (
      SELECT l_returnflag, price_c, SUM(wt) AS w
      FROM vals GROUP BY l_returnflag, price_c
    ),
    cum AS (
      SELECT l_returnflag, price_c,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS total_w
      FROM grouped
    )
    SELECT l_returnflag,
           CAST(ROUND(CAST(MIN(price_c) / 100.0 AS DECIMAL(24,10)), 2)
                AS DOUBLE) AS weighted_median
    FROM cum WHERE cw * 2 >= total_w
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per group: the smallest price at
    which cumulative weight reaches half the total — the
    volume-weighted central price (plain median treats a 50-unit line
    like a 1-unit line). Weights and prices are exact integers, the
    half-total test is integer (cw·2 ≥ W, no division), and the
    cumulative pass runs over the DISTINCT-price aggregate per group,
    not raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("long")
        .alias("price_c"),
    ).agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("w"))
    cw = F.sum("w").over(
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total_w = F.sum("w").over(Window.partitionBy("l_returnflag"))
    cum = grouped.select(
        "l_returnflag", "price_c", cw.alias("cw"), total_w.alias("total_w")
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(_r(F.min("price_c") / 100.0, 2).alias("weighted_median"))
    )


@query(
    "dedup_dup_ratio_by_source",
    oracle="""
    WITH digests AS (
      SELECT source, md5(text) AS digest FROM documents
    ),
    per_digest AS (
      SELECT source, digest, COUNT(*) AS n
      FROM digests GROUP BY source, digest
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_duplicates,
           CAST(ROUND(CAST(CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n)
                                AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS dup_ratio
    FROM per_digest GROUP BY source
    """,
)
def dedup_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication observability: per-source exact-duplicate rate from
    content digests — the dashboard number that decides which feed
    gets the dedup budget (crawled feeds routinely run 30%+; a spike
    is an upstream loop). Digests shuffle, text never does; ratios are
    exact parts-per-million."""
    d = load_table(spark, sf_dir, "documents")
    per_digest = d.groupBy("source", F.md5("text").alias("digest")).agg(
        F.count("*").alias("n")
    )
    return per_digest.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_unique"),
        (F.sum("n") - F.count("*")).alias("n_duplicates"),
        _r(
            F.expr(
                "(sum(n) - count(*)) * 1000000 div sum(n)"
            ).cast("double")
            / 1e6,
            6,
        ).alias("dup_ratio"),
    )


@query(
    "window_pareto_8020",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS total,
             COUNT(*) OVER () AS n
      FROM cust
    )
    SELECT CAST(MIN(rnk) AS BIGINT) AS k_customers,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(ROUND(CAST(CAST(MIN(rnk) * 1000000 // MAX(n) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS customer_frac,
           CAST(ROUND(CAST(CAST(MIN(cum) * 1000000 // MAX(total) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS revenue_share
    FROM ranked WHERE cum * 5 >= total * 4
    """,
)
def window_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto point: the smallest top-k customer set covering 80%
    of revenue, with the customer fraction it represents (the "do 20%
    of customers make 80% of revenue?" answer, exactly). The 80%
    threshold test is pure integer (cum·5 ≥ total·4); ranking and
    cumulative sums run over the customer-sized aggregate in exact
    cents — TWO-PHASE (twophase.two_phase_ordered): the global rank
    AND the running revenue sum both come from partition-local
    windows plus broadcast prefix offsets, so no single task ever
    sorts the full customer set. Complements
    agg_top1pct_revenue_share (fixed-k share) with the fixed-share
    k."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = two_phase_ordered(
        cust,
        [F.desc("cents"), F.asc("o_custkey")],
        rank_name="rnk",
        total_name="n",
        cumsums={"cum": "cents"},
        sum_totals={"total": "cents"},
    ).select("cents", "rnk", "cum", "total", "n")
    hit = ranked.where(F.col("cum") * 5 >= F.col("total") * 4)
    return hit.agg(
        F.min("rnk").alias("k_customers"),
        F.max("n").alias("n_customers"),
        _r(
            F.expr("CAST(min(rnk) AS BIGINT) * 1000000 div max(n)").cast("double") / 1e6, 6
        ).alias("customer_frac"),
        _r(
            F.expr("min(cum) * 1000000 div max(total)").cast("double") / 1e6, 6
        ).alias("revenue_share"),
    )
