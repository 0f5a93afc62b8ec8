"""Engine-surface parity tail: IDENTIFIER() binding, existence-mark
joins, Poisson rate comparison, and experiment power analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.registry import query


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 3.5+/4): bind a TABLE NAME as a
    parameter — the injection-proof complement of
    sql_parameterized_query, which binds VALUES (a value parameter
    can never name a table; IDENTIFIER closes that gap for
    multi-tenant "same query, per-tenant table" services without
    f-string splicing).  The identifier resolves at analysis time, so
    the plan is identical to naming the table literally — pruning and
    pushdown unaffected."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM IDENTIFIER(:tab) GROUP BY o_orderstatus
        """,
        args={"tab": "orders"},
    )


@query(
    "join_existence_mark",
    oracle="""
    SELECT c_custkey,
           EXISTS(SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O') AS has_open_order
    FROM customer c
    """,
)
def join_existence_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-mark join: every customer row annotated with a
    boolean "has an open order" — the flag-producing sibling of
    join_left_semi (semi KEEPS matches, anti keeps non-matches; the
    mark join keeps EVERYTHING and tells you which).  A correlated
    EXISTS in the projection decorrelates to Spark's ExistenceJoin —
    one hash join on the customer key producing the mark, not two
    scans unioned, and never a count-then-compare.  Shuffle is by
    custkey on both sides; the orders side is pre-filtered to open
    orders before the join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O') AS has_open_order
        FROM customer c
        """
    )


@query(
    "ts_poisson_rate_test",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm, COUNT(*) AS n FROM events
      GROUP BY user_id % 2
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(ROUND(CAST(
             (CAST(n0 AS DOUBLE) - n1) / sqrt(CAST(n0 + n1 AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS z,
           CAST(ROUND(CAST(CAST(n0 AS DOUBLE) / n1 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS rate_ratio
    FROM w
    """,
)
def ts_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test on event counts between the
    user-parity cohorts (equal exposure): under H₀ the n₀ events of
    arm 0 among n₀+n₁ total are Binomial(n, ½), so
    z = (n₀−n₁)/√(n₀+n₁) — the conditional test (Przyborowski-
    Wilenski).  This is the COUNT counterpart of agg_ab_welch_t's
    mean test: a treatment can shift how OFTEN users act without
    shifting the per-event value, and only the rate test sees it.
    One partial-aggregated count pass; the statistic is scalar
    arithmetic on two integers."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n")
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    n0, n1 = F.col("n0"), F.col("n1")
    return w.select(
        n0.cast("long").alias("n0"),
        n1.cast("long").alias("n1"),
        _r(
            (n0.cast("double") - n1) / F.sqrt((n0 + n1).cast("double")), 6
        ).alias("z"),
        _r(n0.cast("double") / n1, 6).alias("rate_ratio"),
    )


@query(
    "agg_power_analysis_mde",
    oracle="""
    WITH g AS (
      SELECT user_id % 2 AS arm, COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
                 * CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ss
      FROM events GROUP BY user_id % 2
    ),
    pooled AS (
      SELECT SUM(n) AS n_total, MIN(n) AS n_min,
             SUM(s) AS s_all,
             (SUM(CAST(ss AS DOUBLE))
              - CAST(SUM(s) AS DOUBLE) * SUM(s) / SUM(n)) / (SUM(n) - 1)
               AS var_milli
      FROM g
    )
    SELECT CAST(n_min AS BIGINT) AS n_per_arm,
           CAST(ROUND(CAST(sqrt(var_milli) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS sd,
           CAST(ROUND(CAST(
             (1.959963985 + 0.8416212336)
             * sqrt(2 * var_milli / n_min) / 1000.0
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS mde_abs,
           CAST(ROUND(CAST(
             (1.959963985 + 0.8416212336) * sqrt(2 * var_milli / n_min)
             / (CAST(s_all AS DOUBLE) / n_total)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS mde_rel
    FROM pooled
    """,
)
def agg_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at α=0.05 (two-sided), power=0.8 for
    the current experiment size: MDE = (z₀.₉₇₅+z₀.₈)·√(2σ²/n) with σ
    the pooled sample SD and n the smaller arm — the planning number
    read BEFORE launching an A/B test on this traffic (if the effect
    you care about is below the MDE, the test cannot find it and
    agg_ab_welch_t will just print noise).  Variance reduces to exact
    int64 milli power sums in one pass; the z constants are fixed
    literals on both sides, so the only floats are the final scalar
    combination."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    g = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(milli).alias("s"),
        F.sum(milli * milli).alias("ss"),
    )
    pooled = g.agg(
        F.sum("n").alias("n_total"),
        F.min("n").alias("n_min"),
        F.sum("s").alias("s_all"),
        (
            (
                F.sum(F.col("ss").cast("double"))
                - F.sum("s").cast("double") * F.sum("s") / F.sum("n")
            )
            / (F.sum("n") - 1)
        ).alias("var_milli"),
    )
    zsum = F.lit(1.959963985 + 0.8416212336)
    mde_milli = zsum * F.sqrt(2 * F.col("var_milli") / F.col("n_min"))
    return pooled.select(
        F.col("n_min").cast("long").alias("n_per_arm"),
        _r(F.sqrt("var_milli") / 1000.0, 6).alias("sd"),
        _r(mde_milli / 1000.0, 6).alias("mde_abs"),
        _r(
            mde_milli / (F.col("s_all").cast("double") / F.col("n_total")), 6
        ).alias("mde_rel"),
    )


@query(
    "sql_analyze_table_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
           CAST(MIN(c_nationkey) AS BIGINT) AS nation_min,
           CAST(MAX(c_nationkey) AS BIGINT) AS nation_max,
           CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nation_nulls
    FROM customer
    """,
)
def sql_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS (+ FOR COLUMNS): persist
    table- and column-level statistics into the catalog and read them
    back — the food for Spark's cost-based optimizer (join reordering
    and compile-time broadcast decisions need rowCount/size; AQE only
    fixes things at RUNTIME after a shuffle already materialized).
    The query round-trips the catalog: saveAsTable → ANALYZE → pull
    rowCount/min/max/nullCount from DESCRIBE EXTENDED and return them
    AS DATA, verified against the oracle recomputing the same numbers
    from the raw table — proving the persisted stats are exact, not
    estimates (ndv, which IS an HLL estimate, is deliberately left
    out of the contract).  ANALYZE itself is one aggregate-shaped
    scan; everything else is catalog metadata."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # a previous process may have left the managed location behind
    # without a catalog entry (metastore and warehouse dir have
    # independent lifetimes across sessions) — clear both first
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS gw_stats_customer")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    leftover = f"{wh}/gw_stats_customer"
    shutil.rmtree(leftover, ignore_errors=True)
    c.write.mode("overwrite").saveAsTable("gw_stats_customer")
    spark.sql(
        "ANALYZE TABLE gw_stats_customer COMPUTE STATISTICS FOR COLUMNS c_nationkey"
    )
    tbl_stats = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE EXTENDED gw_stats_customer").collect()
    }
    # "N bytes, M rows"
    row_count = int(tbl_stats["Statistics"].split(",")[1].strip().split()[0])
    col = {
        r["info_name"]: r["info_value"]
        for r in spark.sql(
            "DESCRIBE EXTENDED gw_stats_customer c_nationkey"
        ).collect()
    }
    return spark.createDataFrame(
        [
            (
                row_count,
                int(col["min"]),
                int(col["max"]),
                int(col["num_nulls"]),
            )
        ],
        "row_count long, nation_min long, nation_max long, nation_nulls long",
    )


@query(
    "sql_scripting_threshold_search",
    oracle="""
    WITH candidates AS (
      SELECT CAST(t AS BIGINT) * 50000 AS threshold
      FROM UNNEST(range(1, 21)) u(t)
    ),
    counted AS (
      SELECT threshold,
             (SELECT COUNT(*) FROM orders
              WHERE o_totalprice > threshold) AS n_above
      FROM candidates
    )
    SELECT CAST(MIN(threshold) AS BIGINT) AS threshold,
           CAST(MIN_BY(n_above, threshold) AS BIGINT) AS n_above
    FROM counted WHERE n_above < 100
    """,
)
def sql_scripting_threshold_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL SCRIPTING (Spark 4 BEGIN…END): a procedural WHILE loop with
    DECLAREd variables runs INSIDE the SQL engine — here an iterative
    threshold search (raise the price cutoff in 50k steps until fewer
    than 100 orders exceed it), the shape every migration from stored
    procedures needs.  Each loop iteration is one aggregate query
    whose result feeds the loop condition via SET — control flow in
    the engine, not the driver.  The oracle replays the search
    declaratively (the closed form over the candidate grid), proving
    the procedural and declarative answers agree."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE threshold BIGINT DEFAULT 0;
          DECLARE n_above BIGINT DEFAULT 999999999;
          WHILE n_above >= 100 DO
            SET threshold = threshold + 50000;
            SET n_above = (SELECT COUNT(*) FROM orders
                           WHERE o_totalprice > threshold);
          END WHILE;
          SELECT threshold, n_above;
        END
        """
    )


@query(
    "pandas_api_groupby",
    oracle="""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(AVG(o_totalprice) AS DECIMAL(24,8)), 4)
                AS DOUBLE) AS mean_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-on-Spark API (`pyspark.sql` ⇄ `pyspark.pandas`): the
    pandas dialect compiling to the SAME Catalyst plans — a pandas
    user writes groupby/agg/reset_index and gets distributed
    execution with zero data movement at the API boundary
    (to_pandas_on_spark/to_spark are plan wrappers, not collects).
    This is an adoption surface, not a new operator: the point the
    oracle checks is that the pandas-API pipeline is value-identical
    to the SQL it compiles to."""
    import pyspark.pandas as pso

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    psdf = o.pandas_api()
    g = psdf.groupby("o_orderstatus")["o_totalprice"]
    out = pso.concat(
        [g.count().rename("n"), g.mean().rename("mean")], axis=1
    ).reset_index()
    sdf = out.to_spark()
    return sdf.select(
        F.col("o_orderstatus").alias("status"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("mean"), 4, "decimal(24,8)")
        .alias("mean_price"),
    )
