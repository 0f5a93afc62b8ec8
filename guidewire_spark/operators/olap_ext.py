"""OLAP and physical-strategy operator additions: exact distinct
counting via bitmap aggregates, explicit shuffle-hash join strategy,
the DISTRIBUTE BY / SORT BY SQL surface, period-over-period growth,
a one-pass trend + day-of-week seasonal decomposition, and mutual
information between categorical columns.

Float discipline: doubles appear per ROW (from exact integer inputs,
deterministic), never in a cross-row float sum — cross-row reductions
run over exact int64 or DECIMAL-rounded per-cell terms (decimal sums
are exact and order-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.registry import query


@query(
    "func_bitmap_family",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_bitmap,
           COUNT(DISTINCT user_id) AS n_distinct_exact
    FROM events GROUP BY event_type
    """,
)
def func_bitmap_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting through the bitmap aggregate family
    (bitmap_bit_position / bitmap_construct_agg / bitmap_count): ids
    land in fixed-width bitmap buckets, per-bucket bitmaps OR-merge,
    and the popcount sum is the EXACT distinct count — Spark's
    mergeable exact-distinct machinery (the precise sibling of HLL:
    pre-aggregatable per segment, constant merge cost, no error). The
    oracle states the contract: the bitmap path must equal
    COUNT(DISTINCT) exactly."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    bitmap_counts = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_bitmap")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_distinct_exact")
    )
    return bitmap_counts.join(exact, "event_type")


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(ROUND(CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
                                AS DOUBLE) / 100.0
                           AS DECIMAL(24,10)), 2) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join by explicit hint: when one side is too big to
    broadcast but small enough to hash per partition, SHUFFLE_HASH
    skips the sort phase a sort-merge join pays on BOTH sides — the
    right call for medium-dim × fact joins. Result is strategy-
    independent (the oracle is the plain join); the physical plan is
    locked to ShuffledHashJoin in tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    return (
        o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _r(F.sum(cents).cast("double") / 100.0, 2).alias("total"),
        )
    )


@query(
    "sql_distribute_cluster_by",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber FROM lineitem
    WHERE l_quantity > 45
    """,
)
def sql_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY (= CLUSTER BY when keys match): the SQL
    surface for explicit output partitioning — rows hash to partitions
    by the DISTRIBUTE keys and sort WITHIN each partition only (no
    global order, no single-reducer sort). This is how a SQL user
    pre-clusters a write so downstream bucketed/merge joins skip their
    shuffle. The row SET is unchanged (the oracle is the bare
    filter)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_orderkey, l_linenumber FROM lineitem
        WHERE l_quantity > 45
        DISTRIBUTE BY l_returnflag SORT BY l_returnflag, l_orderkey
        """
    )


@query(
    "window_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT l_returnflag,
             strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_returnflag, date_trunc('month', l_shipdate)
    )
    SELECT l_returnflag, month,
           CAST(ROUND(CAST(CAST(cents AS DOUBLE) / 100.0
                           AS DECIMAL(24,10)), 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(
             (CAST(cents AS DOUBLE) - LAG(CAST(cents AS DOUBLE))
                OVER (PARTITION BY l_returnflag ORDER BY month))
             / LAG(CAST(cents AS DOUBLE))
                OVER (PARTITION BY l_returnflag ORDER BY month)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS mom_growth
    FROM monthly
    """,
)
def window_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period (month-over-month) growth per series: the
    dashboard staple, as one aggregate + one lag window over the
    MONTH-sized result (the window never touches raw rows). Revenue
    sums are exact cents; the growth ratio is a per-row double from
    two exact integers — no float accumulates across rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    monthly = li.groupBy(
        "l_returnflag",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(F.sum(cents).alias("cents"))
    w = Window.partitionBy("l_returnflag").orderBy("month")
    cur = F.col("cents").cast("double")
    prev = F.lag(cur).over(w)
    return monthly.select(
        "l_returnflag",
        "month",
        _r(cur / 100.0, 2).alias("revenue"),
        _r((cur - prev) / prev, 6).alias("mom_growth"),
    )


@query(
    "ts_decompose_trend_seasonal",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_part('dow', ts) AS BIGINT) AS dow,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS total_q
      FROM events GROUP BY date_trunc('day', ts), date_part('dow', ts)
    ),
    trended AS (
      SELECT day, dow, total_q,
             CAST(ROUND(CAST(
               CAST(SUM(total_q) OVER w AS DOUBLE) / COUNT(*) OVER w
             AS DECIMAL(24,10)), 6) AS DOUBLE) AS trend_q
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detrended AS (
      SELECT *, CAST(ROUND((total_q - trend_q) * 1000000, 0) AS BIGINT)
                  AS detr_u
      FROM trended
    ),
    seasonal AS (
      SELECT dow,
             CAST(ROUND(CAST(CAST(SUM(detr_u) AS DOUBLE) / COUNT(*) / 1e6
                             AS DECIMAL(24,10)), 6) AS DOUBLE) AS seasonal_q
      FROM detrended GROUP BY dow
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dow,
           CAST(ROUND(CAST(d.total_q / 1000.0 AS DECIMAL(24,10)), 3) AS DOUBLE)
             AS observed,
           CAST(ROUND(CAST(d.trend_q / 1000.0 AS DECIMAL(24,10)), 6) AS DOUBLE)
             AS trend,
           CAST(ROUND(CAST(s.seasonal_q / 1000.0 AS DECIMAL(24,10)), 6) AS DOUBLE)
             AS seasonal,
           CAST(ROUND(CAST((d.total_q - d.trend_q - s.seasonal_q) / 1000.0
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS residual
    FROM detrended d JOIN seasonal s ON d.dow = s.dow
    """,
)
def ts_decompose_trend_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend + day-of-week seasonal decomposition (one-pass
    STL-lite): trend = centered 7-day moving average of the daily
    total; seasonal = per-dow mean of the detrended series; residual =
    the rest. The anomaly-detection preprocessing for any daily
    operational metric.

    Determinism chain: daily totals are exact integer milli-units; the
    trend is sum/count of exact ints (rounded at 6dp); detrended
    values re-quantize to exact integer micro-units BEFORE the
    per-dow mean, so the second averaging pass also reduces exact
    integers. Every window/aggregate runs over the DAY-sized table —
    raw events are touched exactly once."""
    e = load_table(spark, sf_dir, "events")
    q = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.sum(q).alias("total_q"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "dow",
        "total_q",
        _r(
            F.sum("total_q").over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("trend_q"),
    )
    detrended = trended.withColumn(
        "detr_u",
        F.round((F.col("total_q") - F.col("trend_q")) * 1000000, 0).cast("long"),
    )
    seasonal = detrended.groupBy("dow").agg(
        _r(
            F.sum("detr_u").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("seasonal_q")
    )
    return detrended.join(F.broadcast(seasonal), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        _r(F.col("total_q") / 1000.0, 3).alias("observed"),
        _r(F.col("trend_q") / 1000.0, 6).alias("trend"),
        _r(F.col("seasonal_q") / 1000.0, 6).alias("seasonal"),
        _r(
            (F.col("total_q") - F.col("trend_q") - F.col("seasonal_q")) / 1000.0,
            6,
        ).alias("residual"),
    )


@query(
    "agg_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(date_part('dow', ts) AS BIGINT) AS dow,
             COUNT(*) AS nij
      FROM events GROUP BY event_type, date_part('dow', ts)
    ),
    margins AS (
      SELECT c.event_type, c.dow, nij,
             SUM(nij) OVER (PARTITION BY c.event_type) AS ni,
             SUM(nij) OVER (PARTITION BY c.dow) AS nj,
             SUM(nij) OVER () AS n
      FROM cells c
    ),
    terms AS (
      SELECT CAST(ROUND(CAST(
               (CAST(nij AS DOUBLE) / n)
               * log2(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj))
             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS term
      FROM margins
    )
    SELECT CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS mi_bits
    FROM terms
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; day-of-week) in bits — the
    dependence screen between two categorical columns (0 = the event
    mix is the same every day). Built from the exact integer
    contingency table; each cell's p·log2 term is computed per row
    from exact counts and ROUNDED TO DECIMAL before the final sum, so
    the cross-row reduction is an exact decimal sum (order-free) and a
    1-ulp libm difference in log2 cannot surface. Everything beyond
    the first aggregate is contingency-table-sized."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("long").alias("dow")
    ).agg(F.count("*").alias("nij"))
    wi = Window.partitionBy("event_type")
    wj = Window.partitionBy("dow")
    wall = Window.partitionBy()
    margins = cells.select(
        "nij",
        F.sum("nij").over(wi).alias("ni"),
        F.sum("nij").over(wj).alias("nj"),
        F.sum("nij").over(wall).alias("n"),
    )
    nij, ni, nj, n = (
        F.col("nij").cast("double"),
        F.col("ni").cast("double"),
        F.col("nj").cast("double"),
        F.col("n").cast("double"),
    )
    term = F.round(
        ((nij / n) * F.log2(nij * n / (ni * nj))).cast("decimal(20,12)"), 12
    ).cast("decimal(20,12)")
    return margins.select(term.alias("term")).agg(
        _r(F.sum("term"), 6, "decimal(20,12)")
        .alias("mi_bits")
    )
