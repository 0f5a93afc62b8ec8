"""Additional operator coverage: set-op multiset variants, datetime
extras, JSON emission, id generation, and the two scale-critical join
strategies (salted skew join, bucketed co-located join).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "intersect_all_multiset",
    oracle="""
    SELECT o_orderstatus FROM orders WHERE o_totalprice > 150000
    INTERSECT ALL
    SELECT o_orderstatus FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
    """,
)
def intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiplicity-preserving intersection)."""
    o = load_table(spark, sf_dir, "orders")
    left = o.where(F.col("o_totalprice") > 150000).select("o_orderstatus")
    right = o.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderstatus")
    return left.intersectAll(right)


@query(
    "func_datetime_extras",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
           strftime(to_timestamp(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS roundtrip,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
           CAST(date_part('quarter', o_orderdate) AS BIGINT) AS qtr,
           CAST(date_part('dow', o_orderdate) AS BIGINT) + 1 AS dow,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders WHERE o_orderkey % 30 = 0
    """,
)
def func_datetime_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unix_timestamp / from_unixtime / add_months / quarter /
    dayofweek / last_day."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 30 == 0)
    ts = F.col("o_orderdate")
    epoch_s = F.unix_timestamp(ts)
    return o.select(
        "o_orderkey",
        epoch_s.alias("epoch_s"),
        F.from_unixtime(epoch_s, "yyyy-MM-dd HH:mm:ss").alias("roundtrip"),
        F.date_format(F.add_months(ts.cast("date"), 3), "yyyy-MM-dd").alias(
            "plus_3_months"
        ),
        F.quarter(ts).cast("long").alias("qtr"),
        F.dayofweek(ts).cast("long").alias("dow"),
        F.last_day(ts.cast("date")).alias("month_end"),
    )


@query(
    "func_to_json",
    oracle="""
    SELECT event_id,
           concat('{"id":', CAST(event_id AS VARCHAR),
                  ',"type":"', event_type, '"}') AS as_json,
           CAST(props->>'$.k' AS INT) AS k
    FROM events WHERE event_id % 100 = 0
    """,
)
def func_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json emission (struct → JSON string) + parse-back check."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 100 == 0)
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"), F.col("event_type").alias("type")
            )
        ).alias("as_json"),
        F.from_json("props", "k int").getField("k").alias("k"),
    )


@query(
    "func_monotonic_id",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS all_unique, TRUE AS non_negative,
           TRUE AS monotonic_within_partition
    FROM customer
    """,
)
def func_monotonic_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monotonically_increasing_id: partition-prefixed unique int64s —
    the scalable id generator (no coordination, unlike row_number
    without partitioning which funnels through one task).  The ids
    themselves are layout-dependent, so the QUERY emits the contract
    as booleans — every id unique, non-negative, and carrying its
    generating partition in the upper bits (id >> 33 == partition id,
    the documented encoding, which also implies monotonicity across
    partition order) — and the oracle asserts TRUE (bound-check
    conversion, round 9)."""
    r = load_table(spark, sf_dir, "customer").select(
        F.monotonically_increasing_id().alias("row_id"),
        F.spark_partition_id().cast("long").alias("pid"),
    )
    return r.agg(
        F.count("*").alias("n_rows"),
        (F.count_distinct("row_id") == F.count("*")).alias("all_unique"),
        (F.min("row_id") >= F.lit(0)).alias("non_negative"),
        F.min(
            F.shiftright("row_id", 33) == F.col("pid")
        ).alias("monotonic_within_partition"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_in_bounds, TRUE AS p90_in_bounds,
           TRUE AS p99_in_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch): the 100 TB
    substitute for exact percentiles — single pass, bounded memory,
    rank error <= n/accuracy.  Bound-check oracle (round 9): the
    sketch's answer is legitimately within-epsilon-of, not equal-to,
    any exact engine's, so the QUERY emits the GK guarantee itself —
    each approximate quantile lies between the exact quantiles at
    rank p ± eps — as booleans the SQL oracle asserts TRUE.  eps is
    10× the sketch's guaranteed 1/accuracy rank error: at small N the
    guarantee window is under one row and interpolation boundary
    effects could flip an honest answer, while a real machinery bug
    (wrong column, unit error, swapped quantiles) misses by far more
    than 10 ranks in 10000.
    A rank-bookkeeping bug in the sketch flips a boolean and
    hash-mismatches; tests/test_llm_quality.py additionally bounds
    the relative error."""
    li = load_table(spark, sf_dir, "lineitem")
    eps = 10.0 / 10000
    aggs = [
        F.count("*").alias("n_rows"),
    ]
    for p, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        aggs.append(
            F.percentile_approx("l_extendedprice", p, 10000).alias(f"a_{tag}")
        )
        aggs.append(
            F.percentile("l_extendedprice", F.lit(max(0.0, p - eps))).alias(
                f"lo_{tag}"
            )
        )
        aggs.append(
            F.percentile("l_extendedprice", F.lit(min(1.0, p + eps))).alias(
                f"hi_{tag}"
            )
        )
    wide = li.groupBy("l_returnflag").agg(*aggs)
    return wide.select(
        "l_returnflag",
        "n_rows",
        *[
            (
                (F.col(f"a_{tag}") >= F.col(f"lo_{tag}"))
                & (F.col(f"a_{tag}") <= F.col(f"hi_{tag}"))
            ).alias(f"{tag}_in_bounds")
            for tag in ("p50", "p90", "p99")
        ],
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: the fact side's join key is salted 8 ways and
    the dimension side exploded across the same salts, spreading any
    hot key over 8 reducers. Result is provably identical to the plain
    join (the oracle), only the physical distribution changes. (AQE
    skew-join handles moderate skew automatically; salting is the
    explicit engine-level tool for pathological keys.)"""
    n_salts = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts)))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    joined = li.join(
        o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt), "inner"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides bucketed 8 ways on the join
    key at write time → the join is shuffle-free (SortMergeJoin with no
    Exchange). This is the canonical pre-partitioning strategy for a
    repeatedly-joined 100 TB fact table."""
    warehouse = scratch_dir("gw_buckets_")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spark.sql("DROP TABLE IF EXISTS gw_orders_b")
    spark.sql("DROP TABLE IF EXISTS gw_customer_b")
    (
        o.write.mode("overwrite")
        .option("path", f"{warehouse}/orders_b")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("gw_orders_b")
    )
    (
        c.write.mode("overwrite")
        .option("path", f"{warehouse}/customer_b")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("gw_customer_b")
    )
    ob = spark.table("gw_orders_b")
    cb = spark.table("gw_customer_b")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "ts_resample_ffill",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE user_id % 20 = 0
    ),
    spans AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS gts
      FROM spans
    )
    SELECT g.user_id,
           CAST(epoch(g.gts) AS BIGINT) AS grid_ts,
           ROUND(e.value, 4) AS filled_value
    FROM grid g
    ASOF JOIN ev e ON g.user_id = e.user_id AND e.ts <= g.gts
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: a 6-hour grid per user
    spanning that user's activity, each grid point carrying the value
    of the user's latest event at-or-before it.

    Scale shape — the keyed union-and-window merge again: grid points
    (generated with ``sequence`` + ``explode`` from a per-user
    min/max aggregate, never collected to the driver) union with the
    events and one window partitioned by user forward-fills the value.
    One shuffle by user; grid generation is a per-user-sized aggregate.
    Grid points before a user's first event are dropped (ASOF inner),
    but the grid starts at the hour-truncated first event so only the
    leading partial hour can be empty.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    ev = e.select("user_id", "ts", "value")
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"), F.max("ts").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 6 HOURS"))
        ).alias("gts"),
    )
    tagged = ev.select(
        "user_id",
        F.col("ts"),
        F.col("value"),
        F.lit(0).alias("is_grid"),
    ).unionByName(
        grid.select(
            "user_id",
            F.col("gts").alias("ts"),
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_grid").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("fv", F.last("value", ignorenulls=True).over(w))
        .where((F.col("is_grid") == 1) & F.col("fv").isNotNull())
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("grid_ts"),
            F.round("fv", 4).alias("filled_value"),
        )
    )


@query(
    "ts_rolling_zscore",
    oracle="""
    SELECT user_id, event_id,
           ROUND((value - m) / s, 4) AS zscore
    FROM (
      SELECT user_id, event_id, value,
             AVG(value) OVER w AS m,
             STDDEV_SAMP(value) OVER w AS s
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE user_id % 20 = 0)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    WHERE s IS NOT NULL AND s > 0.001
    """,
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly score in batch: each event's value
    z-scored against the trailing 10 events of the same user (mean and
    sample stddev over a preceding-only frame — no lookahead leakage).
    One shuffle by user; the frame never materializes beyond the
    window operator's ring buffer."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-10, -1)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            "value",
            F.avg("value").over(w).alias("m"),
            F.stddev_samp("value").over(w).alias("s"),
        )
        .where(F.col("s").isNotNull() & (F.col("s") > 0.001))
        .select(
            "user_id",
            "event_id",
            F.round((F.col("value") - F.col("m")) / F.col("s"), 4).alias("zscore"),
        )
    )


@query(
    "profile_table_columns",
    oracle="""
    SELECT 'o_totalprice' AS col,
           COUNT(*) AS n_rows,
           COUNT(o_totalprice) AS n_nonnull,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           ROUND(MIN(o_totalprice), 2) AS min_val,
           ROUND(MAX(o_totalprice), 2) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           ROUND(MIN(o_custkey), 2), ROUND(MAX(o_custkey), 2)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(*), COUNT(o_orderkey),
           COUNT(DISTINCT o_orderkey),
           ROUND(MIN(o_orderkey), 2), ROUND(MAX(o_orderkey), 2)
    FROM orders
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality staple): row/non-null/
    distinct counts and min/max per numeric column, computed in ONE
    aggregation pass over the table and reshaped to long format —
    never one scan per column."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_totalprice", "o_custkey", "o_orderkey"]
    wide = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
        *[F.round(F.min(c).cast("double"), 2).alias(f"mn_{c}") for c in cols],
        *[F.round(F.max(c).cast("double"), 2).alias(f"mx_{c}") for c in cols],
    )
    per_col = [
        F.struct(
            F.lit(c).alias("col"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_nonnull"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_val"),
            F.col(f"mx_{c}").alias("max_val"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


@query(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, ROUND(val, 2) AS val
    FROM (
      SELECT l_orderkey, l_linenumber,
             'price' AS metric, l_extendedprice AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'qty', l_quantity FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    ) WHERE l_orderkey % 50 = 0
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long, the inverse of agg_pivot): three measure
    columns melt into (metric, val) rows via the native unpivot
    operator — an Expand node, one pass, no self-union of scans."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            [
                F.col("l_extendedprice").alias("price"),
                F.col("l_quantity").alias("qty"),
                F.col("l_tax").alias("tax"),
            ],
            "metric",
            "val",
        )
        .select(
            "l_orderkey", "l_linenumber", "metric", F.round("val", 2).alias("val")
        )
    )


@query(
    "ts_funnel_view_click_purchase",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    first_view AS (
      SELECT user_id, MIN(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ),
    first_click AS (
      SELECT v.user_id, MIN(e.ts) AS t_click
      FROM first_view v JOIN ev e
        ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY v.user_id
    ),
    first_purchase AS (
      SELECT c.user_id, MIN(e.ts) AS t_purchase
      FROM first_click c JOIN ev e
        ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY c.user_id
    )
    SELECT v.user_id,
           TRUE AS reached_view,
           (c.user_id IS NOT NULL) AS reached_click,
           (p.user_id IS NOT NULL) AS reached_purchase
    FROM first_view v
    LEFT JOIN first_click c USING (user_id)
    LEFT JOIN first_purchase p USING (user_id)
    """,
)
def ts_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per user,
    which stages were reached IN ORDER — a click only counts after the
    first view, a purchase only after that first qualifying click.

    Scale shape: one aggregation per stage over the events narrowed to
    that stage's type, each joined on user_id (per-user-sized frames
    after the first min-aggregate; the big fact is scanned per stage
    with the stage predicate pushed into the scan). No window over the
    whole event stream, no per-user collect.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    first_view = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    first_click = (
        first_view.join(clicks, "user_id")
        .where(F.col("c_ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("c_ts").alias("t_click"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    first_purchase = (
        first_click.join(purchases, "user_id")
        .where(F.col("p_ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("t_purchase"))
    )
    return (
        first_view.join(
            first_click.select("user_id", F.lit(True).alias("clicked")),
            "user_id",
            "left",
        )
        .join(
            first_purchase.select("user_id", F.lit(True).alias("purchased")),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.lit(True).alias("reached_view"),
            F.coalesce("clicked", F.lit(False)).alias("reached_click"),
            F.coalesce("purchased", F.lit(False)).alias("reached_purchase"),
        )
    )


@query(
    "agg_histogram_width_bucket",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE CAST(FLOOR(o_totalprice / 25000) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def agg_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket: 20 price buckets over a
    fixed range with per-bucket bounds — the profiling/monitoring
    staple, one partial+final aggregation pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20))
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "ts_cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    cohort AS (
      SELECT user_id,
             date_trunc('week', MIN(ts)) AS cohort_week
      FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(date_diff('day', c.cohort_week, date_trunc('week', e.ts)) / 7
                  AS BIGINT) AS week_offset
      FROM ev e JOIN cohort c USING (user_id)
      WHERE e.ts >= c.cohort_week
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           a.week_offset,
           COUNT(*) AS n_active
    FROM cohort c JOIN activity a USING (user_id)
    GROUP BY c.cohort_week, a.week_offset
    """,
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by signup week, counted as
    active in each subsequent week-offset — the classic retention
    triangle. Cohort assignment is a per-user min-aggregate; activity
    dedups to (user, week) before counting so heavy users don't skew
    retention; both shuffles are user-sized, never event-sized."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    cohort = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        e.join(cohort, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
    ).agg(F.count("*").alias("n_active"))


@query(
    "ts_interval_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           CAST(COUNT(v.ts) AS BIGINT) AS n_views_1h,
           CAST(ROUND(CAST(COALESCE(SUM(v.value), 0)
                AS DECIMAL(24,8)), 4) AS DOUBLE) AS view_value_1h
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def ts_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join, the batch twin of a stream-stream time-bound
    join: for every purchase, the count and value-sum of the same
    user's view events in the preceding hour (inclusive bounds).

    NOT implemented as a range-predicate join (O(n·m) within key):
    both event types union into one stream per user and a single
    RANGE window frame on epoch-microseconds does the interval
    aggregation — one shuffle by user_id, per-row cost bounded by the
    frame, the plan a stream-stream join's state store approximates.
    Ties at the same timestamp are all included (RANGE, not ROWS —
    matching the oracle's closed-interval predicate).
    """
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    tagged = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("event_type") == "view").alias("is_view"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        tagged.withColumn(
            "n_views_1h",
            F.count(F.when(F.col("is_view"), F.lit(1))).over(w),
        )
        .withColumn(
            "view_value_1h",
            stable_round(
                F.coalesce(
                    F.sum(F.when(F.col("is_view"), F.col("value"))).over(w),
                    F.lit(0.0),
                ),
                4,
                "decimal(24,8)",
            ),
        )
        .where(~F.col("is_view"))
        .select("event_id", "user_id", "n_views_1h", "view_value_1h")
    )
