"""Growth-metrics operators — the product-analytics block every
consumer dashboard leads with: cumulative distinct users, daily new
vs returning split, rolling 7-day active users (WAU), and DAU/MAU
stickiness. All derive from the (user, active-day) pair table; no
metric ever re-scans raw events past the first aggregate, and rolling
distinct counts use the explode-into-covering-windows identity rather
than an (impossible) DISTINCT window aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
      FROM events GROUP BY user_id
    ),
    per_day AS (SELECT d0, COUNT(*) AS n_new FROM first_seen GROUP BY d0)
    SELECT strftime(d0, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (ORDER BY d0
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
)
def ts_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day via the first-seen identity:
    distinct-users-to-date(d) = Σ new users whose FIRST day ≤ d — one
    per-user min, one day-level count, one running sum over the
    day-sized table. The naive form (count distinct over an expanding
    window) re-scans history per day; this shape never does."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    per_day = first_seen.groupBy("d0").agg(F.count("*").alias("n_new"))
    cum = F.sum("n_new").over(
        Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        F.date_format("d0", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("long").alias("n_new"),
        cum.cast("long").alias("cumulative_users"),
    )


@query(
    "ts_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    first_seen AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count_if(day = d0) AS BIGINT) AS new_users,
           CAST(count_if(day > d0) AS BIGINT) AS returning_users
    FROM ud JOIN first_seen USING (user_id)
    GROUP BY day
    """,
)
def ts_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning actives: each (user, day) activity pair
    is classified by whether the day is the user's first — the
    acquisition-vs-retention split under every DAU chart. The
    first-seen side is user-cardinality-sized and joins back on
    user_id (co-partitioned with the pair table's own aggregation
    key, so one shuffle family serves the whole query)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    joined = ud.join(first_seen, "user_id")
    return joined.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count_if(F.col("day") == F.col("d0")).alias("new_users"),
        F.count_if(F.col("day") > F.col("d0")).alias("returning_users"),
    )


@query(
    "ts_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
    covered AS (
      SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS target_day
      FROM ud, UNNEST(range(0, 7)) AS t(o)
    )
    SELECT strftime(target_day, '%Y-%m-%d') AS day,
           COUNT(*) AS wau
    FROM covered, bounds
    WHERE target_day >= lo + 6 AND target_day <= hi
    GROUP BY target_day
    """,
)
def ts_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day — THE growth metric.
    A distinct count over a sliding window has no window-aggregate
    form, so each active (user, day) pair EXPLODES into the 7 future
    days it covers; distinct (user, target_day) then counts per day —
    the covering-windows identity. The 7× expansion happens map-side
    on the user-day pair table (already distinct-collapsed from raw
    events), and partial days at the range edges are excluded rather
    than silently under-reported."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    bounds = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    covered = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
    ).select(
        "user_id", F.date_add(F.col("day"), F.col("o")).alias("target_day")
    ).distinct()
    return (
        covered.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("target_day") >= F.date_add(F.col("lo"), 6))
            & (F.col("target_day") <= F.col("hi"))
        )
        .groupBy(F.date_format("target_day", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("wau"))
    )


@query(
    "agg_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS d FROM ud GROUP BY day),
    agg AS (
      SELECT (SELECT SUM(d) FROM dau) AS total_user_days,
             (SELECT COUNT(*) FROM dau) AS n_days,
             (SELECT COUNT(DISTINCT user_id) FROM ud) AS mau
    )
    SELECT CAST(total_user_days // n_days AS BIGINT) AS avg_dau,
           CAST(mau AS BIGINT) AS mau,
           CAST(ROUND(CAST(CAST(total_user_days * 1000000
                 // (n_days * mau) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS stickiness
    FROM agg
    """,
)
def agg_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness: mean daily actives over the period's
    distinct actives — the habit-strength ratio (1.0 = everyone active
    every day). All three inputs reduce from the user-day pair table;
    the ratio is exact integer parts-per-million (avg DAU kept as
    integer division for the display column, exact in the ratio)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("d"))
    stats = dau.agg(
        F.sum("d").alias("total_user_days"), F.count("*").alias("n_days")
    )
    mau = ud.agg(F.count_distinct("user_id").alias("mau"))
    return stats.crossJoin(F.broadcast(mau)).select(
        F.expr("total_user_days div n_days").cast("long").alias("avg_dau"),
        F.col("mau").cast("long").alias("mau"),
        _r(
            F.expr(
                "total_user_days * 1000000 div (n_days * mau)"
            ).cast("double")
            / 1e6,
            6,
        ).alias("stickiness"),
    )
