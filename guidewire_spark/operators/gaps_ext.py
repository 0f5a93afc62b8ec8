"""Gap-handling and window-trick operators: calendar spine fill
(missing days materialized as zeros), session-length distribution,
COUNT(DISTINCT) over windows via the dense_rank identity (Spark
rejects DISTINCT window aggregates — the rewrite IS the operator),
the regexp scalar family, and the NOT EXISTS anti-join spelling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.registry import query


@query(
    "ts_calendar_spine_fill",
    oracle="""
    WITH spine AS (
      SELECT CAST(range AS DATE) AS day
      FROM range(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' AND user_id % 50 = 0
      GROUP BY date_trunc('day', ts)
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases,
           d.n IS NULL AS was_missing
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def ts_calendar_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine fill: a generated date spine LEFT JOINs the
    daily aggregate so days with NO events materialize as explicit
    zero rows — the prerequisite for any correct moving average or
    gap alarm (absent rows silently skew both). The spine comes from
    sequence() (executor-side generation, no I/O) and is the preserved
    side of the outer join, so it cannot be the build side; the
    broadcast goes on the day-level aggregate (at most 30 rows, never
    raw events), which a left outer join can build."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0)
    )
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    return spine.join(F.broadcast(daily), "day", "left_outer").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n_purchases"),
        F.col("n").isNull().alias("was_missing"),
    )


@query(
    "ts_session_length_histogram",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    ),
    lens AS (
      SELECT user_id, session_id, COUNT(*) AS len
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(LEAST(len, 10) AS BIGINT) AS session_len_capped,
           COUNT(*) AS n_sessions
    FROM lens GROUP BY LEAST(len, 10)
    """,
)
def ts_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution: sessionize by 30-minute gaps
    (the gaps-and-islands running-sum, same shuffle discipline as
    ts_gaps_islands — ONE user_id exchange serves both windows and
    the per-session count), then histogram session sizes with a cap
    bucket at 10+. The engagement-depth curve every product dashboard
    tracks; output is histogram-sized."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap: second-truncated casts would disagree
    # with the oracle's INTERVAL comparison on fractional-second gaps
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    marked = e.select("user_id", "ts", "event_id", new_session.alias("ns"))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = marked.select(
        "user_id", F.sum("ns").over(run).alias("session_id")
    )
    lens = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("len")
    )
    return lens.groupBy(
        F.least(F.col("len"), F.lit(10)).cast("long").alias("session_len_capped")
    ).agg(F.count("*").alias("n_sessions"))


@query(
    "window_count_distinct_trick",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             DENSE_RANK() OVER (PARTITION BY event_type,
                                date_trunc('day', ts) ORDER BY user_id) AS dr
      FROM events
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(MAX(dr) AS BIGINT) AS distinct_users
    FROM ranked GROUP BY event_type, day
    """,
)
def window_count_distinct_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) as a window quantity via the dense_rank
    identity: max(dense_rank over (partition ORDER BY key)) = number
    of distinct keys — the standard rewrite because engines
    (including Spark) reject DISTINCT aggregates over windows. Here
    it yields daily distinct users per event type while remaining
    one sort-based pass; the direct groupBy(count_distinct) oracle
    proves the identity."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    w = Window.partitionBy("event_type", day).orderBy("user_id")
    ranked = e.select(
        "event_type",
        day.alias("day"),
        F.dense_rank().over(w).alias("dr"),
    )
    return ranked.groupBy(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(F.max("dr").cast("long").alias("distinct_users"))


@query(
    "func_regexp_family",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '[A-Za-z]+', 0) AS first_word,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
           regexp_replace(text, '[aeiou]', '_', 'g') LIKE '%\\_%' ESCAPE '\\'
             AS has_vowel,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT)
             AS n_spaces
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def func_regexp_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar family (extract / count via extract_all /
    replace): restricted to character-class patterns, the subset with
    identical semantics across regex engines (Java here, RE2 in the
    oracle) — the same discipline the fingerprint and shingling
    operators follow. All JVM expressions, row-parallel."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    return d.select(
        "doc_id",
        F.regexp_extract("text", "[A-Za-z]+", 0).alias("first_word"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).cast("long").alias(
            "n_numbers"
        ),
        F.regexp_replace("text", "[aeiou]", "_").contains("_").alias(
            "has_vowel"
        ),
        F.length(F.regexp_replace("text", "[^ ]", "")).cast("long").alias(
            "n_spaces"
        ),
    )


@query(
    "sql_not_exists_antijoin",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
)
def sql_not_exists_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS — the null-safe complement of NOT IN
    (join_null_safe_equality demonstrates why NOT IN is a trap) and
    the SQL spelling Catalyst decorrelates into a left-anti hash join:
    same physical plan as the DataFrame `join(..., "left_anti")`
    form, proving both front ends converge."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
        )
        """
    )
