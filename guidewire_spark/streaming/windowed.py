"""Time-windowed aggregation operators (SURVEY.md §2.4 "Streaming-only").

``F.window`` / ``F.session_window`` work identically on static frames
and streams, so these queries are verified batch-side against the
DuckDB oracle and reused verbatim by the Structured Streaming jobs in
``streaming/jobs.py`` (same logical plan, readStream source).

Window bounds are emitted as epoch seconds (bigint) so the value hash
is independent of timestamp rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


def _epoch_seconds(col: F.Column) -> F.Column:
    return col.cast("timestamp").cast("long")


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL 10 MINUTE, ts)) AS BIGINT) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event type — the batch twin of
    readStream.groupBy(window(...)). At scale the shuffle key is
    (window, type): bounded cardinality, no skew."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _epoch_seconds(F.col("window.start")).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH offsets AS (SELECT * FROM (VALUES (0), (1)) AS t(k)),
    slid AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 10 MINUTE, ts - k * INTERVAL 5 MINUTE))
                  AS BIGINT) + k * 300 AS win_start,
             user_id, value
      FROM events, offsets
    )
    SELECT win_start, COUNT(*) AS n_events,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(24,8)), 6) AS DOUBLE) AS avg_value
    FROM slid
    GROUP BY win_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute length, 5-minute slide): each event
    lands in 2 windows. Oracle replicates the slide by unioning the
    two phase-shifted tumbling assignments."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            # DECIMAL bridge before the 6dp round: the raw double avg
            # can land on a .xxxxxx5 half-boundary where Spark (exact
            # binary) and DuckDB (shortest decimal) round apart; an
            # 8dp decimal quantization first makes both deterministic.
            stable_round(F.avg("value"), 6, "decimal(24,8)")
            .alias("avg_value"),
        )
        .select(
            _epoch_seconds(F.col("window.start")).alias("win_start"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      -- > gap, NOT >= gap: an event at EXACTLY last+gap still MERGES
      -- into the session (Spark merges when new start <= current
      -- session end; pinned by
      -- test_session_window_exact_gap_boundary_merges)
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. The oracle derives the
    same sessions with the classic lag + running-sum construction;
    session_window.start equals MIN(ts) within the session, emitted as
    floored epoch seconds on both sides.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _epoch_seconds(F.col("session_window.start")).alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_watermark_dedup",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY user_id, event_type
    """,
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dedup-within-watermark pipeline:
    dropDuplicates on (user_id, event_type, ts) then aggregate. The
    streaming variant (withWatermark + dropDuplicatesWithinWatermark)
    runs in streaming/jobs.py with identical transformations."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.dropDuplicates(["user_id", "event_type", "ts"])
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
