"""Stateful-stream sampling (batch twin), ratio-metric inference, and
interval merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Earliest-k buffer (batch twin)
# ---------------------------------------------------------------------------


@query(
    "stream_buffered_earliest_k",
    oracle="""
    WITH keyed AS (
      SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
             epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id % 20 = 0
    ),
    ranked AS (
      SELECT user_id, bucket, ts_us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts_us, event_id) AS rn
      FROM keyed
    )
    SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(ts_us AS BIGINT) AS ts_us, event_id
    FROM ranked WHERE rn <= 3
    """,
)
def stream_buffered_earliest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-3 events per (user, 6-hour bucket) — the batch twin of
    ``streaming.jobs.buffered_earliest_k``, the custom
    applyInPandasWithState operator whose per-key sorted buffer makes
    the FINAL answer independent of arrival order (a first-k-SEEN
    throttle is not replayable; earliest-k by event time is).  The
    batch form is one rank window per (user, bucket); the streaming
    form converges to exactly this set once the source drains
    (asserted against a real stream run in
    tests/test_streamstate_ext.py).  Use case: deterministic
    per-entity sampling of a firehose down to a bounded per-window
    quota before an expensive enrichment stage."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    keyed = e.select(
        "user_id",
        F.expr("unix_micros(ts) div 21600000000").alias("bucket"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "bucket").orderBy("ts_us", "event_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "user_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("ts_us").cast("long").alias("ts_us"),
            "event_id",
        )
    )


# ---------------------------------------------------------------------------
# Ratio-metric delta method
# ---------------------------------------------------------------------------


@query(
    "agg_ratio_metric_delta",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS x,
             COUNT(*) AS y
      FROM events GROUP BY user_id
    ),
    sums AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(ROUND(CAST(CAST(sx AS DOUBLE) / sy / 1000.0
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS ratio,
           CAST(ROUND(CAST(
             sqrt(GREATEST(
               ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
                - 2 * (CAST(sx AS DOUBLE) / sy)
                    * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                       / (n - 1))
                + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                    * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                       / (n - 1)))
               / n / ((CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)),
               0)) / 1000.0
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS se
    FROM sums
    """,
)
def agg_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of a RATIO metric (value per event = Σx/Σy over
    per-user totals) by the delta method:
    var(R) ≈ [var(x) − 2R·cov(x,y) + R²·var(y)] / (n·ȳ²) — the
    correction every experimentation platform needs because ratio
    metrics violate the i.i.d.-row assumption (the unit is the USER,
    not the event; naive per-event variance is anti-conservative
    when per-user event counts vary).  Per-user totals reduce to
    exact int64 in one pass; the five cross-moments reduce in a
    second (user-cardinality) pass; the delta-method combination is
    scalar arithmetic on exact integers."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.sum(milli).alias("x"), F.count("*").alias("y")
    )
    sums = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    ratio = sx / F.col("sy")
    var_x = (sxx - sx * F.col("sx") / n) / (n - 1)
    var_y = (syy - sy * F.col("sy") / n) / (n - 1)
    cov_xy = (sxy - sx * F.col("sy") / n) / (n - 1)
    ybar = sy / n
    var_r = (
        (var_x - 2 * ratio * cov_xy + ratio * ratio * var_y)
        / n
        / (ybar * ybar)
    )
    return sums.select(
        n.cast("long").alias("n_users"),
        _r(ratio / F.lit(1000.0), 6).alias("ratio"),
        _r(F.sqrt(F.greatest(var_r, F.lit(0.0))) / F.lit(1000.0), 6).alias(
            "se"
        ),
    )


# ---------------------------------------------------------------------------
# Interval merge
# ---------------------------------------------------------------------------


@query(
    "ts_intervals_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(ROUND(CAST(value AS DECIMAL(24,10)), 0) AS BIGINT) * 1000000 AS e
      FROM events WHERE user_id % 20 = 0
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(me - ms) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
)
def ts_intervals_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals into maximal disjoint spans per
    user (each event opens a [ts, ts + value-seconds] activity
    interval): the interval form of gaps-and-islands — a new island
    starts exactly when an interval's START clears the RUNNING MAX of
    all earlier ENDS (max, not lag: an earlier long interval can
    swallow several short ones, which plain lag(e) misses).  Output:
    merged-span count and total covered microseconds per user —
    dedup'd uptime/activity accounting.  ONE shuffle by user; both
    windows and the final rollup share it; all epoch arithmetic
    exact int64."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.round(F.col("value").cast("decimal(24,10)"), 0).cast("long")
            * 1_000_000
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_cum))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_merged"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows
# ---------------------------------------------------------------------------


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 2400000000 ELSE 900000000 END AS e
      FROM events WHERE user_id % 15 = 0
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s >= MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT user_id, CAST(MIN(s) AS BIGINT) AS session_start_us,
           CAST(MAX(e) AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap expression
    (``session_window(ts, CASE …)``, Spark 3.2+): a purchase holds
    the session open 40 minutes, anything else 15 — the
    intent-aware sessionization fixed-gap windows
    (stream_session_window) cannot express, and the same API works
    unchanged in Structured Streaming with state eviction by
    watermark.  Semantics are exactly dynamic interval-merge: each
    event spans [ts, ts+its_gap) and overlapping spans coalesce —
    so the oracle is the ts_intervals_merge island construction with
    a strict boundary (an event landing exactly at the session end
    starts a NEW session, matching Spark's end-exclusive windows).
    One shuffle by user."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 15 == 0)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("40 minutes")
    ).otherwise(F.lit("15 minutes"))
    out = (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).cast("long").alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("w.end")).cast("long").alias(
                "session_end_us"
            ),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Interval-intersection join
# ---------------------------------------------------------------------------


@query(
    "join_interval_intersection",
    oracle="""
    WITH mk AS (
      SELECT user_id, event_type, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(21600000000 AS BIGINT) AS e
      FROM events
      WHERE user_id % 25 = 0 AND event_type IN ('view', 'purchase')
    ),
    flagged AS (
      SELECT user_id, event_type, s, e,
             CASE WHEN s > MAX(e) OVER (
               PARTITION BY user_id, event_type ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM mk
    ),
    islands AS (
      SELECT user_id, event_type, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id, event_type ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, event_type, island, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, event_type, island
    ),
    v AS (SELECT user_id, ms, me FROM merged WHERE event_type = 'view'),
    p AS (SELECT user_id, ms, me FROM merged WHERE event_type = 'purchase')
    SELECT v.user_id,
           CAST(GREATEST(v.ms, p.ms) AS BIGINT) AS overlap_start_us,
           CAST(LEAST(v.me, p.me) AS BIGINT) AS overlap_end_us,
           CAST(LEAST(v.me, p.me) - GREATEST(v.ms, p.ms) AS BIGINT)
             AS overlap_us
    FROM v JOIN p ON p.user_id = v.user_id
      AND v.ms < p.me AND p.ms < v.me
    """,
)
def join_interval_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-INTERSECTION join: per user, overlap the merged
    6-hour activity spans of two modalities (view sessions ×
    purchase sessions) and emit the intersected windows — the
    bitemporal/validity-overlap join that join_interval_overlap_bucketed
    (events INTO intervals) and join_dim_asof_scd2 (point-in-time)
    do not cover: BOTH sides are interval sets, and the result is
    their pairwise intersection [max(starts), min(ends)).  Each side
    is first compacted by the ts_intervals_merge island pass (so the
    per-user interval counts are session-bounded, never event-bounded
    — the containment that keeps the within-user pairing small), and
    the join itself is equi on user + the standard half-open overlap
    predicate, co-partitioned on the same user shuffle."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("user_id") % 25 == 0)
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + 21_600_000_000).alias("e"),
        )
    )
    w_prev = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_cum))
    merged = flagged.groupBy("user_id", "event_type", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    v = merged.where(F.col("event_type") == "view").select(
        "user_id", F.col("ms").alias("v_ms"), F.col("me").alias("v_me")
    )
    p = merged.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ms").alias("p_ms"), F.col("me").alias("p_me")
    )
    joined = v.join(p, "user_id").where(
        (F.col("v_ms") < F.col("p_me")) & (F.col("p_ms") < F.col("v_me"))
    )
    start = F.greatest("v_ms", "p_ms")
    end = F.least("v_me", "p_me")
    return joined.select(
        "user_id",
        start.cast("long").alias("overlap_start_us"),
        end.cast("long").alias("overlap_end_us"),
        (end - start).cast("long").alias("overlap_us"),
    )
