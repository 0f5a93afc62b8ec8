"""Metric-engineering operators: maximum drawdown, CUSUM drift
alarms, class-balanced downsampling, monthly churn rate, and a Zipf
slope fit over the token frequency distribution — each reduced to
exact integer or DECIMAL-rounded arithmetic so no cross-row float
order can perturb a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_max_drawdown",
    oracle="""
    WITH ints AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
               - 500000 AS delta_q  -- signed flow: values re-centered
      FROM events WHERE user_id % 25 = 0
    ),
    eq AS (
      SELECT user_id, ts, event_id,
             SUM(delta_q) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
      FROM ints
    ),
    cum AS (
      SELECT user_id, equity,
             MAX(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM eq
    )
    SELECT user_id,
           CAST(ROUND(CAST(MAX(peak - equity) / 1000.0 AS DECIMAL(24,10)), 3)
                AS DOUBLE) AS max_drawdown
    FROM cum GROUP BY user_id
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per account: largest peak-to-trough fall of
    the cumulative (re-centered) value series — THE risk number for
    any cumulative account curve. Three nested quantities (running
    sum, running max of it, max gap) all stay exact int64 under ONE
    user partition and ordering, so the three windows share one
    shuffle and the result is engine-order-proof."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    delta = (F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long") - 500000).alias(
        "delta_q"
    )
    ints = e.select("user_id", "ts", "event_id", delta)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    equity = F.sum("delta_q").over(w)
    cum = ints.select("user_id", "ts", "event_id", equity.alias("equity"))
    peak = F.max("equity").over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = cum.select("user_id", (peak - F.col("equity")).alias("drawdown"))
    return dd.groupBy("user_id").agg(
        _r(F.max("drawdown") / 1000.0, 3).alias("max_drawdown")
    )


@query(
    "ts_cusum_alarm",
    oracle="""
    WITH base AS (
      SELECT CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS mu_q
      FROM events
    ),
    dev AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) - mu_q AS d
      FROM events, base WHERE user_id % 25 = 0
    ),
    cusum AS (
      SELECT user_id,
             SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM dev
    )
    SELECT user_id,
           CAST(count_if(ABS(s) > 5000000) AS BIGINT) AS n_alarm_points,
           CAST(ROUND(CAST(MAX(ABS(s)) / 1000.0 AS DECIMAL(24,10)), 3)
                AS DOUBLE) AS max_abs_cusum
    FROM cusum GROUP BY user_id
    """,
)
def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection: the cumulative sum of deviations from
    the corpus baseline mean, alarmed when |CUSUM| exceeds a
    threshold — the classic sequential change detector (catches slow
    drifts that per-point z-scores miss; complements the single-split
    ts_changepoint_meanshift). The baseline is an exact integer-
    division mean (one scalar broadcast); deviations and their running
    sums are exact int64 per user partition."""
    e = load_table(spark, sf_dir, "events")
    q = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    base = e.agg(F.expr("sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)").alias("mu_q"))
    dev = (
        e.where(F.col("user_id") % 25 == 0)
        .crossJoin(F.broadcast(base))
        .select("user_id", "ts", "event_id", (q - F.col("mu_q")).alias("d"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = dev.select("user_id", F.sum("d").over(w).alias("s"))
    return cusum.groupBy("user_id").agg(
        F.count_if(F.abs("s") > 5000000).alias("n_alarm_points"),
        _r(F.max(F.abs("s")) / 1000.0, 3).alias("max_abs_cusum"),
    )


@query(
    "sample_balanced_classes",
    oracle="""
    WITH sized AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ),
    floor_n AS (SELECT MIN(n) AS k FROM sized),
    ranked AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY label
               ORDER BY (vec_id * 2654435761) % 1000003, vec_id) AS rn
      FROM embeddings
    )
    SELECT vec_id, label FROM ranked, floor_n WHERE rn <= k
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count examples, chosen by a deterministic integer-hash
    order (not engine RNG, not head-of-file order — which would bias
    toward early data). The standard rebalancing step before training
    a classifier on skewed labels; the per-label rank runs inside one
    label partition, and the floor count is a 1-row broadcast."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    floor_n = e.groupBy("label").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("k")
    )
    h = (F.col("vec_id") * 2654435761) % 1000003
    rn = F.row_number().over(
        Window.partitionBy("label").orderBy(h, F.col("vec_id"))
    )
    ranked = e.withColumn("rn", rn)
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .where(F.col("rn") <= F.col("k"))
        .select("vec_id", "label")
    )


@query(
    "ts_weekly_churn_rate",
    oracle="""
    WITH um AS (
      SELECT DISTINCT user_id,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) + 259200) // 604800 AS m
      FROM events
    ),
    flagged AS (
      SELECT user_id, m,
             LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m,
             MAX(m) OVER () AS last_m
      FROM um
    )
    SELECT m AS week_idx,
           COUNT(*) AS active_users,
           CAST(count_if(next_m IS DISTINCT FROM m + 1) AS BIGINT)
             AS churned_users,
           CAST(ROUND(CAST(CAST(count_if(next_m IS DISTINCT FROM m + 1)
                 * 1000000 // COUNT(*) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS churn_rate
    FROM flagged WHERE m < last_m
    GROUP BY m
    """,
)
def ts_weekly_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: the fraction of users active in week w with no
    activity in week w+1 (final week excluded — its churn is not yet
    observable). Week presence collapses to (user, week-index) pairs;
    the next-active-week comes from one lead window per user, so
    churn for every week computes in a single pass with exact
    parts-per-million rates. (Weekly rather than monthly because the
    event stream spans ~1 month — the operator shape is identical at
    any period.) Week indexing is explicit Monday-aligned epoch
    arithmetic ((epoch+3d) div 7d) rather than date_trunc('week'),
    whose week-start convention differs between engines."""
    e = load_table(spark, sf_dir, "events")
    m = F.expr(
        "(unix_timestamp(ts) + 259200) div 604800"
    ).cast("long")
    um = e.select("user_id", m.alias("m")).distinct()
    next_m = F.lead("m").over(Window.partitionBy("user_id").orderBy("m"))
    last_m = F.max("m").over(Window.partitionBy())
    flagged = um.select(
        "user_id", "m", next_m.alias("next_m"), last_m.alias("last_m")
    )
    churned = F.count_if(~F.col("next_m").eqNullSafe(F.col("m") + 1))
    return (
        flagged.where(F.col("m") < F.col("last_m"))
        .groupBy(F.col("m").alias("week_idx"))
        .agg(
            F.count("*").alias("active_users"),
            churned.alias("churned_users"),
            _r(
                F.expr(
                    "count_if(NOT (next_m <=> m + 1)) * 1000000 div count(*)"
                ).cast("double")
                / 1e6,
                6,
            ).alias("churn_rate"),
        )
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH tokens AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS n FROM tokens GROUP BY w),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w ASC) AS rnk
      FROM freq ORDER BY n DESC, w ASC LIMIT 200
    ),
    pts AS (
      SELECT CAST(ROUND(CAST(ln(rnk) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS x,
             CAST(ROUND(CAST(ln(n) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS y
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(ROUND(CAST(
             (COUNT(*) * CAST(SUM(x * y) AS DOUBLE)
              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(x * x) AS DOUBLE)
                - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS zipf_slope
    FROM pts
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token distribution: the log-log
    regression slope over the top-200 terms (natural language sits
    near −1; synthetic or template-heavy corpora drift toward 0 — a
    one-number naturalness screen next to text_perplexity_proxy).
    Regression sums run over DECIMAL-rounded log terms (exact,
    order-free — the mutual-information discipline) of the top-k
    table; the corpus-sized work is one token count with TakeOrdered,
    never a global sort."""
    # round-11 second pass: guarded fan_out — the single-file sf
    # scan ran the tokenize in ONE task; no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    freq = (
        d.select(F.explode(T.words(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    ranked = (
        freq.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(200)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("w").asc())),
        )
    )
    x = F.round(F.log(F.col("rnk").cast("double")).cast("decimal(20,12)"), 12).cast(
        "decimal(20,12)"
    )
    y = F.round(F.log(F.col("n").cast("double")).cast("decimal(20,12)"), 12).cast(
        "decimal(20,12)"
    )
    pts = ranked.select(x.alias("x"), y.alias("y"))
    cnt = F.count(F.lit(1))
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    return pts.agg(
        cnt.alias("n_points"),
        _r((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 4).alias(
            "zipf_slope"
        ),
    )
