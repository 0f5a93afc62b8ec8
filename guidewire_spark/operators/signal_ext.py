"""Signal-processing operators over the daily event series: Holt
double-exponential smoothing, lead-lag cross-correlation, the Hampel
robust outlier filter, and a seasonal-strength statistic.

All four aggregate the raw event stream to one row per calendar day
FIRST (exact integer milli-value means, the ts_autocorrelation_function
construction), so every downstream pass — fold, pair join, 7-day
window, day-of-week grouping — runs on a calendar-bounded frame whose
size is independent of event volume.  That is the scale contract: at
100 TB the one partial-aggregated groupBy("day") is the only pass that
touches the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean-value series in exact integer milli-units with an
    integer day index (days since 2024-01-01)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
            ).alias("y")
        )
        .select(
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias(
                "x"
            ),
            "y",
        )
    )


_DAILY_SQL = """
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
"""


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing
# ---------------------------------------------------------------------------


@query(
    "ts_holt_linear_smoothing",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_SQL}),
    seq AS (
      SELECT ROW_NUMBER() OVER (ORDER BY x) AS rn, CAST(y AS DOUBLE) AS y
      FROM daily
    ),
    h(i, l, b) AS (
      SELECT 1,
             (SELECT y FROM seq WHERE rn = 1),
             (SELECT y FROM seq WHERE rn = 2)
               - (SELECT y FROM seq WHERE rn = 1)
      UNION ALL
      SELECT h.i + 1,
             0.5 * s.y + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * s.y + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b
      FROM h JOIN seq s ON s.rn = h.i + 1
    )
    SELECT CAST(i AS BIGINT) AS n_days,
           CAST(ROUND(CAST(l AS DECIMAL(24,10)), 4) AS DOUBLE) AS level_milli,
           CAST(ROUND(CAST(b AS DECIMAL(24,10)), 4) AS DOUBLE) AS trend_milli,
           CAST(ROUND(CAST(l + b AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS forecast_next_milli
    FROM h WHERE i = (SELECT MAX(rn) FROM seq)
    """,
)
def ts_holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=1/2, β=1/4) over the daily
    mean series — the level+trend upgrade of ts_ewma_smoothing that
    ts_snaive_backtest can be benchmarked against: l_t = αy_t +
    (1−α)(l+b), b_t = β(l_t−l) + (1−β)b, initialized l₀=y₀,
    b₀=y₁−y₀.  The fold is inherently sequential, so it runs AFTER
    the one distributed pass, as a single ``aggregate`` lambda over
    the day-sorted array (calendar-bounded memory); the oracle is the
    identical recurrence as a recursive CTE.  Both engines execute the
    same IEEE ops in the same order on integer-derived doubles —
    libm-free arithmetic is bit-reproducible — and the 4-dp decimal
    rounding adds margin on top.  Dyadic coefficients (1/2, 1/4, 3/4)
    are binary-exact."""
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("s")
    ).select(F.expr("transform(s, p -> CAST(p.y AS DOUBLE))").alias("ys"))
    folded = arr.select(
        F.size("ys").alias("n_days"),
        F.expr(
            """
            aggregate(
              slice(ys, 2, size(ys) - 1),
              named_struct('l', ys[0], 'b', ys[1] - ys[0]),
              (acc, y) -> named_struct(
                'l', 0.5D * y + 0.5D * (acc.l + acc.b),
                'b', 0.25D * ((0.5D * y + 0.5D * (acc.l + acc.b)) - acc.l)
                       + 0.75D * acc.b)
            )
            """
        ).alias("h"),
    )
    return folded.select(
        F.col("n_days").cast("long").alias("n_days"),
        _r(F.col("h.l"), 4).alias("level_milli"),
        _r(F.col("h.b"), 4).alias("trend_milli"),
        _r(F.col("h.l") + F.col("h.b"), 4).alias("forecast_next_milli"),
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation
# ---------------------------------------------------------------------------


@query(
    "ts_cross_correlation",
    oracle="""
    WITH v AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events WHERE event_type = 'view'
      GROUP BY date_trunc('day', ts)
    ),
    p AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY date_trunc('day', ts)
    ),
    pairs AS (
      SELECT l.lag AS lag, v.y AS a, p.y AS b
      FROM (SELECT CAST(range AS INT) AS lag FROM range(-3, 4)) l
      JOIN v ON TRUE
      JOIN p ON p.x = v.x + l.lag
    ),
    sums AS (
      SELECT lag, COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
             SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(
             CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                    * CAST(n * sbb - sb * sb AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS xcorr
    FROM sums
    WHERE n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily view and purchase
    mean-value series at lags −3…+3 — the "does engagement LEAD
    revenue?" diagnostic (a peak at positive lag means views predict
    purchases that many days ahead); the two-series generalization of
    ts_autocorrelation_function, sharing its exact-int64-power-sum
    Pearson machinery.  Both series reduce to calendar-bounded daily
    tables in one partial-aggregated pass each; the 7-lag pair join
    and per-lag sums run on day-count-sized frames."""
    e = load_table(spark, sf_dir, "events")

    def series(t: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == t)
            .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
            .agg(
                F.expr(
                    "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
                ).alias("y")
            )
            .select(
                F.datediff(
                    F.col("day"), F.lit("2024-01-01").cast("date")
                ).alias("x"),
                "y",
            )
        )

    v = series("view").alias("v")
    p = series("purchase").alias("p")
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    pairs = (
        v.crossJoin(F.broadcast(lags))
        .join(p, F.col("p.x") == F.col("v.x") + F.col("lag"))
        .select("lag", F.col("v.y").alias("a"), F.col("p.y").alias("b"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    var_a = n * saa - sa * sa
    var_b = n * sbb - sb * sb
    return sums.where((var_a > 0) & (var_b > 0)).select(
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n"),
        _r(
            (n * sab - sa * sb).cast("double")
            / F.sqrt(var_a.cast("double") * var_b.cast("double")),
            6,
        ).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Hampel filter
# ---------------------------------------------------------------------------


@query(
    "ts_hampel_outliers",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    w1 AS (
      SELECT a.x AS x, a.y AS y,
             CAST(median(b.y) AS BIGINT) AS med, COUNT(*) AS cnt
      FROM daily a JOIN daily b ON b.x BETWEEN a.x - 3 AND a.x + 3
      GROUP BY a.x, a.y
      HAVING COUNT(*) = 7
    ),
    w2 AS (
      SELECT w1.x, w1.y, w1.med,
             CAST(median(abs(b.y - w1.med)) AS BIGINT) AS mad
      FROM w1 JOIN daily b ON b.x BETWEEN w1.x - 3 AND w1.x + 3
      GROUP BY w1.x, w1.y, w1.med
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
           10000 * abs(y - med) > 3 * 14826 * mad AS is_outlier
    FROM w2
    """,
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily mean series: a day is an outlier
    when it sits more than 3 scaled MADs from its 7-day-centered
    rolling MEDIAN — the robust alternative to ts_rolling_zscore,
    whose mean/stddev an outlier contaminates (the spike inflates its
    own threshold; the median ignores it).  Each full 7-day window is
    materialized as a sorted array, so median = element 4 and
    MAD = element 4 of the sorted absolute deviations — both EXACT
    int64 — and the 3·1.4826·MAD Gaussian-consistent threshold is the
    all-integer comparison 10000·|y−med| > 44478·mad: no float enters
    the operator at all.  The window runs on the day-aggregated series
    (single ordered frame, calendar-bounded — a deliberate exception
    to the no-global-window rule, identical to ts_downsample_lttb's
    containment argument)."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("x").rowsBetween(-3, 3)
    arr = daily.select(
        "x", "y", F.collect_list("y").over(w).alias("win")
    ).where(F.size("win") == 7)
    med = F.element_at(F.sort_array("win"), 4)
    scored = arr.select(
        "x",
        "y",
        med.alias("med"),
        F.element_at(
            F.sort_array(F.expr("transform(win, v -> abs(v - med))")),
            4,
        ).alias("mad"),
    )
    return scored.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        (
            10000 * F.abs(F.col("y") - F.col("med"))
            > 3 * 14826 * F.col("mad")
        ).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Seasonal strength
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    keyed AS (
      SELECT CAST(date_part('dow', day) AS BIGINT) AS dow, y FROM daily
    ),
    per_dow AS (
      SELECT dow, COUNT(*) AS ng, SUM(y) AS sg, SUM(y * y) AS ssg
      FROM keyed GROUP BY dow
    ),
    terms AS (
      SELECT ng, sg, ssg,
             CAST(ROUND(CAST(
               CAST(ssg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / ng
             AS DECIMAL(28,8)), 6) AS DECIMAL(28,8)) AS sse_g
      FROM per_dow
    )
    SELECT CAST(SUM(ng) AS BIGINT) AS n_days,
           CAST(ROUND(CAST(
             1 - CAST(SUM(sse_g) AS DOUBLE)
                 / (CAST(SUM(ssg) AS DOUBLE)
                    - CAST(SUM(sg) AS DOUBLE) * SUM(sg) / SUM(ng))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS seasonal_strength
    FROM terms
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of the weekly cycle: the R² of day-of-week
    means on the daily series — 1 − SSE_within/SST, the single number
    that says how much of daily variation the weekday explains (the
    decision input for choosing ts_decompose_trend_seasonal vs a flat
    model; ts_seasonal_profile shows the SHAPE, this scores it).
    Per-weekday sums reduce to exact int64 (ng, Σy, Σy²); each
    group's within-SSE ssg − sg²/ng is decimal-rounded before the
    7-term sum (order-free reduction, the agg_mutual_information
    discipline), and SST comes from the same integer sums summed
    exactly across groups."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
            ).alias("y")
        )
    )
    keyed = daily.select(
        (F.dayofweek("day") - 1).cast("long").alias("dow"), "y"
    )
    per_dow = keyed.groupBy("dow").agg(
        F.count("*").alias("ng"),
        F.sum("y").alias("sg"),
        F.sum(F.col("y") * F.col("y")).alias("ssg"),
    )
    sse_g = F.round(
        (
            F.col("ssg").cast("double")
            - F.col("sg").cast("double") * F.col("sg") / F.col("ng")
        ).cast("decimal(28,8)"),
        6,
    ).cast("decimal(28,8)")
    terms = per_dow.select("ng", "sg", "ssg", sse_g.alias("sse_g"))
    sst = (
        F.sum("ssg").cast("double")
        - F.sum("sg").cast("double") * F.sum("sg") / F.sum("ng")
    )
    return terms.agg(
        F.sum("ng").cast("long").alias("n_days"),
        _r(1 - F.sum("sse_g").cast("double") / sst, 6).alias(
            "seasonal_strength"
        ),
    )


# ---------------------------------------------------------------------------
# SPC Western Electric rule 2
# ---------------------------------------------------------------------------


@query(
    "ts_spc_rule_two_of_three",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS ss FROM daily
    ),
    z AS (
      SELECT x, y,
             (y - CAST(s AS DOUBLE) / n)
               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
               AS zval
      FROM daily CROSS JOIN stats
    ),
    flags AS (
      SELECT x, y, zval,
             SUM(CASE WHEN zval > 2 THEN 1 ELSE 0 END) OVER w AS n_above,
             SUM(CASE WHEN zval < -2 THEN 1 ELSE 0 END) OVER w AS n_below,
             COUNT(*) OVER w AS win_n
      FROM z
      WINDOW w AS (ORDER BY x ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(n_above AS BIGINT) AS n_above,
           CAST(n_below AS BIGINT) AS n_below,
           (n_above >= 2 OR n_below >= 2) AS alarm,
           CASE WHEN n_above >= 2 THEN 'high'
                WHEN n_below >= 2 THEN 'low' ELSE 'none' END AS side
    FROM flags WHERE win_n = 3
    """,
)
def ts_spc_rule_two_of_three(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric rule 2 on the daily mean series: alarm when 2
    of 3 consecutive points sit beyond 2σ on the SAME side of the
    center line — the SPC rule that catches sustained small shifts a
    single-point 3σ rule (ts_rolling_zscore's regime) misses, while a
    lone 2.5σ blip stays silent.  Center/σ are population moments
    from exact int64 power sums; z-values are identical IEEE doubles;
    the 3-point window runs over the calendar-bounded daily table,
    emitting every complete window's rule state (n_above/n_below
    and the alarm verdict — a quiet chart is itself the answer).
    Completes the alarm family:
    CUSUM (drift), MAD/Hampel (spikes), mean-shift (level breaks),
    rule-2 (sustained small shifts)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    ).select(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias("x"),
        "y",
    )
    stats = daily.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    z = daily.crossJoin(F.broadcast(stats)).select(
        "x",
        "y",
        (
            (F.col("y") - s / n)
            / F.sqrt((ss - s * F.col("s") / n) / n)
        ).alias("zval"),
    )
    w = Window.orderBy("x").rowsBetween(-2, 0)
    flags = z.select(
        "x",
        "y",
        F.sum(F.when(F.col("zval") > 2, 1).otherwise(0)).over(w).alias(
            "n_above"
        ),
        F.sum(F.when(F.col("zval") < -2, 1).otherwise(0)).over(w).alias(
            "n_below"
        ),
        F.count("*").over(w).alias("win_n"),
    )
    alarm = (F.col("n_above") >= 2) | (F.col("n_below") >= 2)
    return flags.where(F.col("win_n") == 3).select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("n_above").cast("long").alias("n_above"),
        F.col("n_below").cast("long").alias("n_below"),
        alarm.alias("alarm"),
        F.when(F.col("n_above") >= 2, "high")
        .when(F.col("n_below") >= 2, "low")
        .otherwise("none")
        .alias("side"),
    )
