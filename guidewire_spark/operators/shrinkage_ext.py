"""Empirical-Bayes shrinkage and retention-curve fitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "agg_gamma_poisson_shrinkage",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS ss FROM per_user
    ),
    prior AS (
      SELECT n, s, ss,
             CAST(s AS DOUBLE) / n AS mu,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
               AS var
      FROM mom
    ),
    ab AS (
      SELECT CASE WHEN var > mu
                  THEN mu * mu / (var - mu) ELSE 1e9 END AS alpha,
             CASE WHEN var > mu
                  THEN mu / (var - mu) ELSE 1e9 / mu END AS beta
      FROM prior
    )
    SELECT p.user_id, CAST(p.x AS BIGINT) AS raw_count,
           CAST(ROUND(CAST(
             (p.x + ab.alpha) / (1 + ab.beta)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS shrunk_rate
    FROM per_user p CROSS JOIN ab
    WHERE p.user_id % 10 = 0
    """,
)
def agg_gamma_poisson_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes Gamma-Poisson shrinkage of per-user event
    rates: fit the Gamma prior by method of moments from the
    population (α = μ²/(σ²−μ), β = μ/(σ²−μ) — overdispersion only,
    see agg_index_of_dispersion), then shrink each user's raw count
    toward it: E[rate|x] = (x+α)/(1+β).  The fix for every
    "top users" leaderboard that is really a noisiest-small-sample
    leaderboard — low-activity users get pulled strongly to the
    population mean, heavy users barely move.  Two partial-aggregated
    passes (per-user counts, then the three population moments —
    exact int64); the prior is a one-row broadcast; the equal-Var
    degenerate case pins the prior so shrinkage collapses to the
    mean identically in both engines."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("x"))
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    ab = mom.select(
        F.when(var > mu, mu * mu / (var - mu)).otherwise(F.lit(1e9)).alias(
            "alpha"
        ),
        F.when(var > mu, mu / (var - mu)).otherwise(F.lit(1e9) / mu).alias(
            "beta"
        ),
    )
    return (
        per_user.where(F.col("user_id") % 10 == 0)
        .crossJoin(F.broadcast(ab))
        .select(
            "user_id",
            F.col("x").cast("long").alias("raw_count"),
            _r((F.col("x") + F.col("alpha")) / (1 + F.col("beta")), 6).alias(
                "shrunk_rate"
            ),
        )
    )


@query(
    "ts_retention_half_life",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
      FROM events GROUP BY user_id
    ),
    cohort AS (SELECT COUNT(*) AS n_users FROM firsts),
    active AS (
      SELECT f.user_id,
             date_diff('day', f.d0, CAST(date_trunc('day', e.ts) AS DATE))
               AS age
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      GROUP BY f.user_id,
               date_diff('day', f.d0, CAST(date_trunc('day', e.ts) AS DATE))
    ),
    curve AS (
      SELECT age, COUNT(*) AS n_active FROM active
      WHERE age BETWEEN 1 AND 14 GROUP BY age
    ),
    terms AS (
      SELECT CAST(age AS DECIMAL(4,0)) AS k,
             CAST(ROUND(CAST(ln(CAST(n_active AS DOUBLE) / c.n_users)
                  AS DECIMAL(26,16)), 12) AS DECIMAL(20,12)) AS lr
      FROM curve CROSS JOIN cohort c WHERE n_active > 0
    ),
    fit AS (
      SELECT COUNT(*) AS m, SUM(k) AS sk, SUM(lr) AS sl,
             SUM(k * lr) AS skl, SUM(k * k) AS skk
      FROM terms
    )
    SELECT CAST(m AS BIGINT) AS n_points,
           CAST(ROUND(CAST(
             CAST(m * skl - sk * sl AS DOUBLE)
             / CAST(m * skk - sk * sk AS DOUBLE)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS decay_per_day,
           CAST(ROUND(CAST(
             -0.6931471805599453
             / (CAST(m * skl - sk * sl AS DOUBLE)
                / CAST(m * skk - sk * sk AS DOUBLE))
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS half_life_days
    FROM fit
    """,
)
def ts_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(retention) ~ age by OLS over ages
    1-14 and report −ln2/slope — the single number that summarizes
    the ts_cohort_retention curve (a 3-day half-life and a 30-day
    half-life demand different products), assuming the exponential
    decay that early-life retention approximately follows.  Retention
    rates come from exact integer counts (distinct active users per
    age over the first-day cohort); the log-linear fit is the
    agg_regression_family closed form on 14 points.  Two shuffles
    (first-day per user joined back onto events, both on user_id —
    co-partitioned) and everything after the age aggregate is
    14 rows."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("d0"))
    cohort = firsts.agg(F.count("*").alias("n_users"))
    active = (
        e.join(firsts, "user_id")
        .select("user_id", F.datediff(day, F.col("d0")).alias("age"))
        .distinct()
    )
    curve = (
        active.where(F.col("age").between(1, 14))
        .groupBy("age")
        .agg(F.count("*").alias("n_active"))
    )
    # k exact, lr decimal-rounded before the fit sums: the regression
    # reduction is an exact decimal sum (order-free), the
    # agg_mutual_information discipline applied to OLS inputs.
    # Types are kept NARROW (k decimal(4,0), lr decimal(20,12)) so
    # the k·lr product precision stays under 38 — a (24,12)×(24,12)
    # product overflows Spark's decimal cap and silently truncates
    # the scale, which is exactly the 1e-13 drift this form avoids.
    terms = (
        curve.crossJoin(F.broadcast(cohort))
        .where(F.col("n_active") > 0)
        .select(
            F.col("age").cast("decimal(4,0)").alias("k"),
            # cast to HIGHER scale than the round target: a cast at
            # the same scale does the rounding itself, and cast
            # rounding conventions differ between engines
            F.round(
                F.log(
                    F.col("n_active").cast("double") / F.col("n_users")
                ).cast("decimal(26,16)"),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lr"),
        )
    )
    fit = terms.agg(
        F.count("*").alias("m"),
        F.sum("k").alias("sk"),
        F.sum("lr").alias("sl"),
        F.sum(F.col("k") * F.col("lr")).alias("skl"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    # narrow the multipliers too: a wide-decimal product over Spark's
    # precision-38 cap silently truncates the scale (observed as a
    # 2.5e-9 slope drift before this cast)
    m = F.col("m").cast("decimal(4,0)")
    sk = F.col("sk").cast("decimal(8,0)")
    sl = F.col("sl")
    slope = (m * F.col("skl") - sk * sl).cast("double") / (
        m * F.col("skk") - sk * sk
    ).cast("double")
    return fit.select(
        m.cast("long").alias("n_points"),
        _r(slope, 6).alias("decay_per_day"),
        _r(F.lit(-0.6931471805599453) / slope, 4).alias("half_life_days"),
    )
