"""Resampling inference and leakage-free feature encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "agg_permutation_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm, COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT (CAST(SUM(CASE WHEN arm = 0 THEN s ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN arm = 0 THEN n ELSE 0 END))
             - (CAST(SUM(CASE WHEN arm = 1 THEN s ELSE 0 END) AS DOUBLE)
                / SUM(CASE WHEN arm = 1 THEN n ELSE 0 END)) AS d_obs
      FROM per_user
    ),
    reps AS (
      SELECT b, ((user_id * 2654435761 + b * 40503) // 65536) % 2 AS flip,
             n, s
      FROM per_user, UNNEST(range(0, 64)) t(b)
    ),
    perm AS (
      SELECT b,
             (CAST(SUM(CASE WHEN flip = 0 THEN s ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN flip = 0 THEN n ELSE 0 END))
             - (CAST(SUM(CASE WHEN flip = 1 THEN s ELSE 0 END) AS DOUBLE)
                / SUM(CASE WHEN flip = 1 THEN n ELSE 0 END)) AS d_b
      FROM reps GROUP BY b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(ROUND(CAST(MAX(obs.d_obs) / 1000 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS observed_diff,
           CAST(ROUND(CAST(
             (1.0 + SUM(CASE WHEN abs(perm.d_b) >= abs(obs.d_obs)
                        THEN 1 ELSE 0 END)) / (COUNT(*) + 1)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS p_value
    FROM perm CROSS JOIN obs
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-respecting permutation test of the mean value
    difference between the parity cohorts: 64 label reassignments
    drawn from a DETERMINISTIC integer hash per (user, replica) —
    flips happen at the USER level, never the event level (the flip
    is BIT 16 of the hash, not the low bit — with two odd multipliers
    the low bit degenerates to (user_id + b) % 2, i.e. the identity
    labeling or its complement on every replica), honoring
    the randomization unit exactly like agg_ratio_metric_delta does
    for variance — and the p-value is the add-one fraction of
    permuted |diffs| beating the observed one.  The agnostic test
    when agg_ab_welch_t's normality is in doubt; the hash replicas
    make it replayable (the agg_poisson_bootstrap_ci discipline).
    One pass reduces users to (n, Σmilli); the 64-replica fan-out
    multiplies the USER-cardinality table, not events, and
    partial-aggregates straight back down."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum(milli).alias("s")
    ).withColumn("arm", F.col("user_id") % 2)
    side = lambda flag_col, v: F.sum(
        F.when(F.col(flag_col) == v, F.col("s")).otherwise(0)
    ).cast("double") / F.sum(
        F.when(F.col(flag_col) == v, F.col("n")).otherwise(0)
    )
    obs = per_user.agg((side("arm", 0) - side("arm", 1)).alias("d_obs"))
    reps = per_user.select(
        "n",
        "s",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "user_id",
    ).withColumn(
        "flip",
        F.shiftright(
            F.col("user_id") * F.lit(2654435761) + F.col("b") * 40503, 16
        )
        % 2,
    )
    perm = reps.groupBy("b").agg(
        (side("flip", 0) - side("flip", 1)).alias("d_b")
    )
    joined = perm.crossJoin(F.broadcast(obs))
    return joined.agg(
        F.count("*").cast("long").alias("n_perms"),
        _r(F.max("d_obs") / 1000, 6).alias("observed_diff"),
        _r(
            (
                1.0
                + F.sum(
                    F.when(
                        F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1
                    ).otherwise(0)
                )
            )
            / (F.count("*") + 1),
            6,
        ).alias("p_value"),
    )


@query(
    "window_target_encoding",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CASE WHEN value > 250 THEN 1 ELSE 0 END AS y
      FROM events WHERE event_id % 25 = 0
    ),
    enc AS (
      SELECT event_id, event_type, y,
             SUM(y) OVER (PARTITION BY event_type) AS sy,
             COUNT(*) OVER (PARTITION BY event_type) AS cy
      FROM base
    )
    SELECT event_id, event_type,
           CAST(ROUND(CAST(
             CASE WHEN cy > 1
                  THEN CAST(sy - y AS DOUBLE) / (cy - 1)
                  ELSE 0.5 END
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS te_loo
    FROM enc
    """,
)
def window_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against the
    high-value outcome: each row's feature is the category's mean
    target EXCLUDING the row itself, (Σy − y)/(n−1) — the standard
    high-cardinality categorical encoding, and the leave-one-out form
    is what prevents the target leaking into its own feature (plain
    mean encoding memorizes singleton categories; LOO collapses them
    to the 0.5 prior).  One category-partitioned window pair over a
    single shuffle; all sums exact integers, the division the only
    float."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 25 == 0)
    base = e.select(
        "event_id",
        "event_type",
        F.when(F.col("value") > 250, 1).otherwise(0).alias("y"),
    )
    w = Window.partitionBy("event_type")
    enc = base.select(
        "event_id",
        "event_type",
        "y",
        F.sum("y").over(w).alias("sy"),
        F.count("*").over(w).alias("cy"),
    )
    te = F.when(
        F.col("cy") > 1,
        (F.col("sy") - F.col("y")).cast("double") / (F.col("cy") - 1),
    ).otherwise(F.lit(0.5))
    return enc.select("event_id", "event_type", _r(te, 6).alias("te_loo"))


@query(
    "agg_cohens_h",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id % 2
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN CAST(conv AS DOUBLE) / n END) AS p0,
             MAX(CASE WHEN arm = 1 THEN CAST(conv AS DOUBLE) / n END) AS p1
      FROM arms
    )
    SELECT CAST(ROUND(CAST(p0 AS DECIMAL(24,10)), 6) AS DOUBLE) AS p0,
           CAST(ROUND(CAST(p1 AS DECIMAL(24,10)), 6) AS DOUBLE) AS p1,
           CAST(ROUND(CAST(
             2 * asin(sqrt(p0)) - 2 * asin(sqrt(p1))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS cohens_h
    FROM w
    """,
)
def agg_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size for the conversion-rate difference:
    h = 2·asin(√p₀) − 2·asin(√p₁) — the variance-stabilized
    proportions counterpart of agg_cohens_d_effect_size, and the
    number agg_power_analysis_mde needs when the metric is a RATE
    (a 1-point gap means h≈0.08 at p=0.5 but h≈0.23 at p=0.01; raw
    differences are not comparable across baselines, h is).  One
    count pass to two exact integer pairs; the arcsin transform is
    the only libm call, applied to identical rationals on both
    sides."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    p = F.col("conv").cast("double") / F.col("n")
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, p)).alias("p0"),
        F.max(F.when(F.col("arm") == 1, p)).alias("p1"),
    )
    h = 2 * F.asin(F.sqrt(F.col("p0"))) - 2 * F.asin(F.sqrt(F.col("p1")))
    return w.select(
        _r(F.col("p0"), 6).alias("p0"),
        _r(F.col("p1"), 6).alias("p1"),
        _r(h, 6).alias("cohens_h"),
    )


@query(
    "window_zscore_by_group",
    oracle="""
    WITH milli AS (
      SELECT event_id, event_type,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS m
      FROM events WHERE event_id % 40 = 0
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS n, SUM(m) AS s, SUM(m * m) AS ss
      FROM (SELECT event_type, CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS m
            FROM events) t
      GROUP BY event_type
    )
    SELECT milli.event_id, milli.event_type,
           CAST(ROUND(CAST(
             (milli.m - CAST(s.s AS DOUBLE) / s.n)
             / sqrt((CAST(s.ss AS DOUBLE) - CAST(s.s AS DOUBLE) * s.s / s.n)
                    / (s.n - 1))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS z
    FROM milli JOIN stats s USING (event_type)
    """,
)
def window_zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization: each (sampled) event's value as a
    z-score against ITS TYPE's full-population mean and sample SD —
    the feature-normalization that makes a purchase amount and a view
    dwell comparable in one model (ts_rolling_zscore standardizes
    against a trailing window; this is the global per-entity form).
    Group moments reduce to exact int64 power sums over the FULL
    table in one pass (type-cardinality output, broadcast back onto
    the sampled rows); the per-row z is one subtraction and divide."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(milli).alias("s"),
        F.sum(milli * milli).alias("ss"),
    )
    sampled = e.where(F.col("event_id") % 40 == 0).select(
        "event_id", "event_type", milli.alias("m")
    )
    joined = sampled.join(F.broadcast(stats), "event_type")
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    z = (F.col("m") - s / n) / F.sqrt((ss - s * F.col("s") / n) / (n - 1))
    return joined.select("event_id", "event_type", _r(z, 6).alias("z"))


@query(
    "agg_lognormal_fit",
    oracle="""
    WITH terms AS (
      SELECT l_returnflag,
             CAST(ROUND(CAST(ln(l_extendedprice) AS DECIMAL(26,16)), 12)
                  AS DECIMAL(20,12)) AS lx
      FROM lineitem WHERE l_extendedprice > 0
    ),
    sums AS (
      SELECT l_returnflag, COUNT(*) AS n, SUM(lx) AS s,
             SUM(lx * lx) AS ss
      FROM terms GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST(s AS DOUBLE) / n AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS mu_log,
           CAST(ROUND(CAST(
             sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS sigma_log,
           CAST(ROUND(CAST(
             exp(CAST(s AS DOUBLE) / n
                 + ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1)) / 2)
           AS DECIMAL(24,6)), 2) AS DOUBLE) AS implied_mean
    FROM sums
    """,
)
def agg_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of extended price per return flag by log-moment
    matching: μ̂ and σ̂ of ln(x), plus the implied arithmetic mean
    exp(μ+σ²/2) — the distributional model revenue-like columns
    usually follow, and the cross-check that exposes it: when the
    implied mean disagrees with the actual mean, the lognormal
    assumption (and every downstream percentile extrapolation built
    on it) is wrong.  Each row's ln is decimal-rounded at 12 dp
    BEFORE the power sums (ln is libm; cast-above-round-scale per
    the verify-skill rule; narrow types keep lx·lx under the
    precision-38 cap), so both engines reduce identical decimals
    order-free."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 0
    )
    lx = (
        F.round(F.log(F.col("l_extendedprice")).cast("decimal(26,16)"), 12)
        .cast("decimal(20,12)")
    )
    sums = li.select("l_returnflag", lx.alias("lx")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("s"),
        F.sum(F.col("lx") * F.col("lx")).alias("ss"),
    )
    n = F.col("n")
    s, ss = F.col("s").cast("double"), F.col("ss").cast("double")
    mu = s / n
    var = (ss - s * F.col("s").cast("double") / n) / (n - 1)
    return sums.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        _r(mu, 6).alias("mu_log"),
        _r(F.sqrt(var), 6).alias("sigma_log"),
        _r(F.exp(mu + var / 2), 2, "decimal(24,6)")
        .alias("implied_mean"),
    )


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS nh,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
                 * CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ss
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT event_type, nh,
             nh * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nh)
                       / (nh - 1)) AS weight
      FROM g
    )
    SELECT event_type, CAST(nh AS BIGINT) AS stratum_size,
           CAST(FLOOR(1000 * weight / SUM(weight) OVER ()) AS BIGINT)
             AS neyman_n,
           CAST(ROUND(CAST(weight / SUM(weight) OVER ()
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS share
    FROM w
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-row sampling budget across
    event-type strata: nₕ·σₕ weighting — the survey-sampling design
    that minimizes the estimator's variance for a fixed budget, vs
    the proportional allocation sample_stratified uses (a small but
    wildly-variable stratum DESERVES more than its population share;
    Neyman gives it that).  Stratum SDs reduce to exact int64 power
    sums in one pass; the allocation is scalar arithmetic on the
    stratum-cardinality table, floored identically in both engines
    (the remainder seats are a documented ≤ k-row undershoot)."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("nh"),
        F.sum(milli).alias("s"),
        F.sum(milli * milli).alias("ss"),
    )
    nh = F.col("nh")
    s, ss = F.col("s").cast("double"), F.col("ss").cast("double")
    sd = F.sqrt((ss - s * F.col("s").cast("double") / nh) / (nh - 1))
    w = g.select("event_type", "nh", (nh * sd).alias("weight"))
    wall = Window.partitionBy()
    share = F.col("weight") / F.sum("weight").over(wall)
    return w.select(
        "event_type",
        nh.cast("long").alias("stratum_size"),
        F.floor(1000 * share).cast("long").alias("neyman_n"),
        _r(share, 6).alias("share"),
    )
