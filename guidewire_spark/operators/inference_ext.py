"""Statistical-inference operators: rank correlation, effect sizes,
association strength, divergence, robust means, robust regression and
Bayesian A/B posteriors.

Parity note: the reference (databricks-industry-solutions/guidewire)
exposes its output as plain Delta tables for arbitrary downstream SQL
(README.md:33-43); this module supplies the experiment-analysis layer
such a warehouse feeds.  Numeric discipline follows the house rules
established in analytics.py / olap_ext.py: exact integer or DECIMAL
accumulation wherever the reduction order is engine-dependent, and
double math only on already-reduced scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------


@query(
    "agg_spearman_rank_corr",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
               - 1 AS dx,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
               - 1 AS dy
      FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(dy * dy AS DECIMAL(38,0))) AS syy
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS spearman_rho
    FROM sums
    """,
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — the monotonic-association screen that survives outliers and
    nonlinearity where Pearson (agg_corr_covar) does not.  Tie
    handling is the textbook average rank, kept in INTEGERS by
    doubling: dx = 2*rank_min + tie_count - 1 is exactly twice the
    average rank, and correlation is affine-invariant, so Pearson on
    (dx, dy) IS Spearman's rho.  All five power sums accumulate as
    DECIMAL(38,0) (the per-row products are int64-safe to ~3e9 rows
    per group; the cross-row SUM — the first term to overflow at
    scale — is decimal-protected), so the reduction is exact and
    order-free; doubles appear only in the final per-group ratio.

    Scale shape (round-6 retrofit): ranking the RAW fact inside a
    3-value flag partition funnels a third of the table through one
    window task.  Midranks only depend on the (flag, value) pair, so
    they are computed on the DISTINCT-VALUE tables instead —
    dx = 2·count_below + tie + 1, with count_below from a TWO-PHASE
    cumulative sum over (flag, value) order minus a broadcast 3-row
    per-flag prefix offset — and joined back to the fact (quantity
    side broadcast, ~150 rows; price side a parallel shuffle join).
    No data-sized single-task stage anywhere."""
    from guidewire_spark.operators.twophase import two_phase_ordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def midranks(col: str, out: str) -> DataFrame:
        pv = li.groupBy("l_returnflag", col).agg(F.count("*").alias("c"))
        tp = two_phase_ordered(
            pv,
            [F.asc("l_returnflag"), F.asc(col)],
            rank_name=None,
            cumsums={"cumc": "c"},
        )
        offs = (
            pv.groupBy("l_returnflag")
            .agg(F.sum("c").alias("tot"))
            .select(
                "l_returnflag",
                F.coalesce(
                    F.sum("tot").over(
                        Window.orderBy("l_returnflag").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).alias("off"),
            )
        )
        return tp.join(F.broadcast(offs), "l_returnflag").select(
            "l_returnflag",
            col,
            (
                2 * (F.col("cumc") - F.col("c") - F.col("off"))
                + F.col("c")
                + 1
            ).alias(out),
        )

    dxs = midranks("l_quantity", "dx")
    dys = midranks("l_extendedprice", "dy")
    ranked = (
        li.join(F.broadcast(dxs), ["l_returnflag", "l_quantity"])
        .join(dys, ["l_returnflag", "l_extendedprice"])
        .select("l_returnflag", "dx", "dy")
    )
    dec = "decimal(38,0)"
    sums = ranked.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        _r(num / den, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Cramér's V
# ---------------------------------------------------------------------------


@query(
    "agg_cramers_v",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c, COUNT(*) AS o
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    margins AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY r) AS row_tot,
             SUM(o) OVER (PARTITION BY c) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    ),
    terms AS (
      SELECT n,
             CAST(ROUND(CAST(
               (o - row_tot * col_tot / CAST(n AS DOUBLE))
               * (o - row_tot * col_tot / CAST(n AS DOUBLE))
               / (row_tot * col_tot / CAST(n AS DOUBLE))
             AS DECIMAL(20,12)), 10) AS DECIMAL(20,12)) AS term
      FROM margins
    ),
    dims AS (
      SELECT COUNT(DISTINCT r) AS nr, COUNT(DISTINCT c) AS nc FROM obs
    )
    SELECT CAST(MAX(d.nr) AS BIGINT) AS n_rows,
           CAST(MAX(d.nc) AS BIGINT) AS n_cols,
           CAST(ROUND(CAST(SUM(t.term) AS DECIMAL(20,12)), 4) AS DOUBLE)
             AS chi2,
           CAST(ROUND(CAST(
             sqrt(CAST(SUM(t.term) AS DOUBLE)
                  / (MAX(t.n) * (LEAST(MAX(d.nr), MAX(d.nc)) - 1)))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS cramers_v
    FROM terms t CROSS JOIN dims d
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order priority and order status — the
    [0, 1]-normalized association strength that makes chi-square
    (agg_chi_square_independence) comparable across tables of
    different shapes: V = sqrt(chi2 / (N * (min(r,c) - 1))).  Cell
    terms are decimal-rounded before the cross-cell sum (the
    agg_mutual_information discipline: a 1-ulp libm difference cannot
    reorder an exact decimal reduction), and everything after the
    first partial-aggregated count runs on the contingency-table-sized
    frame."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count("*").alias("o"))
    margins = obs.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("c")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    term = F.round(
        ((F.col("o") - expected) * (F.col("o") - expected) / expected).cast(
            "decimal(20,12)"
        ),
        10,
    ).cast("decimal(20,12)")
    dims = margins.select(
        "n",
        term.alias("term"),
        F.size(F.collect_set("r").over(Window.partitionBy())).alias("nr"),
        F.size(F.collect_set("c").over(Window.partitionBy())).alias("nc"),
    )
    chi2 = F.sum("term")
    min_dim = F.least(F.max("nr"), F.max("nc"))
    return dims.agg(
        F.max("nr").cast("long").alias("n_rows"),
        F.max("nc").cast("long").alias("n_cols"),
        _r(chi2, 4, "decimal(20,12)").alias("chi2"),
        _r(
            F.sqrt(
                chi2.cast("double") / (F.max("n") * (min_dim - F.lit(1)))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Cohen's d
# ---------------------------------------------------------------------------


@query(
    "agg_cohens_d_effect_size",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
                 * CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ss
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    w AS (
      SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
             MAX(CASE WHEN event_type = 'click' THEN s END) AS s1,
             MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss1,
             MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
             MAX(CASE WHEN event_type = 'view' THEN s END) AS s2,
             MAX(CASE WHEN event_type = 'view' THEN ss END) AS ss2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(ROUND(CAST(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 1000.0
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS mean_diff,
           CAST(ROUND(CAST(
             ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 1000.0)
             / sqrt((
                 (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                 + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
               ) / (n1 + n2 - 2) / 1000000.0)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS cohens_d
    FROM w
    """,
)
def agg_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between click and view event values — the
    standardized effect size that agg_ab_welch_t's t-statistic does
    not give (t grows with sqrt(N); d answers "is the difference
    BIG?", the question that matters when N is 100 TB and everything
    is 'significant').  d = (m1 - m2) / s_pooled with the pooled SD
    from the Bessel-corrected within-group sums of squares; both
    groups reduce to exact int64 milli-unit power sums in ONE
    partial-aggregated pass (two rows out), and every double appears
    after the reduction."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    g = (
        e.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(milli).alias("s"),
            F.sum(milli * milli).alias("ss"),
        )
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = g.agg(
        pick("click", "n").alias("n1"),
        pick("click", "s").alias("s1"),
        pick("click", "ss").alias("ss1"),
        pick("view", "n").alias("n2"),
        pick("view", "s").alias("s2"),
        pick("view", "ss").alias("ss2"),
    )
    n1, s1, ss1 = F.col("n1"), F.col("s1").cast("double"), F.col("ss1").cast("double")
    n2, s2, ss2 = F.col("n2"), F.col("s2").cast("double"), F.col("ss2").cast("double")
    mean_diff = (s1 / n1 - s2 / n2) / F.lit(1000.0)
    pooled_var = (
        ((ss1 - s1 * F.col("s1") / n1) + (ss2 - s2 * F.col("s2") / n2))
        / (n1 + n2 - 2)
        / F.lit(1_000_000.0)
    )
    return w.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        _r(mean_diff, 6).alias("mean_diff"),
        _r(mean_diff / F.sqrt(pooled_var), 6).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence
# ---------------------------------------------------------------------------


@query(
    "agg_js_divergence",
    oracle="""
    WITH counts AS (
      SELECT event_type,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
      FROM events GROUP BY event_type
    ),
    probs AS (
      SELECT event_type,
             CAST(c0 AS DOUBLE) / SUM(c0) OVER () AS p,
             CAST(c1 AS DOUBLE) / SUM(c1) OVER () AS q
      FROM counts
    ),
    terms AS (
      SELECT CAST(ROUND(CAST(
               0.5 * (CASE WHEN p > 0
                           THEN p * log2(2 * p / (p + q)) ELSE 0 END)
               + 0.5 * (CASE WHEN q > 0
                             THEN q * log2(2 * q / (p + q)) ELSE 0 END)
             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS term
      FROM probs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS js_bits
    FROM terms
    """,
)
def agg_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between the two user-parity
    cohorts' event-type distributions — the SYMMETRIC, always-finite
    counterpart of mix_kl_divergence (KL blows up on any category one
    side never emits; JS is bounded by 1 bit, the right drift monitor
    between two live corpora).  JS = ½KL(P‖M) + ½KL(Q‖M) with
    M = (P+Q)/2, expanded per category so each term is computed from
    exact counts and decimal-rounded BEFORE the cross-category sum
    (order-free reduction); zero-probability sides contribute exactly
    0 by the CASE guard.  One partial-aggregated count pass; the
    window and term math run over the category-cardinality frame."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("c1"),
    )
    wall = Window.partitionBy()
    probs = counts.select(
        (F.col("c0").cast("double") / F.sum("c0").over(wall)).alias("p"),
        (F.col("c1").cast("double") / F.sum("c1").over(wall)).alias("q"),
    )
    p, q = F.col("p"), F.col("q")
    term = F.round(
        (
            F.lit(0.5)
            * F.when(p > 0, p * F.log2(2 * p / (p + q))).otherwise(0.0)
            + F.lit(0.5)
            * F.when(q > 0, q * F.log2(2 * q / (p + q))).otherwise(0.0)
        ).cast("decimal(20,12)"),
        12,
    ).cast("decimal(20,12)")
    return probs.select(term.alias("term")).agg(
        F.count("*").cast("long").alias("n_types"),
        _r(F.sum("term"), 6, "decimal(20,12)")
        .alias("js_bits"),
    )


# ---------------------------------------------------------------------------
# Trimmed and winsorized means
# ---------------------------------------------------------------------------


@query(
    "agg_trimmed_winsorized",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT),
                        l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    agg AS (
      SELECT l_returnflag, MAX(n) AS n, MAX(n // 10) AS t,
             SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                      THEN cents ELSE 0 END) AS kept_sum,
             MAX(CASE WHEN rn = n // 10 + 1 THEN cents END) AS lo_val,
             MAX(CASE WHEN rn = n - n // 10 THEN cents END) AS hi_val
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST(kept_sum AS DOUBLE)
                / (n - 2 * t) / 100.0 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS trimmed_mean,
           CAST(ROUND(CAST(CAST(kept_sum + t * lo_val + t * hi_val AS DOUBLE)
                / n / 100.0 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS winsorized_mean
    FROM agg
    """,
)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized means of extended price per return
    flag — the robust location estimates between the mean (outlier-
    hostage) and the median (discards 98% of the data).  Trimmed drops
    the bottom/top n/10 ranks; winsorized CLAMPS them to the boundary
    order statistics (kept_sum + t·lo + t·hi over the full n).  Ranks
    use a fully deterministic ordering (cents, orderkey, linenumber)
    so both engines trim the identical multiset; all accumulation is
    exact int64 cents (boundary terms t·lo bounded by n·max_cents —
    int64-safe past sf100), and doubles appear only in the final
    per-group division.  One shuffle by flag for the rank window, then
    a partial-aggregated group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    w = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        "l_returnflag", cents.alias("cents"), "l_orderkey", "l_linenumber"
    ).select(
        "l_returnflag",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    t = F.expr("n div 10")
    agg = ranked.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.max(t).alias("t"),
        F.sum(
            F.when(
                (F.col("rn") > t) & (F.col("rn") <= F.col("n") - t),
                F.col("cents"),
            ).otherwise(0)
        ).alias("kept_sum"),
        F.max(F.when(F.col("rn") == t + 1, F.col("cents"))).alias("lo_val"),
        F.max(F.when(F.col("rn") == F.col("n") - t, F.col("cents"))).alias(
            "hi_val"
        ),
    )
    n, tt = F.col("n"), F.col("t")
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        _r(
            F.col("kept_sum").cast("double") / (n - 2 * tt) / F.lit(100.0), 4
        ).alias("trimmed_mean"),
        _r(
            (
                F.col("kept_sum") + tt * F.col("lo_val") + tt * F.col("hi_val")
            ).cast("double")
            / n
            / F.lit(100.0),
            4,
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen slope
# ---------------------------------------------------------------------------


@query(
    "agg_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    slopes AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
      FROM daily a JOIN daily b ON b.x > a.x
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(CAST(quantile_cont(slope, 0.5)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS sen_slope_milli
    FROM slopes
    """,
)
def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator over the daily mean-value series: the
    median of all pairwise slopes — the robust trend line that a
    single corrupted day cannot bend (up to ~29% outliers), where
    OLS (agg_regression_family) follows any spike.  The O(days²) pair
    enumeration happens AFTER the series is aggregated to one row per
    day, so its cost is calendar-bounded and independent of event
    volume — the same containment discipline as ts_downsample_lttb.
    Each slope is one IEEE division of exact integers (identical in
    both engines); the median interpolates two such doubles
    (percentile ≡ quantile_cont, the window_rolling_median
    equivalence).  Units: milli-value per day."""
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
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("b.x") > F.col("a.x")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope")
    )
    return slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        _r(F.percentile("slope", F.lit(0.5)), 6).alias("sen_slope_milli"),
    )


# ---------------------------------------------------------------------------
# Bayesian A/B Beta posterior
# ---------------------------------------------------------------------------


@query(
    "agg_bayesian_ab_beta",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id % 2
    )
    SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n,
           CAST(conv AS BIGINT) AS conv,
           CAST(ROUND(CAST(CAST(1 + conv AS DOUBLE) / (2 + n)
                AS DECIMAL(24,12)), 8) AS DOUBLE) AS post_mean,
           CAST(ROUND(CAST(
             CAST(1 + conv AS DOUBLE) * (1 + n - conv)
             / (CAST(2 + n AS DOUBLE) * (2 + n) * (3 + n))
           AS DECIMAL(24,12)), 12) AS DOUBLE) AS post_var
    FROM arms
    """,
)
def agg_bayesian_ab_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion posterior: Beta(1,1) prior on each
    arm's purchase rate gives the closed-form posterior
    Beta(1+conv, 1+n-conv) — posterior mean (1+c)/(2+n) and variance
    ab/((a+b)²(a+b+1)) per arm, the decision-ready summary that the
    frequentist pair (agg_ab_welch_t, agg_ab_cuped_adjustment) does
    not give for small arms (the prior regularizes 0/0).  One
    partial-aggregated count pass reduces each arm to (n, conv) exact
    integers; the posterior moments are pure scalar arithmetic on
    those two numbers."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    n, c = F.col("n"), F.col("conv")
    a = (1 + c).cast("double")
    b = (1 + n - c).cast("double")
    return arms.select(
        F.col("arm").cast("long").alias("arm"),
        n.cast("long").alias("n"),
        c.cast("long").alias("conv"),
        _r(a / (2 + n), 8, "decimal(24,12)")
        .alias("post_mean"),
        _r(a * b / ((2 + n).cast("double") * (2 + n) * (3 + n)), 12, "decimal(24,12)")
        .alias("post_var"),
    )
