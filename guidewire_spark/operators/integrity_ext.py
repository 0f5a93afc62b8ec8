"""Distribution-free interval estimation, multimodal pair integrity,
and threshold classification quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "agg_median_ci_order_stat",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS m, COUNT(*) AS c
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT m, SUM(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS cr,
             SUM(c) OVER () AS n
      FROM vals
    ),
    ranks AS (
      SELECT MAX(n) AS n,
             CAST(FLOOR(MAX(n) / 2.0
                  - 0.979981992270027 * sqrt(MAX(n))) AS BIGINT) AS r_lo,
             CAST(CEIL(1 + MAX(n) / 2.0
                  + 0.979981992270027 * sqrt(MAX(n))) AS BIGINT) AS r_hi
      FROM cum
    ),
    med AS (
      SELECT quantile_cont(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT), 0.5)
               AS med_milli
      FROM events
    )
    SELECT CAST(r.n AS BIGINT) AS n,
           CAST(ROUND(CAST(med.med_milli / 1000.0 AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS median,
           CAST(MIN(CASE WHEN c.cr >= r.r_lo THEN c.m END) AS BIGINT)
             AS ci_lo_milli,
           CAST(MIN(CASE WHEN c.cr >= r.r_hi THEN c.m END) AS BIGINT)
             AS ci_hi_milli
    FROM cum c CROSS JOIN ranks r CROSS JOIN med
    GROUP BY r.n, med.med_milli
    """,
)
def agg_median_ci_order_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN by
    order statistics: the binomial argument says
    [x₍n/2−z√n/2₎, x₍1+n/2+z√n/2₎] covers the true median at ~95%
    with NO distributional assumption — the honest error bar for the
    median that agg_poisson_bootstrap_ci (means only) and a normal
    approximation (wrong for skewed value data) cannot give.  The
    ranks come from a closed-form integer formula (z/2 =
    0.97998…, identical literal both sides), and the bounds are
    selected by the agg_auc_roc scale discipline: aggregate to one
    row per DISTINCT value first, then find the first value whose
    cumulative count reaches each target rank — no data-sized
    ranking anywhere."""
    e = load_table(spark, sf_dir, "events")
    vals = e.groupBy(
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("m")
    ).agg(F.count("*").alias("c"))
    w_cum = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "m",
        F.sum("c").over(w_cum).alias("cr"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    ranks = cum.agg(
        F.max("n").alias("n_total"),
        F.floor(
            F.max("n") / 2.0 - 0.979981992270027 * F.sqrt(F.max("n"))
        ).cast("long").alias("r_lo"),
        F.ceil(
            1 + F.max("n") / 2.0 + 0.979981992270027 * F.sqrt(F.max("n"))
        ).cast("long").alias("r_hi"),
    )
    med = e.agg(
        F.percentile(
            F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long"), F.lit(0.5)
        ).alias("med_milli")
    )
    joined = (
        cum.drop("n")
        .crossJoin(F.broadcast(ranks))
        .crossJoin(F.broadcast(med))
        .withColumnRenamed("n_total", "n")
    )
    return joined.groupBy("n", "med_milli").agg(
        F.min(F.when(F.col("cr") >= F.col("r_lo"), F.col("m")))
        .cast("long")
        .alias("ci_lo_milli"),
        F.min(F.when(F.col("cr") >= F.col("r_hi"), F.col("m")))
        .cast("long")
        .alias("ci_hi_milli"),
    ).select(
        F.col("n").cast("long").alias("n"),
        _r(F.col("med_milli") / 1000.0, 4).alias("median"),
        "ci_lo_milli",
        "ci_hi_milli",
    )


@query(
    "multimodal_pair_coverage",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents),
    v AS (SELECT vec_id FROM embeddings),
    j AS (
      SELECT d.doc_id, v.vec_id
      FROM d FULL OUTER JOIN v ON v.vec_id = d.doc_id
    )
    SELECT CAST(SUM(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS paired,
           CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_missing_embedding,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS dangling_embeddings,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS doc_coverage
    FROM j
    """,
)
def multimodal_pair_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-pair integrity audit: full-outer join the text corpus
    onto the embedding table by id and count paired rows, documents
    with no embedding, and DANGLING embeddings with no document — the
    referential-integrity check every multimodal (CLIP-style
    text+vector, or image+caption) dataset needs before training,
    where a silent 20% modality gap skews the loss and dangling rows
    waste the epoch.  One full-outer shuffle join on the id; the
    audit row is a global aggregate."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    v = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(v, d.doc_id == v.vec_id, "full_outer")
    paired = F.sum(
        (F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()).cast("int")
    )
    return j.agg(
        paired.cast("long").alias("paired"),
        F.sum(F.col("vec_id").isNull().cast("int"))
        .cast("long")
        .alias("docs_missing_embedding"),
        F.sum(F.col("doc_id").isNull().cast("int"))
        .cast("long")
        .alias("dangling_embeddings"),
        _r(
            paired.cast("double")
            / F.sum(F.col("doc_id").isNotNull().cast("int")),
            6,
        ).alias("doc_coverage"),
    )


@query(
    "agg_mcc_threshold",
    oracle="""
    WITH conf AS (
      SELECT SUM(CASE WHEN value > 250 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN value > 250 AND event_type <> 'purchase'
                 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN value <= 250 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN value <= 250 AND event_type <> 'purchase'
                 THEN 1 ELSE 0 END) AS tn
      FROM events
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(ROUND(CAST(
             (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt((CAST(tp + fp AS DOUBLE)) * (tp + fn)
                    * (tn + fp) * (tn + fn))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS mcc
    FROM conf
    """,
)
def agg_mcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the thresholded value
    signal (value > 250 predicts purchase): the single-number
    confusion-matrix summary that stays honest under class imbalance
    (accuracy and even F1 look fine when 99% of events are negative;
    MCC ≈ 0 exposes a useless classifier).  Completes the
    classification-quality quartet: agg_auc_roc ranks, ECE
    calibrates, log loss scores probabilities, MCC judges the
    DEPLOYED threshold.  One partial-aggregated pass to four exact
    int64 cells; the coefficient is scalar arithmetic."""
    e = load_table(spark, sf_dir, "events")
    pred = F.col("value") > 250
    pos = F.col("event_type") == "purchase"
    conf = e.agg(
        F.sum((pred & pos).cast("int")).alias("tp"),
        F.sum((pred & ~pos).cast("int")).alias("fp"),
        F.sum((~pred & pos).cast("int")).alias("fn"),
        F.sum((~pred & ~pos).cast("int")).alias("tn"),
    )
    tp, fp = F.col("tp"), F.col("fp")
    fn, tn = F.col("fn"), F.col("tn")
    mcc = (tp.cast("double") * tn - fp.cast("double") * fn) / F.sqrt(
        (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return conf.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        _r(mcc, 6).alias("mcc"),
    )


@query(
    "agg_risk_odds_ratio",
    oracle="""
    WITH conf AS (
      SELECT SUM(CASE WHEN value > 250 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN value > 250 AND event_type <> 'purchase'
                 THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN value <= 250 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN value <= 250 AND event_type <> 'purchase'
                 THEN 1 ELSE 0 END) AS d
      FROM events
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(ROUND(CAST(
             (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS risk_ratio,
           CAST(ROUND(CAST(
             CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS odds_ratio,
           CAST(ROUND(CAST(
             sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS log_or_se
    FROM conf
    """,
)
def agg_risk_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk ratio and odds ratio of the 2×2 exposure table (value >
    250 as exposure, purchase as outcome) with the Woolf standard
    error of ln(OR) = √(1/a+1/b+1/c+1/d) — the epidemiology /
    feature-association readout that turns agg_mcc_threshold's
    confusion cells into INTERPRETABLE effect sizes ("exposed rows
    are X× as likely to convert") with an error bar.  Same one-pass
    four-cell reduction; everything after is scalar arithmetic on
    exact integers."""
    e = load_table(spark, sf_dir, "events")
    exp_ = F.col("value") > 250
    out_ = F.col("event_type") == "purchase"
    conf = e.agg(
        F.sum((exp_ & out_).cast("int")).alias("a"),
        F.sum((exp_ & ~out_).cast("int")).alias("b"),
        F.sum((~exp_ & out_).cast("int")).alias("c"),
        F.sum((~exp_ & ~out_).cast("int")).alias("d"),
    )
    a, b = F.col("a"), F.col("b")
    c, d = F.col("c"), F.col("d")
    rr = (a.cast("double") / (a + b)) / (c.cast("double") / (c + d))
    orr = a.cast("double") * d / (b.cast("double") * c)
    se = F.sqrt(
        1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d
    )
    return conf.select(
        a.cast("long").alias("a"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        d.cast("long").alias("d"),
        _r(rr, 6).alias("risk_ratio"),
        _r(orr, 6).alias("odds_ratio"),
        _r(se, 6).alias("log_or_se"),
    )


@query(
    "agg_quantile_skewness",
    oracle="""
    WITH milli AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM lineitem
    )
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(
             (quantile_cont(c, 0.75) + quantile_cont(c, 0.25)
              - 2 * quantile_cont(c, 0.5))
             / (quantile_cont(c, 0.75) - quantile_cont(c, 0.25))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS bowley_skew
    FROM milli GROUP BY l_returnflag
    """,
)
def agg_quantile_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness per return flag:
    (Q₃+Q₁−2·Q₂)/(Q₃−Q₁) ∈ [−1, 1] — the robust asymmetry measure
    whose moment-based sibling (agg_higher_moments' skewness) a
    single outlier can saturate; quartiles cannot be dragged, so this
    is the skew number to trust on revenue-like long tails.  Pairs
    with agg_tukey_fences (same quartiles, different question).
    Quartiles interpolate exact int64 cents in one ordered-set
    aggregate per group; the combination is scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    g = li.select("l_returnflag", cents.alias("c")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").alias("n"),
        F.percentile("c", F.lit(0.25)).alias("q1"),
        F.percentile("c", F.lit(0.5)).alias("q2"),
        F.percentile("c", F.lit(0.75)).alias("q3"),
    )
    skew = (F.col("q3") + F.col("q1") - 2 * F.col("q2")) / (
        F.col("q3") - F.col("q1")
    )
    return g.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        _r(skew, 6).alias("bowley_skew"),
    )


@query(
    "ts_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    pairs AS (
      SELECT CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.x > a.x
    ),
    s AS (SELECT SUM(sgn) AS s, COUNT(*) AS n_pairs FROM pairs),
    nn AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(s.s AS BIGINT) AS s,
           CAST(s.n_pairs AS BIGINT) AS n_pairs,
           CAST(ROUND(CAST(
             (CASE WHEN s.s > 0 THEN s.s - 1
                   WHEN s.s < 0 THEN s.s + 1 ELSE 0 END)
             / sqrt(CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) / 18)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS z
    FROM s CROSS JOIN nn
    """,
)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily series: S = Σ sign(yⱼ−yᵢ)
    over all day pairs, z = (S∓1)/√(n(n−1)(2n+5)/18) — the
    nonparametric SIGNIFICANCE companion to agg_theil_sen_slope's
    magnitude (the pair every robust trend readout ships together:
    Sen says HOW steep, Mann-Kendall says WHETHER it's real), immune
    to outliers and any monotone transformation of y.  The pairwise
    enumeration reuses the Theil-Sen containment: it runs on the
    calendar-bounded daily aggregate, and S is an exact integer
    sum — the only doubles are the final variance normalization
    (the no-ties variance form, exact for this integer-mean series
    where ties are rare and both engines drop them identically via
    sign=0)."""
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
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.x") > F.col("a.x")).select(
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(F.sum("sgn").alias("s"), F.count("*").alias("n_pairs"))
    nn = daily.agg(F.count("*").alias("n"))
    joined = s.crossJoin(F.broadcast(nn))
    s_adj = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    var = F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18
    return joined.select(
        F.col("s").cast("long").alias("s"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        _r(s_adj / F.sqrt(var), 6).alias("z"),
    )
