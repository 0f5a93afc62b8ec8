"""ML evaluation and feature-engineering operators: recency-decayed
engagement scores, AUC-ROC, log loss, and embedding-centroid
separation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Exponential-decay engagement score
# ---------------------------------------------------------------------------


@query(
    "window_exponential_decay_score",
    oracle="""
    WITH anchored AS (
      SELECT user_id,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS milli,
             (SELECT MAX(epoch_us(ts)) FROM events) - epoch_us(ts) AS age_us
      FROM events WHERE user_id % 25 = 0
    ),
    terms AS (
      SELECT user_id,
             CAST(ROUND(CAST(
               milli * pow(2.0, -(CAST(age_us AS DOUBLE) / 86400000000) / 7)
             AS DECIMAL(24,8)), 6) AS DECIMAL(24,8)) AS term
      FROM anchored
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(CAST(SUM(term) / 1000 AS DECIMAL(24,8)), 4) AS DOUBLE)
             AS decayed_score
    FROM terms GROUP BY user_id
    """,
)
def window_exponential_decay_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recency-decayed engagement score per user: Σ value·2^(−age/7d)
    anchored at the corpus max timestamp — the standard ranking /
    churn-risk feature where yesterday's purchase outweighs last
    month's (half-life 7 days; ts_ewma_smoothing decays a SERIES,
    this decays each EVENT's contribution independently, so it needs
    no ordering at all).  Each term is decimal-rounded before the
    per-user sum — the order-free-reduction discipline, since pow()
    is libm territory — and the only non-scalar stage is one
    partial-aggregated groupBy(user).  The max-ts anchor is a one-row
    broadcast."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    anchor = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts")).alias("max_us")
    )
    anchored = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("milli"),
        (F.col("max_us") - F.unix_micros("ts")).alias("age_us"),
    )
    term = F.round(
        (
            F.col("milli")
            * F.pow(
                F.lit(2.0),
                -(F.col("age_us").cast("double") / 86_400_000_000) / 7,
            )
        ).cast("decimal(24,8)"),
        6,
    ).cast("decimal(24,8)")
    return (
        anchored.select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _r(F.sum("term") / 1000, 4, "decimal(24,8)")
            .alias("decayed_score"),
        )
    )


# ---------------------------------------------------------------------------
# AUC-ROC
# ---------------------------------------------------------------------------


@query(
    "agg_auc_roc",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS milli,
             COUNT(*) AS c,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT cp, c,
             COALESCE(SUM(c) OVER (ORDER BY milli
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM vals
    ),
    sums AS (
      SELECT SUM(cp * (2 * cum_before + c + 1)) AS pos_rank2,
             SUM(cp) AS n_pos, SUM(c) AS n
      FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           CAST(ROUND(CAST(
             (CAST(pos_rank2 AS DOUBLE) / 2 - CAST(n_pos AS DOUBLE)
              * (n_pos + 1) / 2)
             / (CAST(n_pos AS DOUBLE) * (n - n_pos))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS auc
    FROM sums
    """,
)
def agg_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of the value signal as a purchase classifier — the
    rank-based form: AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) where R₊ is the
    positives' midrank sum, i.e. exactly P(score⁺ > score⁻) with the
    ½-credit tie convention.  The threshold-free companion to
    agg_expected_calibration_error (a scorer can be perfectly
    calibrated yet rank no better than chance, and vice versa) and
    the normalized twin of agg_mann_whitney_u (AUC = U/(n₊n₋)).
    The agg_ks_statistic scale discipline: the corpus reduces FIRST
    to one row per distinct score with (count, positives), and the
    inherently-global ordered pass runs over that distinct-value
    aggregate, never raw rows — a tied group's doubled midrank sum
    is cp·(2·cum_before + c + 1), so the whole positives' rank sum
    is one exact int64 reduction."""
    e = load_table(spark, sf_dir, "events")
    vals = e.groupBy(
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("milli")
    ).agg(
        F.count("*").alias("c"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("cp"),
    )
    w_cum = Window.orderBy("milli").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "cp",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cum_before"),
    )
    sums = ranked.agg(
        F.sum(
            F.col("cp") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("pos_rank2"),
        F.sum("cp").alias("n_pos"),
        F.sum("c").alias("n"),
    )
    n_pos, n = F.col("n_pos"), F.col("n")
    auc = (
        F.col("pos_rank2").cast("double") / 2
        - n_pos.cast("double") * (n_pos + 1) / 2
    ) / (n_pos.cast("double") * (n - n_pos))
    return sums.select(
        n_pos.cast("long").alias("n_pos"),
        (n - n_pos).cast("long").alias("n_neg"),
        _r(auc, 6).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Log loss
# ---------------------------------------------------------------------------


@query(
    "agg_log_loss",
    oracle="""
    WITH scored AS (
      SELECT LEAST(GREATEST(value / 500.0, 0.001), 0.999) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    terms AS (
      SELECT CAST(ROUND(CAST(
               -(y * ln(p) + (1 - y) * ln(1 - p))
             AS DECIMAL(20,12)), 10) AS DECIMAL(20,12)) AS term
      FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(term) / COUNT(*) AS DECIMAL(20,12)), 6)
                AS DOUBLE) AS log_loss
    FROM terms
    """,
)
def agg_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log loss of the normalized value signal against the
    purchase outcome (probabilities clipped to [0.001, 0.999] — the
    standard guard, since a single confident-and-wrong p∈{0,1} makes
    the loss infinite): the PROPER scoring rule completing the
    triad — AUC measures ranking, ECE measures calibration, log loss
    penalizes both at once and is what the scorer was trained on.
    Per-row terms are decimal-rounded before the sum (ln is libm;
    order-free exact reduction after rounding); one scan, one scalar
    aggregate."""
    e = load_table(spark, sf_dir, "events")
    p = F.least(F.greatest(F.col("value") / 500.0, F.lit(0.001)), F.lit(0.999))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    term = F.round(
        (-(y * F.log(p) + (1 - y) * F.log(1 - p))).cast("decimal(20,12)"),
        10,
    ).cast("decimal(20,12)")
    return e.select(term.alias("term")).agg(
        F.count("*").cast("long").alias("n"),
        _r(F.sum("term") / F.count("*"), 6, "decimal(20,12)")
        .alias("log_loss"),
    )


# ---------------------------------------------------------------------------
# Centroid separation
# ---------------------------------------------------------------------------


@query(
    "embedding_centroid_separation",
    oracle="""
    WITH vq AS (
      SELECT label, i AS p,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT)
               AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)
    ),
    cent AS (SELECT label, p, SUM(q) AS cs FROM vq GROUP BY label, p),
    qn AS (SELECT label, SUM(cs * cs) AS ql FROM cent GROUP BY label),
    pairs AS (
      SELECT a.label AS la, b.label AS lb, SUM(a.cs * b.cs) AS d
      FROM cent a JOIN cent b ON a.p = b.p AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
           CAST(ROUND(CAST(
             CAST(d AS DOUBLE)
             / sqrt(CAST(na.ql AS DOUBLE) * CAST(nb.ql AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS centroid_cos
    FROM pairs JOIN qn na ON na.label = la JOIN qn nb ON nb.label = lb
    """,
)
def embedding_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    class-separation probe: near-orthogonal centroids mean the labels
    are linearly separable in embedding space; a pair at cos ≈ 1
    predicts exactly which classes embedding_assign_centroid will
    confuse (its confusion matrix is the per-vector symptom; this is
    the per-class cause, at label-cardinality² cost instead of
    corpus cost).  Centroid sums are exact int64 per (label, dim)
    from one corpus pass — the embedding_assign_centroid
    quantization — and everything after runs on label-sized frames."""
    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000, 0).cast("long"),
            )
        ).alias("p", "q"),
    )
    cent = vq.groupBy("label", "p").agg(F.sum("q").alias("cs"))
    qn = cent.groupBy("label").agg(F.sum(F.col("cs") * F.col("cs")).alias("ql"))
    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("la"), F.col("b.label").alias("lb"))
        .agg(F.sum(F.col("a.cs") * F.col("b.cs")).alias("d"))
    )
    return (
        pairs.join(
            F.broadcast(qn.select(F.col("label").alias("la"), F.col("ql").alias("na"))),
            "la",
        )
        .join(
            F.broadcast(qn.select(F.col("label").alias("lb"), F.col("ql").alias("nb"))),
            "lb",
        )
        .select(
            F.col("la").cast("long").alias("label_a"),
            F.col("lb").cast("long").alias("label_b"),
            _r(
                F.col("d").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("centroid_cos"),
        )
    )
