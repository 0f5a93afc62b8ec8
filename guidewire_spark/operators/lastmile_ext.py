"""Last-mile analytics: quantile treatment effects, script/label
mismatch auditing, and the index of dispersion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "agg_quantile_treatment_effect",
    oracle="""
    WITH milli AS (
      SELECT user_id % 2 AS arm,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS m
      FROM events
    ),
    q AS (
      SELECT arm, COUNT(*) AS n,
             quantile_cont(m, 0.5) AS p50, quantile_cont(m, 0.9) AS p90
      FROM milli GROUP BY arm
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN p50 END) AS p50_0,
             MAX(CASE WHEN arm = 1 THEN p50 END) AS p50_1,
             MAX(CASE WHEN arm = 0 THEN p90 END) AS p90_0,
             MAX(CASE WHEN arm = 1 THEN p90 END) AS p90_1
      FROM q
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(ROUND(CAST((p50_0 - p50_1) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS qte_p50,
           CAST(ROUND(CAST((p90_0 - p90_1) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS qte_p90
    FROM w
    """,
)
def agg_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects between the parity cohorts: the
    p50 and p90 differences — where a treatment moves the TAIL but
    not the mean (rate limiting, latency fixes, heavy-user effects),
    agg_ab_welch_t reads zero and only the QTE sees it.  Exact
    per-arm quantiles interpolate int64 milli-units (percentile ≡
    quantile_cont); one partial-aggregated pass per arm; the effect
    is scalar arithmetic on four numbers."""
    e = load_table(spark, sf_dir, "events")
    milli = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    q = e.select((F.col("user_id") % 2).alias("arm"), milli.alias("m")).groupBy(
        "arm"
    ).agg(
        F.count("*").alias("n"),
        F.percentile("m", F.lit(0.5)).alias("p50"),
        F.percentile("m", F.lit(0.9)).alias("p90"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = q.agg(
        pick(0, "n").alias("n0"),
        pick(1, "n").alias("n1"),
        pick(0, "p50").alias("p50_0"),
        pick(1, "p50").alias("p50_1"),
        pick(0, "p90").alias("p90_0"),
        pick(1, "p90").alias("p90_1"),
    )
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r((F.col("p50_0") - F.col("p50_1")) / 1000.0, 6).alias("qte_p50"),
        _r((F.col("p90_0") - F.col("p90_1")) / 1000.0, 6).alias("qte_p90"),
    )


@query(
    "text_script_lang_mismatch",
    oracle="""
    WITH chars AS (
      SELECT doc_id, lang, unicode(substr(text, CAST(i AS INT), 1)) AS cp
      FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
    ),
    per_doc AS (
      SELECT doc_id, lang,
             SUM(CASE WHEN cp BETWEEN 19968 AND 40959
                      THEN 1 ELSE 0 END) AS cjk,
             SUM(CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
                      THEN 1 ELSE 0 END) AS latin
      FROM chars GROUP BY doc_id, lang
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN (lang = 'zh' AND cjk < latin)
                          OR (lang <> 'zh' AND latin < cjk)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched
    FROM per_doc GROUP BY lang
    """,
)
def text_script_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script/label consistency audit: a doc labeled zh
    should be CJK-dominated and any other label Latin-dominated;
    count violations per language — the per-document drill-down of
    text_unicode_script_profile (the profile says THE SHARD is wrong;
    this says WHICH documents to relabel or drop, feeding
    text_lang_confusion_matrix's diagonal).  On the synthetic corpus
    every zh doc is Latin text, so the zh row flags 100% — the audit
    working as intended (asserted in tests).  One corpus-sized char
    pass partial-aggregated to per-doc counts, then a lang rollup."""
    # guarded fan-out (round-12): per-character explode in ONE task on
    # single-file scans — same fix and evidence class as
    # text_unicode_script_profile (2.5→0.9 s); no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)), i -> substr(text, i, 1))"
            )
        ).alias("ch"),
    ).select("doc_id", "lang", F.ascii("ch").alias("cp"))
    per_doc = chars.groupBy("doc_id", "lang").agg(
        F.sum(
            F.when(F.col("cp").between(19968, 40959), 1).otherwise(0)
        ).alias("cjk"),
        F.sum(
            F.when(
                F.col("cp").between(65, 90) | F.col("cp").between(97, 122), 1
            ).otherwise(0)
        ).alias("latin"),
    )
    mismatch = F.when(
        (F.col("lang") == "zh") & (F.col("cjk") < F.col("latin")), 1
    ).when(
        (F.col("lang") != "zh") & (F.col("latin") < F.col("cjk")), 1
    ).otherwise(0)
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(mismatch).cast("long").alias("n_mismatched"),
    )


@query(
    "agg_index_of_dispersion",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    sums AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(ROUND(CAST(
             ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             / (CAST(s AS DOUBLE) / n)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS dispersion_index
    FROM sums
    """,
)
def agg_index_of_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor) of daily counts per event
    type: var/mean — the one-number Poisson-ness check (≈1 means the
    arrivals are Poisson and ts_poisson_rate_test's model holds; ≫1
    means bursty overdispersion, so use ts_burst_windows and widen
    the rate test's error bars).  Daily counts reduce to exact int64
    power sums over the (type × day) aggregate; the statistic is a
    scalar ratio per type."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("c"))
    sums = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    var = (ss - s * F.col("s") / n) / (n - 1)
    mean = s / n
    return sums.select(
        "event_type",
        n.cast("long").alias("n_days"),
        _r(var / mean, 6).alias("dispersion_index"),
    )
