"""Forecast backtesting, readability scoring, and the l-diversity
privacy audit — closing additions to the analytics surface, all in
exact integer or per-row-from-exact-inputs arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_snaive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    fc AS (
      SELECT day, y, LAG(y, 7) OVER (ORDER BY day) AS yhat
      FROM daily
    )
    SELECT COUNT(*) AS n_forecasts,
           CAST(ROUND(CAST(CAST(SUM(ABS(y - yhat)) AS DOUBLE)
                 / COUNT(*) / 1000.0 AS DECIMAL(24,10)), 3) AS DOUBLE)
             AS mae,
           CAST(ROUND(CAST(CAST(SUM(ABS(y - yhat) * 1000000 // y) AS DOUBLE)
                 / COUNT(*) / 1e6 AS DECIMAL(24,10)), 6) AS DOUBLE)
             AS mape
    FROM fc WHERE yhat IS NOT NULL AND y > 0
    """,
)
def ts_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day with the
    value from 7 days earlier and score MAE + MAPE over the history —
    the baseline every real forecasting model must beat, and the
    backtest harness shape (lag-as-forecast + error aggregate) that
    evaluates any model expressible as a column. Daily totals are
    exact integer milli-units; per-row percentage errors are exact
    integer ppm before the (order-free) integer error sums."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias("y"))
    fc = daily.select(
        "day", "y", F.lag("y", 7).over(Window.orderBy("day")).alias("yhat")
    ).where(F.col("yhat").isNotNull() & (F.col("y") > 0))
    err = F.abs(F.col("y") - F.col("yhat"))
    return fc.agg(
        F.count("*").alias("n_forecasts"),
        _r(F.sum(err).cast("double") / F.count(F.lit(1)) / 1000.0, 3).alias(
            "mae"
        ),
        _r(
            F.sum(F.expr("abs(y - yhat) * 1000000 div y")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            6,
        ).alias("mape"),
    )


@query(
    "text_readability_fk",
    oracle="""
    WITH counts AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
               AS n_words,
             GREATEST(length(text) - length(translate(text, '.!?', '')), 1)
               AS n_sentences,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syllables
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(ROUND(CAST(
             0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS fk_grade
    FROM counts WHERE n_words > 0
    """,
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level: 0.39·(words/sentence) +
    11.8·(syllables/word) − 15.59, with syllables approximated by
    vowel-cluster runs — the readability screen that flags both
    keyword-stuffed fragments (grade ≈ negative) and run-on
    machine text (grade ≫ 20) for the quality filter. Counts are
    exact integers (translate-diff sentences, char-class-only regex
    for vowel runs — cross-engine-identical); the grade is one
    per-row double from exact inputs."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    n_words = F.size(T.words(F.col("text")))
    n_sentences = F.greatest(
        F.length("text") - F.length(F.translate("text", ".!?", "")), F.lit(1)
    )
    n_syllables = F.greatest(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    )
    counts = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    grade = (
        0.39 * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + 11.8 * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - 15.59
    )
    return counts.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        _r(grade, 4).alias("fk_grade"),
    )


@query(
    "anon_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT s_nationkey,
             COUNT(*) AS class_size,
             COUNT(DISTINCT CASE WHEN s_acctbal < 0 THEN 'neg'
                                 WHEN s_acctbal < 5000 THEN 'mid'
                                 ELSE 'high' END) AS l_distinct
      FROM supplier GROUP BY s_nationkey
    )
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(l_distinct AS BIGINT) AS l_distinct,
           l_distinct < 3 AS at_risk
    FROM classes
    """,
)
def anon_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can
    be large yet expose everyone if all members share one sensitive
    value (homogeneity attack). Each quasi-identifier class (nation)
    must contain at least l=3 distinct sensitive values (account-
    balance band); classes below l are flagged. Complements
    anon_k_anonymity; one aggregate pass, class-cardinality output."""
    s = load_table(spark, sf_dir, "supplier")
    band = (
        F.when(F.col("s_acctbal") < 0, "neg")
        .when(F.col("s_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    classes = s.groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey")).agg(
        F.count("*").alias("class_size"),
        F.count_distinct(band).alias("l_distinct"),
    )
    return classes.select(
        "s_nationkey",
        "class_size",
        "l_distinct",
        (F.col("l_distinct") < 3).alias("at_risk"),
    )
