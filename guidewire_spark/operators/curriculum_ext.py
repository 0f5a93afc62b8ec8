"""Curriculum scheduling, SAX symbolization, and systematic sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# SAX symbolization
# ---------------------------------------------------------------------------


@query(
    "ts_sax_symbolization",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    idx AS (
      SELECT y, (ROW_NUMBER() OVER (ORDER BY x) - 1) // 5 AS seg
      FROM daily
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS ss FROM daily
    ),
    paa AS (
      SELECT seg, COUNT(*) AS cnt, SUM(y) AS seg_sum
      FROM idx GROUP BY seg HAVING COUNT(*) = 5
    ),
    z AS (
      SELECT seg,
             (CAST(seg_sum AS DOUBLE) / cnt - CAST(s AS DOUBLE) / n)
               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
               AS zval
      FROM paa CROSS JOIN stats
    )
    SELECT CAST(seg AS BIGINT) AS seg,
           CAST(ROUND(CAST(zval AS DECIMAL(24,10)), 6) AS DOUBLE) AS z,
           CASE WHEN zval < -0.6744897501960817 THEN 'a'
                WHEN zval < 0 THEN 'b'
                WHEN zval < 0.6744897501960817 THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
)
def ts_sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the daily series:
    5-day PAA segments, z-normalized against the whole series, mapped
    to a 4-letter alphabet at the N(0,1) quartile breakpoints
    (±0.6745, 0) — the dimensionality reduction that turns a numeric
    series into a WORD, enabling string-machinery (hashing, grep,
    n-gram models, dedup_minhash_lsh itself) on time-series shape.
    Mean/SD come from exact int64 power sums, segment means from
    exact integer segment sums; z-values and breakpoint comparisons
    are identical IEEE ops in both engines.  Everything past the
    daily aggregate is calendar-bounded.  Incomplete tail segments
    are dropped (canonical SAX requires equal-width frames)."""
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
    idx = daily.select(
        "y",
        F.expr(
            "(row_number() OVER (ORDER BY x) - 1) div 5"
        ).alias("seg"),
    )
    stats = daily.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    paa = (
        idx.groupBy("seg")
        .agg(F.count("*").alias("cnt"), F.sum("y").alias("seg_sum"))
        .where(F.col("cnt") == 5)
    )
    joined = paa.crossJoin(F.broadcast(stats))
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    zval = (
        F.col("seg_sum").cast("double") / F.col("cnt") - s / n
    ) / F.sqrt((ss - s * F.col("s") / n) / n)
    bp = 0.6744897501960817
    return joined.select(
        F.col("seg").cast("long").alias("seg"),
        _r(zval, 6).alias("z"),
        F.when(zval < -bp, "a")
        .when(zval < 0, "b")
        .when(zval < bp, "c")
        .otherwise("d")
        .alias("symbol"),
    )


# ---------------------------------------------------------------------------
# Curriculum schedule
# ---------------------------------------------------------------------------


@query(
    "mix_curriculum_schedule",
    oracle="""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> ''))) AS tokens,
             SUM(length(text)) AS chars,
             SUM(len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> ''))) AS words
      FROM documents GROUP BY source
    ),
    ordered AS (
      SELECT source, n_docs, tokens,
             CAST(chars AS DOUBLE) / words AS difficulty,
             ROW_NUMBER() OVER (
               ORDER BY CAST(chars AS DOUBLE) / words ASC, source ASC)
               AS order_idx,
             SUM(tokens) OVER (
               ORDER BY CAST(chars AS DOUBLE) / words ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before,
             SUM(tokens) OVER () AS total
      FROM per_source
    )
    SELECT source, CAST(order_idx AS BIGINT) AS order_idx,
           CAST(tokens AS BIGINT) AS tokens,
           CAST(ROUND(CAST(CAST(COALESCE(cum_before, 0) + tokens AS DOUBLE)
                / total AS DECIMAL(24,10)), 6) AS DOUBLE) AS cum_share,
           CAST(1 + (COALESCE(cum_before, 0) * 3) // total AS BIGINT) AS stage
    FROM ordered
    """,
)
def mix_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule over corpus sources: order sources
    easy→hard by mean word length (the cheap difficulty proxy — the
    readability-score ordering of text_readability_fk works too) and
    cut the cumulative TOKEN budget into 3 stages — the
    curriculum-learning manifest (train on stage 1 first, open stage
    2 at epoch k, …); mix_temperature_sampling reweights WITHIN a
    stage, this orders ACROSS stages.  Everything runs on the
    source-cardinality aggregate of one corpus pass; the stage cut
    uses exact integer token cumsums (a source's stage is where its
    budget STARTS, so every source gets exactly one stage)."""
    d = load_table(spark, sf_dir, "documents")
    from guidewire_spark.functions import text as T

    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.word_count(F.col("text"))).alias("tokens"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(T.word_count(F.col("text"))).alias("words"),
    )
    difficulty = F.col("chars").cast("double") / F.col("words")
    w_ord = Window.orderBy(difficulty.asc(), F.col("source").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    ordered = per_source.select(
        "source",
        "tokens",
        F.row_number().over(w_ord).alias("order_idx"),
        F.coalesce(F.sum("tokens").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("tokens").over(w_all).alias("total"),
    )
    return ordered.select(
        "source",
        F.col("order_idx").cast("long").alias("order_idx"),
        F.col("tokens").cast("long").alias("tokens"),
        _r(
            (F.col("cum_before") + F.col("tokens")).cast("double")
            / F.col("total"),
            6,
        ).alias("cum_share"),
        (1 + F.expr("(cum_before * 3) div total")).cast("long").alias("stage"),
    )


# ---------------------------------------------------------------------------
# Systematic sampling
# ---------------------------------------------------------------------------


@query(
    "sample_systematic_nth",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id, CAST(ts_us AS BIGINT) AS ts_us
    FROM ranked WHERE rn % 10 = 1
    """,
)
def sample_systematic_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic every-10th sampling per user in event-time order —
    the sampling-family member the hash samplers can't replace when
    temporal COVERAGE matters: a Bernoulli/hash sample can leave long
    per-user gaps, the systematic grid cannot (gap is exactly 10
    events by construction), which is what you want for sessionized
    downstream features.  Fully deterministic (rank on ts with
    event_id tiebreak, offset 1), replayable across engines and
    retries; one shuffle by user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") % 10 == 1)
        .select("event_id", "user_id", F.col("ts_us").cast("long").alias("ts_us"))
    )
