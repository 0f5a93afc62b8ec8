"""Audit and engagement operators: longest consecutive-day activity
streaks (the date-minus-rank islands trick), funnel stage latency,
the ascii/char scalar family, and ID-sequence gap detection (the
data-completeness audit for supposedly-contiguous keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import two_phase_lead
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_longest_daily_streak",
    oracle="""
    WITH grouped AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_trunc('day', ts) AS DATE)
               - CAST(DENSE_RANK() OVER (PARTITION BY user_id
                       ORDER BY CAST(date_trunc('day', ts) AS DATE))
                      AS INTEGER) AS grp
      FROM events
    ),
    streaks AS (
      SELECT user_id, COUNT(DISTINCT day) AS streak_len
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id, CAST(MAX(streak_len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def ts_longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user via the
    date-minus-rank islands identity — with DENSE_RANK directly over
    the RAW events rather than a pre-distinct: duplicate days share a
    rank, so (day − dense_rank) is still constant within a run, and
    the duplicate collapse happens in the COUNT(DISTINCT day) of the
    same grouped pass. A separate distinct would hash on (user, day)
    and force a SECOND exchange before the user-partitioned window;
    this shape rides ONE user_id shuffle end-to-end
    (test_streak_single_user_shuffle)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    dr = F.dense_rank().over(Window.partitionBy("user_id").orderBy(day))
    grouped = e.select(
        "user_id", day.alias("day"), F.date_sub(day, dr).alias("grp")
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count_distinct("day").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak")
    )


@query(
    "ts_stage_latency",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    converted AS (
      SELECT first_purchase - first_view AS latency_us
      FROM stages
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT COUNT(*) AS n_converted,
           CAST(ROUND(CAST(CAST(SUM(latency_us) AS DOUBLE) / COUNT(*) / 3.6e9
                           AS DECIMAL(24,10)), 4) AS DOUBLE) AS avg_hours,
           CAST(ROUND(CAST(CAST(quantile_cont(latency_us, 0.5) AS DOUBLE) / 3.6e9
                           AS DECIMAL(24,10)), 4) AS DOUBLE) AS median_hours
    FROM converted
    """,
)
def ts_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel stage latency: time from first view to first purchase
    for converting users — the time-to-convert number that sits next
    to the conversion rate (ts_funnel_view_click_purchase). Latencies
    are exact microsecond int64s (sum and count exact; one division
    per statistic); the median is the exact interpolated percentile
    over the converted-user-sized set."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase"
        ),
    )
    converted = stages.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("latency_us"))
    return converted.agg(
        F.count("*").alias("n_converted"),
        _r(
            F.sum("latency_us").cast("double") / F.count(F.lit(1)) / 3.6e9, 4
        ).alias("avg_hours"),
        _r(
            F.percentile("latency_us", F.lit(0.5)).cast("double") / 3.6e9, 4
        ).alias("median_hours"),
    )


@query(
    "func_char_family",
    oracle="""
    SELECT doc_id,
           CAST(ascii(substring(lang, 1, 1)) AS BIGINT) AS first_cp,
           chr(65 + CAST(doc_id % 26 AS INT)) AS letter,
           CAST(length(text) AS BIGINT) AS n_chars_fn,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           upper(lang) || '/' || lower(source) AS tag
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def func_char_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character/codepoint scalar family: ascii, chr, char_length vs
    octet_length (the codepoint-vs-byte distinction that matters the
    moment non-ASCII text arrives), case mapping and concatenation.
    Pure row-parallel JVM expressions."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    return d.select(
        "doc_id",
        F.ascii(F.substring("lang", 1, 1)).cast("long").alias("first_cp"),
        F.chr(F.lit(65) + (F.col("doc_id") % 26)).alias("letter"),
        F.char_length("text").cast("long").alias("n_chars_fn"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.concat(F.upper("lang"), F.lit("/"), F.lower("source")).alias("tag"),
    )


@query(
    "ts_id_sequence_gaps",
    oracle="""
    WITH ordered AS (
      SELECT o_orderkey,
             LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT o_orderkey + 1 AS gap_start, next_key - 1 AS gap_end,
           CAST(next_key - o_orderkey - 1 AS BIGINT) AS gap_len
    FROM ordered
    WHERE next_key - o_orderkey > 1 AND next_key - o_orderkey - 1 >= 12
    """,
)
def ts_id_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-sequence gap detection: key ranges where a filtered
    sequence (finished orders) goes silent for 12+ consecutive keys —
    lead-minus-current over the sorted keys. The same shape audits a
    supposedly contiguous export for dropped batches. The lead runs
    TWO-PHASE (range-partition, partition-local lead, boundary
    stitching via the broadcast parts-row first-key summary —
    twophase.two_phase_lead), so no single task ever sees more than
    its key slice and the gap report stays gap-cardinality-sized."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    ordered = two_phase_lead(o, "o_orderkey", lead_name="next_key")
    gap = F.col("next_key") - F.col("o_orderkey") - 1
    return ordered.where(gap >= 12).select(
        (F.col("o_orderkey") + 1).alias("gap_start"),
        (F.col("next_key") - 1).alias("gap_end"),
        gap.cast("long").alias("gap_len"),
    )


@query(
    "training_epoch_shuffle_plan",
    oracle="""
    WITH plan AS (
      SELECT doc_id, e.epoch,
             (doc_id * 2654435761 + e.epoch * 97003) % 1000003 AS h
      FROM documents,
           (SELECT CAST(range AS BIGINT) AS epoch FROM range(0, 2)) e
    )
    SELECT epoch, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
                AS BIGINT) AS position
    FROM plan
    WHERE (doc_id * 2654435761 + epoch * 97003) % 1000003 < 40000
    """,
)
def training_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle plan: each (sample, epoch) pair
    draws an integer congruential hash; ordering by it yields a
    different but perfectly REPRODUCIBLE permutation per epoch — the
    property data-loading pipelines need so a resumed/re-run training
    job reads batches in the identical order (engine RNGs give
    neither cross-run nor cross-engine stability). Output is a
    hash-sampled head of each epoch's ordering; rank ties broken by
    doc_id. The full-permutation form at scale range-partitions by
    hash so each worker sorts only its slice."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = d.crossJoin(
        F.broadcast(
            d.sparkSession.range(0, 2).select(F.col("id").alias("epoch"))
        )
    )
    h = (F.col("doc_id") * 2654435761 + F.col("epoch") * 97003) % 1000003
    plan = epochs.select("doc_id", "epoch", h.alias("h")).where(
        F.col("h") < 40000
    )
    rn = F.row_number().over(
        Window.partitionBy("epoch").orderBy("h", "doc_id")
    )
    return plan.select(
        "epoch", "doc_id", rn.cast("long").alias("position")
    )


@query(
    "ts_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, cur_type, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST((n * 1000000)
                 // SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS p
    FROM cnt
    """,
)
def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences:
    P(next event type | current) from lagged pairs — the behavioral
    model behind next-action prediction and bot detection (bots have
    near-degenerate rows). One user_id shuffle for the lag; row
    normalization is a WINDOW over the (type × type)-sized count
    table — a totals JOIN would re-derive the counts subtree and scan
    raw events twice (observed before this shape); probabilities are
    exact integer parts-per-million."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("cur_type")).agg(
        F.count("*").alias("n")
    )
    row_n = F.sum("n").over(Window.partitionBy("prev_type"))
    return cnt.withColumn("row_n", row_n).select(
        "prev_type",
        "cur_type",
        "n",
        _r(F.expr("(n * 1000000) div row_n").cast("double") / 1e6, 6).alias(
            "p"
        ),
    )
