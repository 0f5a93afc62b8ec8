"""Session economics, collocation mining, and CDC consumption:
session duration statistics on the gaps-islands discipline, PMI
collocation extraction with exact-integer ranking, and a net-changes
rollup over the Delta change feed (the consumer-side compaction of
CDC events into per-key effects).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "ts_session_duration_stats",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ),
    spans AS (
      SELECT user_id, sid,
             MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us,
             COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(ROUND(CAST(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 60e6
                           AS DECIMAL(24,10)), 4) AS DOUBLE) AS avg_minutes,
           CAST(ROUND(CAST(MAX(dur_us) / 60e6 AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS longest_minutes,
           CAST(count_if(n_events = 1) AS BIGINT) AS bounce_sessions
    FROM spans GROUP BY user_id
    """,
)
def ts_session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session economics per user: session count, mean and longest
    session duration, and bounce count (single-event sessions) — the
    engagement block next to the session-length histogram. Same
    single-user-shuffle discipline as ts_gaps_islands (the lag window,
    running sum, span aggregate, and user rollup all ride one user_id
    exchange); durations are exact microsecond int64s with
    microsecond-exact gap comparison."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    ns = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    marked = e.select("user_id", "ts", "event_id", ns.alias("ns"))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = marked.select(
        "user_id", F.unix_micros("ts").alias("us"), F.sum("ns").over(run).alias("sid")
    )
    spans = sessions.groupBy("user_id", "sid").agg(
        (F.max("us") - F.min("us")).alias("dur_us"),
        F.count("*").alias("n_events"),
    )
    return spans.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        _r(F.sum("dur_us").cast("double") / F.count(F.lit(1)) / 60e6, 4).alias(
            "avg_minutes"
        ),
        _r(F.max("dur_us") / 60e6, 4).alias("longest_minutes"),
        F.count_if(F.col("n_events") == 1).alias("bounce_sessions"),
    )


@query(
    "text_bigram_pmi",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT w, COUNT(*) AS n FROM (SELECT unnest(ws) AS w FROM words)
      GROUP BY w
    ),
    tot AS (SELECT SUM(n) AS big_n FROM uni),
    bi AS (
      SELECT w1, w2, COUNT(*) AS n_ab FROM (
        SELECT ws[i] AS w1, ws[i+1] AS w2
        FROM words, UNNEST(range(1, len(ws))) AS t(i)
      ) GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           CAST((n_ab * big_n * 1000000) // (u1.n * u2.n) AS BIGINT)
             AS lift_ppm
    FROM bi
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN tot
    WHERE n_ab >= 5
    ORDER BY lift_ppm DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the top-20 word bigrams by PMI lift
    P(ab)/(P(a)P(b)) with a minimum-support cut — the phrase-mining
    step that decides which word pairs become single tokens
    ("new york") before tokenizer training. Lift ranks as an exact
    integer (n_ab·N·1e6 // n_a·n_b) so the top-k is engine-proof
    (log-PMI is monotone in lift, so the ranking is identical);
    unigram counts broadcast (vocabulary-sized), and the top-20 is a
    TakeOrdered over a total order."""
    # round-11 second pass: guarded fan_out — the single-file sf
    # scan ran the tokenize in ONE task; no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    ws = T.words(F.lower(F.col("text")))
    words = d.select(ws.alias("ws"))
    uni = words.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").alias("n")
    )
    tot = uni.agg(F.sum("n").alias("big_n"))
    pairs = words.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_ab")).where(
        F.col("n_ab") >= 5
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.expr("(n_ab * big_n * 1000000) div (n1 * n2)").alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


@query(
    "delta_cdf_net_changes",
    oracle="""
    WITH final AS (
      SELECT s_suppkey, ROUND(s_acctbal + 100, 2) AS bal
      FROM supplier WHERE s_suppkey % 10 = 0 AND s_suppkey <= 100
      UNION ALL
      SELECT s_suppkey, ROUND(s_acctbal, 2) AS bal
      FROM supplier WHERE s_suppkey % 10 <> 0 AND s_suppkey <= 100
    )
    SELECT s_suppkey, 'upserted' AS effect FROM final
    WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey, 'rewritten' AS effect FROM final
    WHERE s_suppkey % 10 <> 0
    """,
)
def delta_cdf_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-change consumption of the change feed: a MERGE emits
    file-granularity delete+insert pairs; the consumer folds them
    per key into the NET effect — keys whose value changed are
    'upserted', keys rewritten with identical values (co-residents of
    a rewritten file) are 'rewritten' noise a naive consumer would
    misprocess as updates. This fold is exactly what every CDC
    consumer must do before applying changes downstream; it runs over
    the change rows only, never the table."""
    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import merge_into, write_delta

    table = scratch_dir("gw_ncdf_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").where(
        F.col("s_suppkey") <= 100
    ).select("s_suppkey", F.round("s_acctbal", 2).alias("bal"))
    write_delta(s, table, mode="append")
    updates = s.where(F.col("s_suppkey") % 10 == 0).select(
        "s_suppkey", F.round(F.col("bal") + 100, 2).alias("bal")
    )
    merge_into(spark, table, updates, on="s_suppkey")
    changes = read_delta_changes(spark, table, from_version=0)
    folded = changes.groupBy("s_suppkey").agg(
        F.count_if(F.col("_change_type") == "insert").alias("ins"),
        F.count_if(F.col("_change_type") == "delete").alias("dels"),
        F.count_distinct("bal").alias("n_vals"),
    )
    return folded.select(
        "s_suppkey",
        F.when(F.col("n_vals") > 1, F.lit("upserted"))
        .otherwise(F.lit("rewritten"))
        .alias("effect"),
    )
