"""Corpus and pipeline audits: Unicode-script profiling, the Pareto
skyline, and a freshness monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Unicode script profile
# ---------------------------------------------------------------------------

_SCRIPT_CASE_SQL = """
  CASE WHEN cp BETWEEN 48 AND 57 THEN 'digit'
       WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122) THEN 'latin'
       WHEN cp BETWEEN 192 AND 687 THEN 'latin_ext'
       WHEN cp BETWEEN 1024 AND 1279 THEN 'cyrillic'
       WHEN cp BETWEEN 19968 AND 40959 THEN 'cjk'
       WHEN cp = 32 THEN 'space'
       WHEN cp < 128 THEN 'ascii_other'
       ELSE 'other' END
"""


@query(
    "text_unicode_script_profile",
    oracle=f"""
    WITH chars AS (
      SELECT lang, unicode(substr(text, CAST(i AS INT), 1)) AS cp
      FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
    ),
    tagged AS (
      SELECT lang, {_SCRIPT_CASE_SQL} AS script FROM chars
    )
    SELECT lang, script, CAST(COUNT(*) AS BIGINT) AS n_chars
    FROM tagged GROUP BY lang, script
    """,
)
def text_unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script histogram per declared language — the
    multilingual-corpus audit that catches mislabeled documents
    before training (a lang='zh' shard that is 90% Latin codepoints
    is scraped boilerplate, not Chinese; text_lang_id infers the
    label, THIS validates it against raw codepoints).  Characters
    are enumerated by substr position (the tokenizer_char_coverage
    discipline) and bucketed by codepoint range — digit, Latin,
    Latin-extended, Cyrillic, CJK — via ascii()/unicode(), which
    both engines define as the first codepoint.  Corpus-sized pass
    partial-aggregates to (lang × script) cells immediately."""
    # Guarded fan-out (round-12): the per-CHARACTER explode is the
    # corpus's heaviest row expansion (~4M rows from 5k docs at
    # sf0.1) and ran as ONE task on the single-file scan
    # (stage-profiled 2.1 s single-task = the whole query); no-op at
    # real scale.  The (lang × script) aggregate is layout-free.
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)), i -> substr(text, i, 1))"
            )
        ).alias("ch"),
    ).select("lang", F.ascii("ch").alias("cp"))
    tagged = chars.select("lang", F.expr(_SCRIPT_CASE_SQL).alias("script"))
    return tagged.groupBy("lang", "script").agg(
        F.count("*").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Pareto skyline
# ---------------------------------------------------------------------------


@query(
    "skyline_pareto_frontier",
    oracle="""
    WITH scored AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS price_cents,
             epoch_us(o_orderdate) AS odate_us
      FROM orders
    ),
    sky AS (
      SELECT o_orderkey, price_cents, odate_us,
             MIN(odate_us) OVER (
               ORDER BY price_cents DESC, odate_us ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_date_so_far
      FROM scored
    )
    SELECT o_orderkey, price_cents,
           CAST(odate_us // 86400000000 AS BIGINT) AS odate_day
    FROM sky
    WHERE best_date_so_far IS NULL OR odate_us < best_date_so_far
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query: orders not DOMINATED on the
    (higher price, earlier date) objective pair — no other order is
    both more valuable and earlier.  The classic multi-objective
    shortlist (here: flagship early big orders; in a corpus pipeline:
    quality-vs-length document selection).  In the (price DESC, date,
    key) total order a row survives iff its date strictly improves
    the RUNNING MIN of all earlier dates — O(n log n), never the
    naive O(n²) anti-join.  Executed SCALABLY in two phases:
    range-partition by the sort key, run the running-min window
    WITHIN each partition (parallel), then prefix-combine the
    per-partition minima — a partition-count-sized table — broadcast
    back as each partition's carry-in.  No single-partition window
    anywhere (locked in tests/test_audit2_ext.py); the result equals
    the global scan because min is associative across the partition
    order.  The DuckDB oracle runs the one-window form."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        # o_orderdate loads as TIMESTAMP_NTZ; the session timezone is
        # pinned UTC (plans/catalog.py), so the cast is instant-exact
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "odate_us"
        ),
    )
    order_cols = [
        F.desc("price_cents"),
        F.asc("odate_us"),
        F.asc("o_orderkey"),
    ]
    parts = scored.repartitionByRange(16, *order_cols).withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("local_best", F.min("odate_us").over(w_local))
    # carry-in: exclusive prefix-min of per-partition minima (a
    # partition-count-sized frame — its window is trivially small)
    per_pid = local.groupBy("pid").agg(F.min("odate_us").alias("pid_min"))
    w_prefix = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = per_pid.select(
        "pid", F.min("pid_min").over(w_prefix).alias("carry_in")
    )
    sky = local.join(F.broadcast(prefix), "pid").withColumn(
        "best_date_so_far", F.least("local_best", "carry_in")
    )
    return sky.where(
        F.col("best_date_so_far").isNull()
        | (F.col("odate_us") < F.col("best_date_so_far"))
    ).select(
        "o_orderkey",
        "price_cents",
        F.expr("odate_us div 86400000000").cast("long").alias("odate_day"),
    )


# ---------------------------------------------------------------------------
# Freshness monitor
# ---------------------------------------------------------------------------


@query(
    "dq_freshness_lag",
    oracle="""
    WITH per_type AS (
      SELECT event_type, COUNT(*) AS n, MAX(epoch_us(ts)) AS max_us
      FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(max_us) AS global_max FROM per_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(max_us // 1000000 AS BIGINT) AS last_seen_epoch_s,
           CAST((g.global_max - max_us) // 1000000 AS BIGINT) AS lag_s,
           (g.global_max - max_us) > CAST(3600000000 AS BIGINT) AS stale
    FROM per_type CROSS JOIN g
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness monitor per event stream: each type's last-seen
    timestamp and its lag behind the freshest stream, flagged stale
    past one hour — the first page of every pipeline-observability
    dashboard (a stream that silently stopped is invisible to row
    counts and null checks; only freshness catches it).  Completes
    the dq_* family: dq_expectations_report checks VALUES,
    cda_manifest_drift_audit checks FILES, this checks TIME.  One
    partial-aggregated max per type; the global max is a one-row
    broadcast."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max(F.unix_micros("ts")).alias("max_us")
    )
    g = per_type.agg(F.max("max_us").alias("global_max"))
    joined = per_type.crossJoin(F.broadcast(g))
    lag_us = F.col("global_max") - F.col("max_us")
    return joined.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.expr("max_us div 1000000").cast("long").alias("last_seen_epoch_s"),
        F.expr("(global_max - max_us) div 1000000")
        .cast("long")
        .alias("lag_s"),
        (lag_us > 3600 * 1_000_000).alias("stale"),
    )
