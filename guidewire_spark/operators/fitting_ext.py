"""Model-fitting sufficient statistics, tokenizer character coverage,
ViT tile planning, the Write-Audit-Publish pattern, and SQL interval
window frames.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# OLS normal equations
# ---------------------------------------------------------------------------


@query(
    "agg_ols_normal_equations",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             CAST(date_part('dow', CAST(date_trunc('day', ts) AS DATE))
                  AS BIGINT) AS dow,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    feat AS (
      SELECT [1, x,
              CASE WHEN dow = 1 THEN 1 ELSE 0 END,
              CASE WHEN dow = 2 THEN 1 ELSE 0 END,
              CASE WHEN dow = 3 THEN 1 ELSE 0 END,
              CASE WHEN dow = 4 THEN 1 ELSE 0 END,
              CASE WHEN dow = 5 THEN 1 ELSE 0 END,
              CASE WHEN dow = 6 THEN 1 ELSE 0 END,
              y] AS arr
      FROM daily
    )
    SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
           CAST(SUM(arr[CAST(i AS INT)] * arr[CAST(j AS INT)]) AS BIGINT)
             AS v
    FROM feat, range(1, 10) t(i), range(1, 10) u(j)
    WHERE i <= j
    GROUP BY i, j
    """,
)
def agg_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multiple-OLS via sufficient statistics: the upper
    triangle of the Gram matrix over [intercept, trend, six weekday
    dummies, y] — i.e. X'X and X'y in one long-format table — for the
    calendar-effects regression y ~ trend + weekday.  This is how OLS
    actually distributes at 100 TB: the ONLY data-sized pass is the
    Gram aggregation (here over the day table; over raw rows in
    general), and the p×p solve happens driver-side on 9×9 numbers
    (tests/test_fitting_ext.py solves it against numpy.lstsq).
    agg_regression_family is the single-feature closed form; this is
    the general-p design.  Features and targets are exact int64, so
    every Gram entry is an exact integer — no float enters the
    distributed reduction at all."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    dow = F.dayofweek("day") - 1  # 0=Sunday, matching date_part('dow')
    arr = F.array(
        F.lit(1).cast("long"),
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("long"),
        *[(dow == d).cast("long") for d in range(1, 7)],
        F.col("y"),
    )
    feat = daily.select(arr.alias("arr"))
    # per-row upper-triangle outer product, exploded then partially
    # aggregated — 45 (i, j, product) rows per input row, JVM-side
    pairs = feat.select(
        F.explode(
            F.expr(
                """
                flatten(transform(arr, (vi, i) ->
                  transform(slice(arr, i + 1, size(arr) - i), (vj, j) ->
                    named_struct('i', i, 'j', i + j, 'v', vi * vj))))
                """
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.i").cast("long").alias("i"),
        F.col("p.j").cast("long").alias("j"),
    ).agg(F.sum("p.v").cast("long").alias("v"))


# ---------------------------------------------------------------------------
# Tokenizer character coverage
# ---------------------------------------------------------------------------


@query(
    "tokenizer_char_coverage",
    oracle="""
    WITH chars AS (
      SELECT substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
    ),
    freq AS (SELECT ch, COUNT(*) AS n FROM chars GROUP BY ch),
    ranked AS (
      SELECT ch, n,
             SUM(n) OVER (ORDER BY n DESC, ch ASC) AS cum,
             SUM(n) OVER () AS total
      FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(MAX(total) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN cum - n < CEIL(total * 0.9995)
                    THEN 1 ELSE 0 END) AS BIGINT) AS chars_for_9995
    FROM ranked
    """,
)
def tokenizer_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-coverage audit — SentencePiece's character_coverage
    parameter measured on the actual corpus: how many distinct
    characters exist, and how many of the most frequent ones are
    needed to cover 99.95% of all character occurrences (everything
    rarer maps to <unk>/byte-fallback).  Characters are enumerated by
    substr over a position sequence (split-on-empty-string semantics
    differ between engines; substr does not).  The corpus-sized pass
    partial-aggregates to one row per distinct character; the ranking
    windows run on the alphabet-sized table.  A char is counted in
    the coverage set when the cumulative mass BEFORE it is still
    short of the ceil(0.9995·total) target — integer threshold, no
    float compare."""
    # guarded fan-out (round-12): per-character explode in ONE task on
    # single-file scans — same fix and evidence class as
    # text_unicode_script_profile (2.5→0.9 s); no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        F.explode(F.expr("transform(sequence(1, length(text)), i -> substr(text, i, 1))")).alias("ch")
    )
    freq = chars.groupBy("ch").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w_cum = Window.orderBy(F.desc("n"), F.asc("ch")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    ranked = freq.select(
        "ch",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    need = F.ceil(F.col("total") * 0.9995)
    return ranked.agg(
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.max("total").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("cum") - F.col("n") < need, 1).otherwise(0))
        .cast("long")
        .alias("chars_for_9995"),
    )


# ---------------------------------------------------------------------------
# ViT tile plan
# ---------------------------------------------------------------------------


@query(
    "multimodal_tile_plan",
    oracle="""
    WITH imgs AS (
      SELECT doc_id,
             32 + octet_length(encode(text)) % 97 AS w,
             32 + (octet_length(encode(text)) // 97) % 53 AS h
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
           CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
           CAST(tx * 16 AS BIGINT) AS x0, CAST(ty * 16 AS BIGINT) AS y0,
           CAST(LEAST(tx * 16 + 16, w) AS BIGINT) AS x1,
           CAST(LEAST(ty * 16 + 16, h) AS BIGINT) AS y1
    FROM imgs,
         UNNEST(range(0, CAST(CEIL(w / 16.0) AS BIGINT))) AS a(tx),
         UNNEST(range(0, CAST(CEIL(h / 16.0) AS BIGINT))) AS b(ty)
    """,
)
def multimodal_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid planning for image-like payloads: from each
    image's (width, height) metadata, fan out one row per 16×16 tile
    with its pixel box (edge tiles clipped) — the deterministic
    preprocessing manifest a patch-embedding stage consumes, computed
    WITHOUT decoding anything (the multimodal_binary_metadata
    contract: dimensions are synthesized from payload bytes since the
    container has no image libs; the fan-out plumbing is the real
    thing).  Pure projection + sequence-explode — zero shuffle, rows
    multiply but bytes do not (the media column is never carried
    through the explode)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 11 == 0)
    nbytes = F.octet_length(F.encode(F.col("text"), "utf-8"))
    imgs = d.select(
        "doc_id",
        (32 + nbytes % 97).cast("long").alias("w"),
        (32 + F.expr("octet_length(encode(text, 'utf-8')) div 97") % 53)
        .cast("long")
        .alias("h"),
    )
    tiles = imgs.select(
        "doc_id",
        "w",
        "h",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("w") / 16.0).cast("long") - 1)
        ).alias("tile_x"),
    ).select(
        "doc_id",
        "w",
        "h",
        "tile_x",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("h") / 16.0).cast("long") - 1)
        ).alias("tile_y"),
    )
    return tiles.select(
        "doc_id",
        "w",
        "h",
        "tile_x",
        "tile_y",
        (F.col("tile_x") * 16).alias("x0"),
        (F.col("tile_y") * 16).alias("y0"),
        F.least(F.col("tile_x") * 16 + 16, F.col("w")).alias("x1"),
        F.least(F.col("tile_y") * 16 + 16, F.col("h")).alias("y1"),
    )


# ---------------------------------------------------------------------------
# Write-Audit-Publish
# ---------------------------------------------------------------------------


@query(
    "delta_wap_publish",
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS regionkey
    FROM nation
    """,
)
def delta_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: producers write to a STAGING table, an
    audit pass validates it (row count, null keys, domain bounds —
    the dq_expectations_report checks), and only then is it published
    to the consumer path as a zero-copy SHALLOW CLONE — consumers
    never observe a half-written or invalid table, and a failed audit
    leaves the previous published version untouched.  The publish
    step is one atomic log commit referencing the staged files (no
    data copied/moved); at 100 TB the audit is the only data-sized
    cost and it is plain aggregates.  This is the WAP pattern Iceberg
    formalizes with branches, composed here from the engine's own
    primitives (write_delta + shallow_clone)."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import shallow_clone, write_delta

    staging = scratch_dir("gw_waps_") + "/nation_staging"
    published = scratch_dir("gw_wapp_") + "/nation_published"
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("long").alias("regionkey")
    )
    write_delta(n, staging, mode="append")
    # audit: one aggregate pass over the staged table
    staged = read_delta(spark, staging)
    audit = staged.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("n_nationkey").isNull().cast("int")).alias("null_keys"),
        F.min("regionkey").alias("min_region"),
    ).collect()[0]
    if audit["rows"] == 0 or audit["null_keys"] > 0 or audit["min_region"] < 0:
        raise ValueError(f"WAP audit failed: {audit}")
    shallow_clone(staging, published)
    return read_delta(spark, published)


# ---------------------------------------------------------------------------
# SQL interval window frame
# ---------------------------------------------------------------------------


@query(
    "sql_window_interval_frame",
    oracle="""
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_day_milli
    FROM events WHERE user_id % 25 = 0
    """,
)
def sql_window_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval window frame in native SQL: a trailing
    24-hour sum per user via RANGE BETWEEN INTERVAL 1 DAY PRECEDING —
    the parser-level form of the epoch-microsecond rangeBetween that
    ts_velocity_features builds in the DataFrame API (the API's
    rangeBetween only takes longs; INTERVAL frames exist only in
    SQL).  The frame is time-based, so irregular event spacing is
    handled exactly — no resampling; one shuffle by user_id.  Values
    accumulate as exact int64 milli-units; the timestamp is emitted
    as epoch micros (raw timestamps never cross the oracle
    boundary)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT user_id, unix_micros(ts) AS ts_us,
               CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS trailing_day_milli
        FROM events WHERE user_id % 25 = 0
        """
    )
