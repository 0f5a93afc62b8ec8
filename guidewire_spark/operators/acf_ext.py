"""Autocorrelation-function and vocabulary-coverage operators: the
multi-lag ACF over daily series in exact integer arithmetic, and the
out-of-vocabulary rate against a frequency-built vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "ts_autocorrelation_function",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    lagged AS (
      SELECT d.y AS y, l.lag AS lag,
             LAG(d.y, l.lag) OVER (PARTITION BY l.lag ORDER BY d.day) AS yl
      FROM daily d CROSS JOIN (SELECT CAST(range AS INT) AS lag
                               FROM range(1, 8)) l
    ),
    pairs AS (SELECT lag, y, yl FROM lagged WHERE yl IS NOT NULL),
    sums AS (
      SELECT lag, COUNT(*) AS n,
             SUM(y) AS sy, SUM(yl) AS syl,
             SUM(y * yl) AS syyl, SUM(y * y) AS syy, SUM(yl * yl) AS sylyl
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(
             CAST(n * syyl - sy * syl AS DOUBLE)
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    * CAST(n * sylyl - syl * syl AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS acf
    FROM sums
    WHERE n * syy - sy * sy > 0 AND n * sylyl - syl * syl > 0
    """,
)
def ts_autocorrelation_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autocorrelation function at lags 1-7 over the daily MEAN
    series (integer-division mean, so the magnitude — and therefore
    the int64 headroom of the power sums — is volume-invariant; daily
    SUMS would overflow the squared terms as event volume grows)
    — the seasonality detector read before choosing a
    decomposition period (a weekly cycle spikes lag 7; white noise
    stays flat); generalizes ts_autocorr_lag1 to the full correlogram.
    Every lag's Pearson terms are exact int64 power sums over the
    DAY-sized table (the seven lagged copies come from one small cross
    join, not seven scans), and the only doubles are the final
    per-lag conversions of identical integers — the
    ts_rolling_corr discipline applied across lags."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    # Spark's lag() needs a literal offset — align the lag-k copy via
    # a row-number shift join inside each lag partition instead:
    w = Window.partitionBy("lag").orderBy("day")
    rows = daily.crossJoin(F.broadcast(lags)).withColumn(
        "rn", F.row_number().over(w)
    )
    left = rows.select("lag", F.col("rn").alias("rn"), F.col("y").alias("y"))
    right = rows.select(
        "lag", (F.col("rn") + F.col("lag")).alias("rn"), F.col("y").alias("yl")
    )
    pairs = left.join(right, ["lag", "rn"])
    sums = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("yl").alias("syl"),
        F.sum(F.col("y") * F.col("yl")).alias("syyl"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("yl") * F.col("yl")).alias("sylyl"),
    )
    n, sy, syl = F.col("n"), F.col("sy"), F.col("syl")
    syyl, syy, sylyl = F.col("syyl"), F.col("syy"), F.col("sylyl")
    var1 = n * syy - sy * sy
    var2 = n * sylyl - syl * syl
    return sums.where((var1 > 0) & (var2 > 0)).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n"),
        _r(
            (n * syyl - sy * syl).cast("double")
            / F.sqrt(var1.cast("double") * var2.cast("double")),
            6,
        ).alias("acf"),
    )


@query(
    "vocab_oov_rate",
    oracle="""
    WITH tokens AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS n FROM tokens GROUP BY w),
    vocab AS (
      SELECT w FROM freq ORDER BY n DESC, w ASC LIMIT 1000
    ),
    flagged AS (
      SELECT f.n, v.w IS NOT NULL AS in_vocab
      FROM freq f LEFT JOIN vocab v ON f.w = v.w
    )
    SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN NOT in_vocab THEN n ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(count_if(NOT in_vocab) AS BIGINT) AS oov_types,
           CAST(ROUND(CAST(CAST(SUM(CASE WHEN NOT in_vocab THEN n ELSE 0 END)
                 * 1000000 // SUM(n) AS DOUBLE) / 1e6
                           AS DECIMAL(24,10)), 6) AS DOUBLE) AS oov_rate
    FROM flagged
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate: the fraction of corpus tokens not
    covered by the top-1000 frequency vocabulary — the coverage number
    that sizes a tokenizer's vocab (and the regression metric watched
    when the corpus mix shifts). Computed on the TYPE table (token ×
    count), so the expensive corpus pass happens once and the
    vocabulary join is type-cardinality-sized with a broadcast
    vocab; the rate is exact parts-per-million."""
    # round-11 second pass: guarded fan_out — the single-file sf
    # scan ran the tokenize in ONE task; no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    freq = (
        d.select(F.explode(T.words(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    vocab = (
        freq.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(1000)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    flagged = freq.join(F.broadcast(vocab), "w", "left_outer").select(
        "n", F.coalesce("in_vocab", F.lit(False)).alias("in_vocab")
    )
    oov_n = F.sum(F.when(~F.col("in_vocab"), F.col("n")).otherwise(0))
    return flagged.agg(
        F.sum("n").alias("total_tokens"),
        oov_n.alias("oov_tokens"),
        F.count_if(~F.col("in_vocab")).alias("oov_types"),
        _r(
            F.expr(
                "sum(CASE WHEN NOT in_vocab THEN n ELSE 0 END) * 1000000"
                " div sum(n)"
            ).cast("double")
            / 1e6,
            6,
        ).alias("oov_rate"),
    )
