"""Model-diagnostics tail: Ljung-Box whiteness test, tokenizer
fertility, and the Markov stationary-distribution power step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Ljung-Box Q
# ---------------------------------------------------------------------------


@query(
    "ts_ljung_box_q",
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
      SELECT lag, COUNT(*) AS n, SUM(y) AS sy, SUM(yl) AS syl,
             SUM(y * yl) AS syyl, SUM(y * y) AS syy, SUM(yl * yl) AS sylyl
      FROM pairs GROUP BY lag
    ),
    nn AS (SELECT COUNT(*) AS n_days FROM daily),
    terms AS (
      SELECT CAST(ROUND(CAST(
               (CAST(s.n * s.syyl - s.sy * s.syl AS DOUBLE)
                * (s.n * s.syyl - s.sy * s.syl))
               / (CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)
                  * (s.n * s.sylyl - s.syl * s.syl))
               / (nn.n_days - s.lag)
             AS DECIMAL(20,12)), 10) AS DECIMAL(20,12)) AS term
      FROM sums s CROSS JOIN nn
      WHERE s.n * s.syy - s.sy * s.sy > 0
        AND s.n * s.sylyl - s.syl * s.syl > 0
    )
    SELECT CAST(MAX(nn.n_days) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_lags,
           CAST(ROUND(CAST(
             MAX(nn.n_days) * (MAX(nn.n_days) + 2) * SUM(term)
           AS DECIMAL(20,10)), 4) AS DOUBLE) AS lb_q
    FROM terms CROSS JOIN nn
    """,
)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic over lags 1-7 of the daily
    mean series: Q = n(n+2)·Σ r²ₖ/(n−k) — the whiteness test read
    AFTER fitting (ts_holt_winters_seasonal residual diagnostics: a
    large Q against χ²₇ says structure remains and the model
    underfits; ts_autocorrelation_function SHOWS the correlogram,
    this turns it into one test statistic).  r²ₖ comes from the same
    exact int64 Pearson power sums as the ACF (here rₖ is the
    per-lag sample correlation — the overlapping-pairs variant,
    stated for parity with the ACF operator); per-lag terms are
    decimal-rounded before the 7-term sum.  Calendar-bounded past
    the daily aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    w = Window.partitionBy("lag").orderBy("day")
    rows = daily.crossJoin(F.broadcast(lags)).withColumn(
        "rn", F.row_number().over(w)
    )
    left = rows.select("lag", "rn", F.col("y").alias("y"))
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
    nn = daily.agg(F.count("*").alias("n_days"))
    n, sy, syl = F.col("n"), F.col("sy"), F.col("syl")
    syyl, syy, sylyl = F.col("syyl"), F.col("syy"), F.col("sylyl")
    num = (n * syyl - sy * syl).cast("double")
    var1 = (n * syy - sy * sy).cast("double")
    var2 = (n * sylyl - syl * syl).cast("double")
    term = F.round(
        (
            num * (n * syyl - sy * syl) / (var1 * var2)
            / (F.col("n_days") - F.col("lag"))
        ).cast("decimal(20,12)"),
        10,
    ).cast("decimal(20,12)")
    filtered = (
        sums.crossJoin(F.broadcast(nn))
        .where(
            ((n * syy - sy * sy) > 0) & ((n * sylyl - syl * syl) > 0)
        )
        .select(F.col("n_days"), term.alias("term"))
    )
    return filtered.agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_lags"),
        _r(F.max("n_days") * (F.max("n_days") + 2) * F.sum("term"), 4, "decimal(20,10)")
        .alias("lb_q"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------


@query(
    "vocab_subword_fertility",
    oracle="""
    SELECT lang,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                w -> w <> ''))) AS BIGINT) AS words,
           CAST(SUM(len(regexp_extract_all(text,
                '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(ROUND(CAST(
             CAST(SUM(len(regexp_extract_all(text,
                  '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))) AS DOUBLE)
             / SUM(len(list_filter(string_split_regex(text, '\\s+'),
                  w -> w <> '')))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS fertility
    FROM documents GROUP BY lang
    """,
)
def vocab_subword_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per
    whitespace word — the metric that decides whether a tokenizer is
    FAIR across languages (fertility 1.2 for English but 2.8 for
    another language means that language pays 2.3× the context
    budget per word; the input to mix_token_budget_allocation when
    budgets are denominated in tokens but fairness in words).
    Completes the vocab_* family: oov_rate measures coverage,
    char_coverage the alphabet, fertility the segmentation cost.
    Pure row-local JVM tokenization partial-aggregated to the lang
    cardinality — one scan, one tiny shuffle."""
    d = load_table(spark, sf_dir, "documents")
    words = T.word_count(F.col("text"))
    bpe = T.bpe_ish_token_count(F.col("text"))
    g = d.groupBy("lang").agg(
        F.sum(words).cast("long").alias("words"),
        F.sum(bpe).cast("long").alias("bpe_tokens"),
    )
    return g.select(
        "lang",
        "words",
        "bpe_tokens",
        _r(F.col("bpe_tokens").cast("double") / F.col("words"), 6).alias(
            "fertility"
        ),
    )


# ---------------------------------------------------------------------------
# Markov stationary power step
# ---------------------------------------------------------------------------


@query(
    "ts_markov_stationary_step",
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
    ),
    p AS (
      SELECT prev_type, cur_type,
             (n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS ppm
      FROM cnt
    ),
    states AS (SELECT DISTINCT prev_type AS s FROM p),
    k AS (SELECT COUNT(*) AS k FROM states),
    v0 AS (SELECT s, 1000000 // (SELECT k FROM k) AS v FROM states),
    v1 AS (
      SELECT p.cur_type AS s, SUM(v0.v * p.ppm) // 1000000 AS v
      FROM v0 JOIN p ON p.prev_type = v0.s GROUP BY p.cur_type
    ),
    v2 AS (
      SELECT p.cur_type AS s, SUM(v1.v * p.ppm) // 1000000 AS v
      FROM v1 JOIN p ON p.prev_type = v1.s GROUP BY p.cur_type
    )
    SELECT s AS state, CAST(v AS BIGINT) AS v2_ppm,
           CAST(ROUND(CAST(CAST(v AS DOUBLE) / 1000000
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS prob
    FROM v2
    """,
)
def ts_markov_stationary_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward the Markov chain's stationary
    distribution: start uniform, apply the ts_markov_transitions
    matrix twice — the long-run behavior mix the one-step matrix
    implies (where users SETTLE, vs where they go next), converging
    geometrically in the spectral gap.  All arithmetic is exact
    integer parts-per-million (probabilities floored at each step —
    identical in both engines; the ≤ k·1e-6 mass lost per step is a
    documented truncation, not float drift), and every join after
    the lag pass runs on the state-cardinality matrix — the
    graph_pagerank containment argument with a 5×5 graph."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("cur_type")).agg(
        F.count("*").alias("n")
    )
    p = cnt.select(
        "prev_type",
        "cur_type",
        F.expr(
            "(n * 1000000) div sum(n) OVER (PARTITION BY prev_type)"
        ).alias("ppm"),
    )
    states = p.select(F.col("prev_type").alias("s")).distinct()
    k = states.count()  # state-cardinality (bounded) driver value
    v = states.select("s", F.lit(1_000_000 // k).cast("long").alias("v"))
    for _ in range(2):
        v = (
            v.join(p, v.s == p.prev_type)
            .groupBy(F.col("cur_type").alias("s"))
            .agg(F.expr("sum(v * ppm) div 1000000").alias("v"))
        )
    return v.select(
        F.col("s").alias("state"),
        F.col("v").cast("long").alias("v2_ppm"),
        _r(F.col("v").cast("double") / 1_000_000, 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (closed-form Durbin-Levinson, lags 1-3)
# ---------------------------------------------------------------------------


@query(
    "ts_pacf_closed_form",
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
                               FROM range(1, 4)) l
    ),
    pairs AS (SELECT lag, y, yl FROM lagged WHERE yl IS NOT NULL),
    sums AS (
      SELECT lag, COUNT(*) AS n, SUM(y) AS sy, SUM(yl) AS syl,
             SUM(y * yl) AS syyl, SUM(y * y) AS syy, SUM(yl * yl) AS sylyl
      FROM pairs GROUP BY lag
    ),
    acf AS (
      SELECT lag,
             (CAST(n * syyl - sy * syl AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    * CAST(n * sylyl - syl * syl AS DOUBLE)) AS r
      FROM sums
      WHERE n * syy - sy * sy > 0 AND n * sylyl - syl * syl > 0
    ),
    w AS (
      SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
             MAX(CASE WHEN lag = 2 THEN r END) AS r2,
             MAX(CASE WHEN lag = 3 THEN r END) AS r3
      FROM acf
    ),
    dl AS (
      SELECT r1, r2, r3,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p22
      FROM w
    ),
    dl2 AS (
      SELECT r1, r2, r3, p22, r1 * (1 - p22) AS p21 FROM dl
    )
    SELECT CAST(ROUND(CAST(r1 AS DECIMAL(24,10)), 6) AS DOUBLE) AS pacf1,
           CAST(ROUND(CAST(p22 AS DECIMAL(24,10)), 6) AS DOUBLE) AS pacf2,
           CAST(ROUND(CAST(
             (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS pacf3
    FROM dl2
    """,
)
def ts_pacf_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1-3 via the closed-form
    Durbin-Levinson recursion on the sample ACF — the OTHER half of
    the Box-Jenkins identification pair (ACF tails ⇒ MA order, PACF
    cutoffs ⇒ AR order; ts_autocorrelation_function alone cannot
    separate an AR(1) from an MA tail).  φ₁₁=r₁,
    φ₂₂=(r₂−r₁²)/(1−r₁²), φ₃₃ from the unrolled level-3 step — pure
    scalar algebra on the three ACF values, which themselves come
    from the exact int64 power sums both engines share; the recursion
    is unrolled because its per-level coefficient UPDATE is the
    aggregate-inside-recursion shape WITH RECURSIVE disallows
    (the graph_kcore_peel argument)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    w_rn = Window.partitionBy("lag").orderBy("day")
    rows = daily.crossJoin(F.broadcast(lags)).withColumn(
        "rn", F.row_number().over(w_rn)
    )
    left = rows.select("lag", "rn", F.col("y").alias("y"))
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
    r = (n * F.col("syyl") - sy * syl).cast("double") / F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
        * (n * F.col("sylyl") - syl * syl).cast("double")
    )
    acf = sums.where(
        ((n * F.col("syy") - sy * sy) > 0)
        & ((n * F.col("sylyl") - syl * syl) > 0)
    ).select("lag", r.alias("r"))
    w = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 * (1 - p22)
    p33 = (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
    return w.select(
        _r(r1, 6).alias("pacf1"),
        _r(p22, 6).alias("pacf2"),
        _r(p33, 6).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# Dominant period
# ---------------------------------------------------------------------------


@query(
    "ts_period_dominant",
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
                               FROM range(2, 15)) l
    ),
    pairs AS (SELECT lag, y, yl FROM lagged WHERE yl IS NOT NULL),
    sums AS (
      SELECT lag, COUNT(*) AS n, SUM(y) AS sy, SUM(yl) AS syl,
             SUM(y * yl) AS syyl, SUM(y * y) AS syy, SUM(yl * yl) AS sylyl
      FROM pairs GROUP BY lag
    ),
    acf AS (
      SELECT lag,
             CAST(ROUND(CAST(
               CAST(n * syyl - sy * syl AS DOUBLE)
               / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                      * CAST(n * sylyl - syl * syl AS DOUBLE))
             AS DECIMAL(24,10)), 6) AS DOUBLE) AS r
      FROM sums
      WHERE n * syy - sy * sy > 0 AND n * sylyl - syl * syl > 0
    )
    SELECT CAST(MIN(CASE WHEN r = (SELECT MAX(r) FROM acf)
                    THEN lag END) AS BIGINT) AS dominant_period,
           CAST(ROUND(CAST(MAX(r) AS DECIMAL(24,10)), 6) AS DOUBLE) AS acf_peak
    FROM acf
    """,
)
def ts_period_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant seasonality period: the lag (2-14) with the highest
    sample autocorrelation — the single number that
    ts_autocorrelation_function's correlogram is usually read FOR,
    and the input ts_holt_winters_seasonal's m parameter should come
    from instead of assuming weekly.  Same exact int64 Pearson
    machinery per lag; the argmax is over the (ROUNDED) per-lag
    values (compared for equality against the max — exact on the
    6-dp-rounded doubles) with a smallest-lag tiebreak so both
    engines select identically even on a tie.  Calendar-bounded past the daily
    aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    lags = spark.range(2, 15).select(F.col("id").cast("int").alias("lag"))
    w_rn = Window.partitionBy("lag").orderBy("day")
    rows = daily.crossJoin(F.broadcast(lags)).withColumn(
        "rn", F.row_number().over(w_rn)
    )
    left = rows.select("lag", "rn", F.col("y").alias("y"))
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
    r = _r(
        (n * F.col("syyl") - sy * syl).cast("double")
        / F.sqrt(
            (n * F.col("syy") - sy * sy).cast("double")
            * (n * F.col("sylyl") - syl * syl).cast("double")
        ),
        6,
    )
    acf = sums.where(
        ((n * F.col("syy") - sy * sy) > 0)
        & ((n * F.col("sylyl") - syl * syl) > 0)
    ).select("lag", r.alias("r"))
    mx = acf.agg(F.max("r").alias("max_r"))
    return acf.crossJoin(F.broadcast(mx)).agg(
        F.min(F.when(F.col("r") == F.col("max_r"), F.col("lag")))
        .cast("long")
        .alias("dominant_period"),
        _r(F.max("r"), 6).alias("acf_peak"),
    )


# ---------------------------------------------------------------------------
# Hill diversity numbers
# ---------------------------------------------------------------------------


@query(
    "agg_diversity_hill_numbers",
    oracle="""
    WITH p AS (
      SELECT source, COUNT(*) AS c,
             CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS pi
      FROM documents GROUP BY source
    ),
    terms AS (
      SELECT c,
             CAST(ROUND(CAST(pi * ln(pi) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS sh_term,
             CAST(ROUND(CAST(pi * pi AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS simp_term
      FROM p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS hill_q0,
           CAST(ROUND(CAST(exp(-CAST(SUM(sh_term) AS DOUBLE))
                AS DECIMAL(24,10)), 4) AS DOUBLE) AS hill_q1,
           CAST(ROUND(CAST(1.0 / CAST(SUM(simp_term) AS DOUBLE)
                AS DECIMAL(24,10)), 4) AS DOUBLE) AS hill_q2
    FROM terms
    """,
)
def agg_diversity_hill_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill diversity numbers of the corpus source mix: q=0 richness
    (source count), q=1 exp(Shannon) ("effective number of equally
    common sources"), q=2 inverse Simpson (effective number weighted
    toward the dominant ones) — the unified diversity ladder that
    puts mix_kl_divergence's imbalance and agg_behavioral_entropy's
    entropy on ONE interpretable scale: all three equal the source
    count iff the mix is perfectly balanced, and the q1/q0 ratio is
    the evenness.  One count pass; per-source terms decimal-rounded
    before the order-free sum (the Shannon/Simpson sums are
    category-sized)."""
    d = load_table(spark, sf_dir, "documents")
    p = d.groupBy("source").agg(F.count("*").alias("c")).withColumn(
        "pi",
        F.col("c").cast("double")
        / F.sum("c").over(Window.partitionBy()),
    )
    sh_term = F.round(
        (F.col("pi") * F.log(F.col("pi"))).cast("decimal(20,12)"), 12
    ).cast("decimal(20,12)")
    simp_term = F.round(
        (F.col("pi") * F.col("pi")).cast("decimal(20,12)"), 12
    ).cast("decimal(20,12)")
    terms = p.select(sh_term.alias("sh_term"), simp_term.alias("simp_term"))
    return terms.agg(
        F.count("*").cast("long").alias("hill_q0"),
        _r(F.exp(-F.sum("sh_term").cast("double")), 4, "decimal(24,10)").alias(
            "hill_q1"
        ),
        _r(
            F.lit(1.0) / F.sum("simp_term").cast("double"), 4, "decimal(24,10)"
        ).alias("hill_q2"),
    )


# ---------------------------------------------------------------------------
# Markov entropy rate
# ---------------------------------------------------------------------------


@query(
    "agg_markov_entropy_rate",
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
    ),
    p AS (
      SELECT prev_type, cur_type,
             (n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS ppm
      FROM cnt
    ),
    states AS (SELECT DISTINCT prev_type AS s FROM p),
    k AS (SELECT COUNT(*) AS k FROM states),
    v0 AS (SELECT s, 1000000 // (SELECT k FROM k) AS v FROM states),
    v1 AS (
      SELECT p.cur_type AS s, SUM(v0.v * p.ppm) // 1000000 AS v
      FROM v0 JOIN p ON p.prev_type = v0.s GROUP BY p.cur_type
    ),
    v2 AS (
      SELECT p.cur_type AS s, SUM(v1.v * p.ppm) // 1000000 AS v
      FROM v1 JOIN p ON p.prev_type = v1.s GROUP BY p.cur_type
    ),
    terms AS (
      SELECT CAST(ROUND(CAST(
               -(CAST(v2.v AS DOUBLE) / 1000000)
               * (CAST(p.ppm AS DOUBLE) / 1000000)
               * log2(CAST(p.ppm AS DOUBLE) / 1000000)
             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS term
      FROM p JOIN v2 ON v2.s = p.prev_type
      WHERE p.ppm > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS entropy_rate_bits
    FROM terms
    """,
)
def agg_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the behavioral Markov chain:
    H = −Σᵢ πᵢ Σⱼ pᵢⱼ log₂ pᵢⱼ, with π the
    ts_markov_stationary_step two-iteration estimate and pᵢⱼ the
    ts_markov_transitions matrix — bits of genuine surprise per
    action once the current state is known: the PREDICTABILITY
    ceiling of user behavior (agg_behavioral_entropy's marginal
    entropy minus this is the information the previous action
    carries).  All probabilities are exact integer ppm; each
    π·p·log₂p cell term is decimal-rounded before the order-free
    sum, and every frame after the lag pass is state-cardinality."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("cur_type")).agg(
        F.count("*").alias("n")
    )
    p = cnt.select(
        "prev_type",
        "cur_type",
        F.expr(
            "(n * 1000000) div sum(n) OVER (PARTITION BY prev_type)"
        ).alias("ppm"),
    )
    states = p.select(F.col("prev_type").alias("s")).distinct()
    k = states.count()
    v = states.select("s", F.lit(1_000_000 // k).cast("long").alias("v"))
    for _ in range(2):
        v = (
            v.join(p, v.s == p.prev_type)
            .groupBy(F.col("cur_type").alias("s"))
            .agg(F.expr("sum(v * ppm) div 1000000").alias("v"))
        )
    pi = F.col("v").cast("double") / 1_000_000
    pij = F.col("ppm").cast("double") / 1_000_000
    term = F.round(
        (-pi * pij * F.log2(pij)).cast("decimal(20,12)"), 12
    ).cast("decimal(20,12)")
    joined = p.where(F.col("ppm") > 0).join(
        F.broadcast(v.withColumnRenamed("s", "prev_type")), "prev_type"
    )
    return joined.select(term.alias("term")).agg(
        F.count("*").cast("long").alias("n_cells"),
        _r(F.sum("term"), 6, "decimal(20,12)")
        .alias("entropy_rate_bits"),
    )
