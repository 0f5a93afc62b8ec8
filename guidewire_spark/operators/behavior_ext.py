"""Behavioral and quality operators: streaming windowed top-k (batch
twin), the Gopher quality-rule filter, last-touch attribution, and the
embedding pairwise-distance histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Streaming windowed top-k
# ---------------------------------------------------------------------------


@query(
    "stream_windowed_topk",
    oracle="""
    WITH counts AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 15 MINUTE, ts)) AS BIGINT)
               AS win_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT win_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type ASC) AS rnk
      FROM counts
    )
    SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 15-minute tumbling window — the windowed
    leaderboard.  Ranking over a windowed aggregate is not expressible
    inside one streaming query (no window functions after a streaming
    agg), so the streaming form is the two-stage pattern: the
    watermarked windowed COUNT runs as the streaming query, and the
    per-window rank is applied in ``foreachBatch`` / on the sink read
    (tests/test_behavior_ext.py runs the real stream and checks
    equivalence with this batch twin).  Shuffle keys are (window,
    type) — bounded cardinality; the rank window runs on the
    aggregate, never the raw stream."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(F.window("ts", "15 minutes"), "event_type").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "win_start",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------


@query(
    "text_gopher_rules",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws,
             length(text) - length(replace(text, '#', '')) AS n_hash
      FROM documents
    ),
    counts AS (
      SELECT doc_id, len(ws) AS n_words, n_hash,
             COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS swl,
             len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
               AS n_alpha,
             len(list_filter(list_transform(ws, w -> lower(w)),
                 w -> list_contains(['the','and','of','to','a'], w)))
               AS n_stop
      FROM scored
    ),
    flags AS (
      SELECT doc_id, n_words,
             (n_words BETWEEN 50 AND 100000) AS ok_length,
             (CASE WHEN n_words = 0 THEN FALSE
                   ELSE CAST(swl AS DOUBLE) / n_words BETWEEN 3 AND 10 END)
               AS ok_word_len,
             (CASE WHEN n_words = 0 THEN FALSE
                   ELSE CAST(n_hash AS DOUBLE) / n_words <= 0.1 END)
               AS ok_symbols,
             (CASE WHEN n_words = 0 THEN FALSE
                   ELSE CAST(n_alpha AS DOUBLE) / n_words >= 0.8 END)
               AS ok_alpha,
             (n_stop >= 2) AS ok_stopwords
      FROM counts
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ok_length, ok_word_len, ok_symbols, ok_alpha, ok_stopwords,
           (ok_length AND ok_word_len AND ok_symbols AND ok_alpha
            AND ok_stopwords) AS keep
    FROM flags
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, table A1) as
    per-document boolean flags plus the conjunctive keep decision —
    the industry-standard pre-training filter that
    quality_filter_pipeline approximates with a composite score;
    here each rule is separately auditable so the filter's kill
    reasons can be tallied: word count in [50, 100000], mean word
    length in [3, 10], symbol-to-word ratio (# marks) ≤ 0.1,
    ≥ 80% of words contain an alphabetic character, and ≥ 2 English
    stopwords.  All rules are row-local JVM expressions over one
    whitespace tokenization — single scan, zero shuffle, fully
    pushdown-friendly."""
    # round-12: the r11 fan_out was REMOVED here after an interleaved
    # A/B (×4 at sf0.1, ×3 at the 10× fixture) measured the
    # round-robin exchange of raw text costing 1.3-2× the row-local
    # projection it parallelizes (0.43→0.31 s sf0.1, 0.65→0.34 s at
    # 10×) — this query is a pure projection+filter over one
    # tokenization, so scan parallelism is already the right width at
    # every scale (ADVICE r11).
    d = load_table(spark, sf_dir, "documents")
    ws = T.words(F.col("text"))
    n_words = F.size(ws)
    sum_word_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = sum_word_len.cast("double") / n_words
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    stop_hits = T.stopword_hits(F.transform(ws, F.lower), "en")
    empty = n_words == 0
    flags = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_words.between(50, 100000).alias("ok_length"),
        F.when(empty, F.lit(False))
        .otherwise((mean_wl >= 3) & (mean_wl <= 10))
        .alias("ok_word_len"),
        F.when(empty, F.lit(False))
        .otherwise(n_hash.cast("double") / n_words <= 0.1)
        .alias("ok_symbols"),
        F.when(empty, F.lit(False))
        .otherwise(alpha_frac >= 0.8)
        .alias("ok_alpha"),
        (stop_hits >= 2).alias("ok_stopwords"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_length")
        & F.col("ok_word_len")
        & F.col("ok_symbols")
        & F.col("ok_alpha")
        & F.col("ok_stopwords"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------


@query(
    "attribution_last_touch",
    oracle="""
    WITH e0 AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      FROM events WHERE user_id % 10 = 0
    ),
    e AS (
      SELECT event_id, user_id, event_type, us FROM (
        SELECT *,
               MAX(CASE WHEN event_type <> 'purchase' THEN event_id END)
                 OVER (PARTITION BY user_id, us) AS max_np_id
        FROM e0
      )
      WHERE event_type = 'purchase' OR event_id = max_np_id
    ),
    touched AS (
      SELECT event_id, user_id, event_type, us,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN us END IGNORE NULLS) OVER w AS touch_us
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, touch_type,
           CAST((us - touch_us) // 1000000 AS BIGINT) AS secs_since_touch
    FROM touched
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent NON-purchase interaction by the same user within the
    preceding 24 hours — the marketing-analytics join that is really
    a conditional carry-forward: ``last_value(... IGNORE NULLS)``
    over a trailing epoch-microsecond RANGE frame (the
    window_ignore_nulls_carry primitive pointed at the
    ts_velocity_features frame — NOT an O(n·m) self-join).  One
    shuffle by user; purchases with no touch in the window are
    dropped (unattributable direct conversions).  Ties are made
    deterministic first: ``last(...)`` over RANGE-frame PEERS is
    partition-order-dependent, so among non-purchase events sharing
    the exact same (user, microsecond) only the max-event_id one
    survives — via a peers-only ``rangeBetween(0, 0)`` frame that
    reuses the SAME user-partitioned exchange (no second shuffle)."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-86_400_000_000, 0)
    )
    not_purchase = F.col("event_type") != "purchase"
    peers = Window.partitionBy("user_id").orderBy("us").rangeBetween(0, 0)
    e = e.withColumn(
        "max_np_id",
        F.max(F.when(not_purchase, F.col("event_id"))).over(peers),
    ).where(
        ~not_purchase | (F.col("event_id") == F.col("max_np_id"))
    ).drop("max_np_id")
    touched = e.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return touched.where(
        (F.col("event_type") == "purchase") & F.col("touch_type").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "touch_type",
        F.expr("(us - touch_us) div 1000000").alias("secs_since_touch"),
    )


# ---------------------------------------------------------------------------
# Embedding pairwise-distance histogram
# ---------------------------------------------------------------------------


@query(
    "embedding_pairwise_histogram",
    oracle="""
    WITH vq AS (
      SELECT vec_id, i AS p,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT)
               AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)
      WHERE vec_id < 100
    ),
    vn AS (SELECT vec_id, SUM(q * q) AS nrm FROM vq GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS d
      FROM vq a JOIN vq b ON a.p = b.p AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    cos AS (
      SELECT CAST(d AS DOUBLE)
               / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS c
      FROM dots JOIN vn na ON na.vec_id = va JOIN vn nb ON nb.vec_id = vb
    )
    SELECT CAST(GREATEST(LEAST(CAST(FLOOR(c * 10) AS BIGINT), 9), -10)
                AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cos GROUP BY 1
    """,
)
def embedding_pairwise_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity histogram over a bounded sample of
    embeddings (vec_id < 100, 4,950 pairs) — the embedding-collapse
    diagnostic: a healthy space puts mass near 0; mass piling up by
    1.0 means the encoder collapsed (every similarity search returns
    everything) and near-dup thresholds must be recalibrated.  The
    all-pairs product is DELIBERATELY sample-bounded (the same
    containment contract as dedup_connected_components' doc_id < 100
    graph); the full-corpus version of this question is answered by
    the LSH bucket statistics.  Dot products and norms are exact
    int64 from quantized components; only the final cosine and its
    decile bucket are doubles, floored identically in both engines."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    vq = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000, 0).cast("long"),
            )
        ).alias("p", "q"),
    )
    vn = vq.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("nrm"))
    a, b = vq.alias("a"), vq.alias("b")
    dots = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .agg(F.sum(F.col("a.q") * F.col("b.q")).alias("d"))
    )
    cos = (
        dots.join(F.broadcast(vn.withColumnRenamed("vec_id", "va").withColumnRenamed("nrm", "na")), "va")
        .join(F.broadcast(vn.withColumnRenamed("vec_id", "vb").withColumnRenamed("nrm", "nb")), "vb")
        .select(
            (
                F.col("d").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("c")
        )
    )
    bucket = F.greatest(
        F.least(F.floor(F.col("c") * 10).cast("long"), F.lit(9).cast("long")),
        F.lit(-10).cast("long"),
    )
    return cos.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# Streaming drift monitor
# ---------------------------------------------------------------------------


@query(
    "stream_drift_js_monitor",
    oracle="""
    WITH cells AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT)
               AS win_start,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(c) AS g FROM cells GROUP BY event_type
    ),
    joined AS (
      SELECT cells.win_start, cells.event_type,
             CAST(cells.c AS DOUBLE)
               / SUM(cells.c) OVER (PARTITION BY cells.win_start) AS p,
             CAST(tot.g AS DOUBLE) / SUM(tot.g) OVER () AS q,
             SUM(cells.c) OVER (PARTITION BY cells.win_start) AS n_window
      FROM cells JOIN tot USING (event_type)
    ),
    terms AS (
      SELECT win_start, n_window,
             CAST(ROUND(CAST(
               0.5 * (CASE WHEN p > 0
                           THEN p * log2(2 * p / (p + q)) ELSE 0 END)
               + 0.5 * (CASE WHEN q > 0
                             THEN q * log2(2 * q / (p + q)) ELSE 0 END)
             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS term
      FROM joined
    )
    SELECT win_start, CAST(MAX(n_window) AS BIGINT) AS n_events,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS js_bits,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) > 0.05
             AS BOOLEAN) AS drifted
    FROM terms GROUP BY win_start
    """,
)
def stream_drift_js_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per 6-hour tumbling window, the
    Jensen-Shannon divergence (bits) between the window's event-type
    mix and the whole-corpus baseline mix, flagged past 0.05 bits —
    the windowed form of agg_js_divergence and the alert wired on top
    of dq_freshness_lag (freshness says a stream STOPPED; drift says
    it CHANGED).  Two-stage streaming shape like
    stream_windowed_topk: the watermarked windowed count is the
    streaming query; the baseline join + JS combination runs on the
    sink read (the baseline itself is a slowly-refreshed batch
    aggregate — a broadcast).  All counts exact; per-cell terms are
    decimal-rounded before the per-window sum.  Everything past the
    one count pass runs on (window × type) cells."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count("*").alias("c")).select(
        F.unix_timestamp("w.start").alias("win_start"), "event_type", "c"
    )
    tot = cells.groupBy("event_type").agg(F.sum("c").alias("g"))
    w_win = Window.partitionBy("win_start")
    w_all = Window.partitionBy()
    joined = cells.join(F.broadcast(tot), "event_type").select(
        "win_start",
        (F.col("c").cast("double") / F.sum("c").over(w_win)).alias("p"),
        (F.col("g").cast("double") / F.sum("g").over(w_all)).alias("q"),
        F.sum("c").over(w_win).alias("n_window"),
    )
    p, q = F.col("p"), F.col("q")
    term = F.round(
        (
            F.lit(0.5)
            * F.when(p > 0, p * F.log2(2 * p / (p + q))).otherwise(0.0)
            + F.lit(0.5)
            * F.when(q > 0, q * F.log2(2 * q / (p + q))).otherwise(0.0)
        ).cast("decimal(20,12)"),
        12,
    ).cast("decimal(20,12)")
    js = _r(F.sum("term"), 6, "decimal(20,12)")
    return (
        joined.select("win_start", "n_window", term.alias("term"))
        .groupBy("win_start")
        .agg(
            F.max("n_window").cast("long").alias("n_events"),
            js.alias("js_bits"),
            (js > 0.05).alias("drifted"),
        )
    )
