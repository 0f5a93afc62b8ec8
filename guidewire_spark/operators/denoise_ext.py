"""Deeper training-pipeline cuts: embedding-space decontamination,
T5-style span-corruption planning, and Holt-Winters seasonal
smoothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Embedding-space decontamination
# ---------------------------------------------------------------------------


@query(
    "contamination_embedding_cosine",
    oracle="""
    WITH vq AS (
      SELECT vec_id, i AS p,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT)
               AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)
    ),
    vn AS (SELECT vec_id, SUM(q * q) AS nrm FROM vq GROUP BY vec_id),
    dots AS (
      SELECT tr.vec_id AS train_id, be.vec_id AS bench_id,
             SUM(tr.q * be.q) AS d
      FROM (SELECT * FROM vq WHERE vec_id % 50 <> 0) tr
      JOIN (SELECT * FROM vq WHERE vec_id % 50 = 0) be ON be.p = tr.p
      GROUP BY tr.vec_id, be.vec_id
    ),
    best AS (
      SELECT train_id,
             MAX(CAST(d AS DOUBLE)
                 / sqrt(CAST(nt.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)))
               AS max_cos
      FROM dots
      JOIN vn nt ON nt.vec_id = train_id
      JOIN vn nb ON nb.vec_id = bench_id
      GROUP BY train_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN max_cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(ROUND(CAST(MAX(max_cos) AS DECIMAL(24,10)), 6) AS DOUBLE)
             AS worst_cos
    FROM best
    """,
)
def contamination_embedding_cosine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC decontamination: flag training vectors whose cosine to
    ANY benchmark vector reaches 0.95 — the embedding-space
    complement of contamination_max_jaccard (paraphrased or
    re-formatted benchmark leakage carries no shared n-grams; it DOES
    carry a near-identical embedding).  The benchmark side
    (vec_id % 50 = 0) is dimension-sized by nature — eval sets are
    thousands of rows, the corpus is billions — so it is BROADCAST
    and each train vector scores against it map-side: no shuffle of
    the train corpus at all, the exact-scan contract
    similarity_topk_bruteforce established.  Dots and norms are
    exact int64 from quantized components; only the final max-cos
    compare is floating point."""
    e = load_table(spark, sf_dir, "embeddings")
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
    train = vq.where(F.col("vec_id") % 50 != 0)
    bench = vq.where(F.col("vec_id") % 50 == 0)
    dots = (
        train.alias("tr")
        .join(
            F.broadcast(bench.alias("be")), F.col("be.p") == F.col("tr.p")
        )
        .groupBy(
            F.col("tr.vec_id").alias("train_id"),
            F.col("be.vec_id").alias("bench_id"),
        )
        .agg(F.sum(F.col("tr.q") * F.col("be.q")).alias("d"))
    )
    best = (
        dots.join(
            vn.select(
                F.col("vec_id").alias("train_id"), F.col("nrm").alias("nt")
            ),
            "train_id",
        )
        .join(
            F.broadcast(
                vn.select(
                    F.col("vec_id").alias("bench_id"), F.col("nrm").alias("nb")
                )
            ),
            "bench_id",
        )
        .groupBy("train_id")
        .agg(
            F.max(
                F.col("d").cast("double")
                / F.sqrt(F.col("nt").cast("double") * F.col("nb").cast("double"))
            ).alias("max_cos")
        )
    )
    return best.agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum(F.when(F.col("max_cos") >= 0.95, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        _r(F.max("max_cos"), 6).alias("worst_cos"),
    )


# ---------------------------------------------------------------------------
# T5 span-corruption plan
# ---------------------------------------------------------------------------


@query(
    "doc_span_corruption_plan",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> '')) AS n_tokens
      FROM documents WHERE doc_id % 13 = 0
    ),
    planned AS (
      SELECT doc_id, n_tokens,
             GREATEST(n_tokens * 15 // 100 // 3, 1) AS n_spans
      FROM docs WHERE n_tokens >= 20
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(k AS BIGINT) AS span_idx,
           CAST((doc_id * 2654435761 + k * 40503) % (n_tokens - 2) AS BIGINT)
             AS start_tok,
           CAST(3 AS BIGINT) AS len_tok
    FROM planned, UNNEST(range(0, n_spans)) t(k)
    """,
)
def doc_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan: for each document, emit the
    (start, length) positions of the ~15% of tokens to mask as
     3-token spans — the denoising-objective manifest a seq2seq
    pretraining job consumes.  Spans are placed by a DETERMINISTIC
    integer hash (Knuth multiplicative on (doc_id, span_idx)), not a
    RNG: reproducible across retries and engines, the
    training_epoch_shuffle_plan discipline (spans may collide —
    real T5 resamples; the plan stage just needs coverage ≈ 15%,
    audited in tests).  Pure projection + bounded fan-out
    (n_tokens·15%/3 rows per doc): zero shuffle, bytes never
    multiply."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 0)
    docs = d.select("doc_id", T.word_count(F.col("text")).alias("n_tokens"))
    planned = docs.where(F.col("n_tokens") >= 20).select(
        "doc_id",
        "n_tokens",
        F.greatest(
            F.expr("n_tokens * 15 div 100 div 3"), F.lit(1)
        ).alias("n_spans"),
    )
    fanned = planned.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("span_idx"),
    )
    return fanned.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("span_idx").cast("long").alias("span_idx"),
        (
            (F.col("doc_id") * 2654435761 + F.col("span_idx") * 40503)
            % (F.col("n_tokens") - 2)
        )
        .cast("long")
        .alias("start_tok"),
        F.lit(3).cast("long").alias("len_tok"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters seasonal smoothing
# ---------------------------------------------------------------------------


@query(
    "ts_holt_winters_seasonal",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    seq AS (
      SELECT ROW_NUMBER() OVER (ORDER BY x) AS rn, CAST(y AS DOUBLE) AS y
      FROM daily
    ),
    init AS (
      SELECT
        (SELECT SUM(y) FROM seq WHERE rn <= 7) / 7 AS l0,
        ((SELECT SUM(y) FROM seq WHERE rn BETWEEN 8 AND 14) / 7
         - (SELECT SUM(y) FROM seq WHERE rn <= 7) / 7) / 7 AS b0,
        (SELECT list(y - (SELECT SUM(y) FROM seq WHERE rn <= 7) / 7
                     ORDER BY rn)
         FROM seq WHERE rn <= 7) AS s0
    ),
    h(i, l, b, s) AS (
      SELECT 7, l0, b0, s0 FROM init
      UNION ALL
      SELECT h.i + 1,
             0.5 * (q.y - h.s[1]) + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * (q.y - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
               + 0.75 * h.b,
             list_concat(h.s[2:7],
               [0.25 * (q.y - (0.5 * (q.y - h.s[1]) + 0.5 * (h.l + h.b)))
                + 0.75 * h.s[1]])
      FROM h JOIN seq q ON q.rn = h.i + 1
    )
    SELECT CAST(i AS BIGINT) AS n_days,
           CAST(ROUND(CAST(l AS DECIMAL(24,10)), 3) AS DOUBLE) AS level_milli,
           CAST(ROUND(CAST(b AS DECIMAL(24,10)), 3) AS DOUBLE) AS trend_milli,
           CAST(ROUND(CAST(l + b + s[1] AS DECIMAL(24,10)), 3) AS DOUBLE)
             AS forecast_next_milli
    FROM h WHERE i = (SELECT MAX(rn) FROM seq)
    """,
)
def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (α=1/2, β=1/4, γ=1/4,
    weekly period m=7): level, trend, and a 7-slot seasonal state —
    the model ts_seasonal_strength says this series needs (strong
    weekly R² → plain Holt underfits the weekend dip).  The seasonal
    state rides through the fold as a 7-element QUEUE: slot 1 is
    always s_{t−7}, and each step appends the refreshed slot —
    identical list surgery in the Spark ``aggregate`` lambda and the
    recursive-CTE oracle, so both engines run the same IEEE ops in
    the same order (dyadic coefficients, integer-derived doubles;
    3-dp rounding on top).  Like ts_holt_linear_smoothing, the
    sequential fold runs AFTER the one distributed daily aggregate,
    on a calendar-bounded array.  Init: l = week-1 mean, b = (week-2
    mean − week-1 mean)/7, s = week-1 deviations.  Requires >= 14
    daily points (two init weeks); shorter series yield zero rows
    rather than a negative-length slice error."""
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
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("sxy")
    ).select(F.expr("transform(sxy, p -> CAST(p.y AS DOUBLE))").alias("ys"))
    # Minimum-series requirement: the init consumes two full weeks
    # (week-1 level/seasonals, week-2 trend), so with < 14 days the
    # model is undefined — degrade to zero rows instead of letting
    # slice(ys, 8, size - 7) throw on a negative length.
    arr = arr.where(F.size("ys") >= 14)
    folded = arr.select(
        F.size("ys").alias("n_days"),
        F.expr(
            """
            aggregate(
              slice(ys, 8, size(ys) - 7),
              named_struct(
                'l', aggregate(slice(ys, 1, 7), 0D, (a, v) -> a + v) / 7,
                'b', (aggregate(slice(ys, 8, 7), 0D, (a, v) -> a + v) / 7
                      - aggregate(slice(ys, 1, 7), 0D, (a, v) -> a + v) / 7)
                     / 7,
                's', transform(slice(ys, 1, 7),
                       v -> v - aggregate(slice(ys, 1, 7), 0D,
                                          (a, v2) -> a + v2) / 7)),
              (acc, y) -> named_struct(
                'l', 0.5D * (y - acc.s[0]) + 0.5D * (acc.l + acc.b),
                'b', 0.25D * ((0.5D * (y - acc.s[0])
                               + 0.5D * (acc.l + acc.b)) - acc.l)
                       + 0.75D * acc.b,
                's', concat(slice(acc.s, 2, 6),
                       array(0.25D * (y - (0.5D * (y - acc.s[0])
                                           + 0.5D * (acc.l + acc.b)))
                             + 0.75D * acc.s[0])))
            )
            """
        ).alias("h"),
    )
    return folded.select(
        F.col("n_days").cast("long").alias("n_days"),
        _r(F.col("h.l"), 3).alias("level_milli"),
        _r(F.col("h.b"), 3).alias("trend_milli"),
        _r(
            F.col("h.l") + F.col("h.b") + F.element_at(F.col("h.s"), 1), 3
        ).alias("forecast_next_milli"),
    )


# ---------------------------------------------------------------------------
# Exact-substring decontamination
# ---------------------------------------------------------------------------


@query(
    "contamination_exact_substring",
    oracle="""
    WITH bench AS (
      SELECT doc_id AS bench_id,
             substr(text, 1, 64) AS needle
      FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 64
    ),
    hits AS (
      SELECT d.doc_id, b.bench_id
      FROM documents d JOIN bench b
        ON d.doc_id <> b.bench_id AND contains(d.text, b.needle)
    )
    SELECT CAST((SELECT COUNT(*) FROM bench) AS BIGINT) AS n_needles,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM hits
    """,
)
def contamination_exact_substring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring decontamination: flag training documents that
    CONTAIN a benchmark document's 64-char prefix verbatim — the
    fourth member of the contamination family (digest catches
    identical docs, max-Jaccard catches near-copies, embeddings catch
    paraphrases; only substring search catches a benchmark QUOTED
    inside a larger page, the most common leak on the web).  The
    needle set is benchmark-sized → broadcast; each train partition
    scans its documents against the needles map-side (a broadcast
    nested-loop by design — needles ≪ corpus makes it linear in
    corpus size; at real scale the needle set feeds an Aho-Corasick
    pandas UDF, same join shape).  Exact string semantics — no
    regex, no tokenization, engine-identical."""
    d = load_table(spark, sf_dir, "documents")
    bench = (
        d.where((F.col("doc_id") % 97 == 0) & (F.length("text") >= 64))
        .select(
            F.col("doc_id").alias("bench_id"),
            F.substring("text", 1, 64).alias("needle"),
        )
    )
    hits = d.join(
        F.broadcast(bench),
        (F.col("doc_id") != F.col("bench_id"))
        & F.col("text").contains(F.col("needle")),
    )
    n_needles = bench.count()
    return hits.agg(
        F.lit(n_needles).cast("long").alias("n_needles"),
        F.countDistinct("doc_id").cast("long").alias("n_contaminated_docs"),
        F.count("*").cast("long").alias("n_hits"),
    )
