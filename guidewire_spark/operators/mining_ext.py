"""Mining-tier operators rounding out the LLM-pipeline surface:
HITS hub/authority ranking (the PageRank sibling), distributed
space-saving heavy hitters (the bounded-memory frequent-items
sketch), tolerance-bounded as-of joins, deterministic per-source
reservoir sampling, fractional-epoch mixture upsampling plans, BM25 keyword
extraction (the IR-standard TF-IDF successor), local clustering
coefficients, pinball-loss forecast scoring, and delete-one-bucket
jackknife variance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------


@query(
    "graph_hits_hub_authority",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 5 = 0
    ),
    a1 AS (SELECT s, COUNT(*) AS a FROM edges GROUP BY s),
    h1 AS (
      SELECT c, SUM(a) AS h FROM edges JOIN a1 USING (s) GROUP BY c
    ),
    a2 AS (
      SELECT s, SUM(h) AS auth FROM edges JOIN h1 USING (c) GROUP BY s
    )
    SELECT CAST(a2.s AS BIGINT) AS supp_key,
           CAST(a2.auth AS BIGINT) AS authority,
           CAST(a1.a AS BIGINT) AS indegree
    FROM a2 JOIN a1 ON a1.s = a2.s
    ORDER BY authority DESC, supp_key ASC
    LIMIT 20
    """,
)
def graph_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities over the customer↔supplier
    co-purchase bipartite graph, two unrolled mutual-reinforcement
    iterations from a uniform hub init: a₁(s) = indegree,
    h₁(c) = Σ a₁ over c's suppliers, a₂(s) = Σ h₁ over s's customers.
    Top-20 authorities with a deterministic key tiebreak — the
    "who do the best-connected buyers buy from" ranking PageRank's
    single score can't separate.

    Unnormalized iterations keep every score an EXACT int64 (the
    normalization constant cancels in the ranking), so the result is
    engine- and order-proof with no float bridge.  Scale shape is
    graph_pagerank's (training.py): per iteration one equi-join of
    the score table onto the edge list + one aggregation — only
    (node, score) pairs shuffle; the edge list is materialized once
    (localCheckpoint) because three passes reuse it."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 5 == 0)
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    a1 = edges.groupBy("s").agg(F.count("*").alias("a"))
    h1 = edges.join(a1, "s").groupBy("c").agg(F.sum("a").alias("h"))
    a2 = edges.join(h1, "c").groupBy("s").agg(F.sum("h").alias("auth"))
    return (
        a2.join(a1, "s")
        .select(
            F.col("s").alias("supp_key"),
            F.col("auth").cast("long").alias("authority"),
            F.col("a").cast("long").alias("indegree"),
        )
        .orderBy(F.desc("authority"), F.asc("supp_key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Space-saving / Misra-Gries heavy hitters
# ---------------------------------------------------------------------------


@query(
    "agg_heavy_hitters_spacesaving",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    w -> w <> '')) AS word
      FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
    total AS (SELECT SUM(freq) AS n FROM counts)
    SELECT word, CAST(freq AS BIGINT) AS freq,
           TRUE AS found_in_sketch, TRUE AS estimate_in_bound
    FROM counts, total
    WHERE freq > n / 100.0
    ORDER BY word
    """,
)
def agg_heavy_hitters_spacesaving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus heavy hitters by a distributed Misra-Gries (space-saving)
    sketch: each partition keeps at most k=100 counters over its word
    stream (decrement-all on overflow), the per-partition summaries —
    ≤ k rows each, never word-cardinality-sized — merge by summing.

    Bound-check oracle (round 9): the estimates are partition-layout-
    dependent, but the Misra-Gries GUARANTEE is not — each partition
    undercounts by at most its decrement total ≤ n_p/k, so the merged
    estimate satisfies f(w) − n/k ≤ e(w) ≤ f(w) and every word with
    true frequency > n/k survives.  The QUERY therefore outputs the
    exact-defined row set (true heavy hitters from an exact word
    count, deterministic) with two booleans — the word appeared in
    the sketch, and its estimate sits inside the MG interval — and
    the SQL oracle recomputes the exact set asserting TRUE.  This is
    the bounded-memory heavy-hitters shape for streams too large to
    exact-count: the sketch shuffle carries ≤ k·partitions rows
    however large the corpus (the exact twin here is the verification
    harness, not the production path)."""
    import pandas as pd

    k = 100

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for w in text.lower().split():
                    if w in counters:
                        counters[w] += 1
                    elif len(counters) < k:
                        counters[w] = 1
                    else:
                        dead = []
                        for key in counters:
                            counters[key] -= 1
                            if counters[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del counters[key]
        yield pd.DataFrame(
            {"word": list(counters), "est": list(counters.values())}
        )

    d = load_table(spark, sf_dir, "documents").select("text")
    partials = d.mapInPandas(mg, "word string, est long")
    estimates = partials.groupBy("word").agg(F.sum("est").alias("est"))

    # Exact twin (same tokenization as the sketch's .split()): the
    # deterministic heavy-hitter set f(w) > n/k anchors the row set.
    words = d.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    exact = words.groupBy("word").agg(F.count("*").alias("freq"))
    total = exact.agg(F.sum("freq").cast("double").alias("n"))
    heavy = exact.crossJoin(F.broadcast(total)).where(
        F.col("freq") > F.col("n") / k
    )
    return (
        heavy.join(estimates, "word", "left")
        .select(
            "word",
            "freq",
            F.col("est").isNotNull().alias("found_in_sketch"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("freq"))
                & (F.col("est") >= F.col("freq") - F.col("n") / k)
            ).alias("estimate_in_bound"),
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# Tolerance-bounded as-of join
# ---------------------------------------------------------------------------


@query(
    "join_asof_tolerance",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS mval
      FROM events
      WHERE user_id % 5 = 0 AND event_type IN ('view', 'purchase')
    ),
    ded AS (
      SELECT event_id, user_id, event_type, us, mval FROM (
        SELECT *,
               MAX(CASE WHEN event_type = 'view' THEN event_id END)
                 OVER (PARTITION BY user_id, us) AS max_view_id
        FROM e
      )
      WHERE event_type = 'purchase' OR event_id = max_view_id
    ),
    tagged AS (
      SELECT event_id, user_id, us,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS isp,
             CASE WHEN event_type = 'view' THEN us END AS vus,
             CASE WHEN event_type = 'view' THEN mval END AS vval
      FROM ded
    ),
    carried AS (
      SELECT *,
             last_value(vus IGNORE NULLS) OVER w AS lvus,
             last_value(vval IGNORE NULLS) OVER w AS lvval
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY us, isp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN lvus IS NOT NULL
                 AND us - lvus <= CAST(3600000000 AS BIGINT)
                THEN (us - lvus) // 1000000 END AS secs_since_view,
           CASE WHEN lvus IS NOT NULL
                 AND us - lvus <= CAST(3600000000 AS BIGINT)
                THEN lvval END AS viewed_milli
    FROM carried WHERE isp = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof's
    ``tolerance=`` contract): each purchase matches the latest
    same-user view at-or-before it, but only if that view is ≤ 1 hour
    old — older context is NULLed, not silently attached.  The
    freshness-bounded feature join every serving pipeline needs
    ("use the last click, unless it's stale").

    Same scale shape as the keyed as-of merge: union the two streams,
    ONE user-partitioned window carries the last view's (timestamp,
    value) forward, the tolerance is a post-filter on the carried
    timestamp — never a range self-join.  Determinism: views sort
    before purchases at equal microseconds (inclusive <=), and
    same-instant duplicate views pre-deduplicate to the max event_id
    via a peers-only frame on the SAME user exchange (the
    attribution_last_touch discipline)."""
    tol_us = 3_600_000_000
    e = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("user_id") % 5 == 0)
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("mval"),
        )
    )
    is_view = F.col("event_type") == "view"
    peers = Window.partitionBy("user_id").orderBy("us").rangeBetween(0, 0)
    ded = (
        e.withColumn(
            "max_view_id",
            F.max(F.when(is_view, F.col("event_id"))).over(peers),
        )
        .where(~is_view | (F.col("event_id") == F.col("max_view_id")))
        .drop("max_view_id")
    )
    tagged = ded.select(
        "event_id",
        "user_id",
        "us",
        F.when(is_view, 0).otherwise(1).alias("isp"),
        F.when(is_view, F.col("us")).alias("vus"),
        F.when(is_view, F.col("mval")).alias("vval"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "isp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "us",
        "isp",
        F.last("vus", ignorenulls=True).over(w).alias("lvus"),
        F.last("vval", ignorenulls=True).over(w).alias("lvval"),
    )
    fresh = F.col("lvus").isNotNull() & (
        F.col("us") - F.col("lvus") <= tol_us
    )
    return carried.where(F.col("isp") == 1).select(
        "event_id",
        "user_id",
        F.when(fresh, F.expr("(us - lvus) div 1000000")).alias(
            "secs_since_view"
        ),
        F.when(fresh, F.col("lvval")).alias("viewed_milli"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-source reservoir sample
# ---------------------------------------------------------------------------


@query(
    "sample_reservoir_per_source",
    oracle="""
    SELECT source, doc_id, CAST(rn AS BIGINT) AS draw_rank FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 2654435761) % 1000003, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_reservoir_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reservoir-k per stratum, deterministically: 5 documents per
    source, drawn by ranking on a congruential hash of doc_id — the
    replayable stand-in for per-group reservoir sampling (engine RNG
    reservoirs are neither cross-run nor cross-engine stable; a hash
    order IS a uniform random order for sampling purposes and
    re-derives identically on every run/engine — the
    training_epoch_shuffle_plan discipline).

    One hash-partitioned window per source; the hash rank prefix is
    the reservoir.  At 100 TB the same shape holds: the window is
    keyed by stratum, and the output is k·strata rows."""
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761) % 1000003
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", F.col("rn").cast("long").alias("draw_rank"))
    )


# ---------------------------------------------------------------------------
# Fractional-epoch mixture upsampling plan
# ---------------------------------------------------------------------------


@query(
    "mix_epoch_fractional_upsample",
    oracle="""
    WITH target AS (
      SELECT doc_id, source,
             500000 + (ascii(source) % 3) * 900000 AS w_ppm
      FROM documents
    ),
    planned AS (
      SELECT doc_id, source, w_ppm,
             w_ppm // 1000000
             + CASE WHEN (doc_id * 2654435761) % 1000000
                         < w_ppm % 1000000 THEN 1 ELSE 0 END AS copies
      FROM target
    )
    SELECT source,
           CAST(MAX(w_ppm) AS BIGINT) AS target_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(copies) AS BIGINT) AS planned_samples
    FROM planned GROUP BY source
    """,
)
def mix_epoch_fractional_upsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fractional-epoch upsampling plan: a source weighted 2.3 epochs
    contributes every document twice plus a deterministic 30%
    hash-draw third copy — the standard way training mixes realize
    non-integer epoch multipliers without RNG drift (each document's
    extra-copy decision replays identically across runs and engines).
    Weights here derive from the source name (0.5 / 1.4 / 2.3
    epochs); output is the per-source plan audit: target ppm, corpus
    docs, planned samples.  Pure JVM expressions over one corpus
    pass; the realized dataset would be the explode(sequence(1,
    copies)) of the per-row plan, which is why the plan — not the
    explosion — is what gets audited and checkpointed."""
    d = load_table(spark, sf_dir, "documents")
    w_ppm = 500000 + (F.ascii("source") % 3) * 900000
    copies = F.expr(
        "w_ppm div 1000000"
    ) + F.when((F.col("doc_id") * 2654435761) % 1000000 < w_ppm % 1000000, 1).otherwise(0)
    planned = d.select(
        "doc_id", "source", w_ppm.alias("w_ppm")
    ).withColumn("copies", copies)
    return planned.groupBy("source").agg(
        F.max("w_ppm").cast("long").alias("target_ppm"),
        F.count("*").alias("n_docs"),
        F.sum("copies").cast("long").alias("planned_samples"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword extraction
# ---------------------------------------------------------------------------


@query(
    "text_bm25_topk",
    oracle="""
    WITH sub AS (
      SELECT doc_id, lower(text) AS text FROM documents WHERE doc_id < 50
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                    w -> w <> '')) AS tok
      FROM sub
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT t.doc_id, t.tok,
             ROUND(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs / total_len)),
               4) AS bm25
      FROM tf t
      JOIN dl ON dl.doc_id = t.doc_id
      JOIN df ON df.tok = t.tok
      CROSS JOIN stats
    )
    SELECT doc_id, tok, bm25 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY bm25 DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 keywords per document (docs 0..49; k1=1.2, b=0.75)
    — the IR-standard successor to text_tfidf_topk: term saturation
    (tf/(tf+k1·…) caps repeated-word dominance) and document-length
    normalization (long docs stop winning by volume).

    Same one-pass scale shape as TF-IDF, taken further: the corpus is
    scanned and tokenized ONCE into the (doc, token) tf aggregate,
    and everything else derives from tf — df is a count window over
    it, doc length is Σtf by doc, and the two corpus scalars (n_docs,
    total length) fold from the doc-length aggregate and broadcast.
    Ranking uses the ROUNDED score with a token tiebreak, so the
    top-3 set is float-order-proof.  Guarded ``fan_out`` (round-11
    second pass): the single-file sf scan ran the tokenize in ONE
    task; no-op at real scale."""
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    ).select("doc_id", F.lower(F.col("text")).alias("text"))
    toks = d.select("doc_id", F.explode(T.words(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    df_w = Window.partitionBy("tok")
    scored = (
        tf.withColumn("df", F.count("*").over(df_w))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("total_len")
                    )
                ),
                4,
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "bm25")
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      FROM lineitem WHERE l_partkey % 100 = 0
    ),
    edges AS (
      SELECT DISTINCT a.sk AS s1, b.sk AS s2
      FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT s1 AS v FROM edges UNION ALL SELECT s2 AS v FROM edges
      ) GROUP BY v
    ),
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM edges e1
      JOIN edges e2 ON e1.s2 = e2.s1
      JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    tcnt AS (
      SELECT v, COUNT(*) AS t FROM (
        SELECT a AS v FROM tri UNION ALL
        SELECT b AS v FROM tri UNION ALL
        SELECT c AS v FROM tri
      ) GROUP BY v
    )
    SELECT CAST(deg.v AS BIGINT) AS vertex,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
           CAST((2 * COALESCE(tcnt.t, 0) * 1000000)
                // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN tcnt ON tcnt.v = deg.v
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per vertex of the supplier
    co-supply graph: cc(v) = 2·T(v)/(d(v)·(d(v)−1)) — how close each
    supplier's neighborhood is to a clique, the standard
    community-structure signal that completes graph_triangle_count's
    numerator with the wedge denominator.  Exact ppm integers (the
    division is the only non-integer step, done as integer ppm), so
    no float bridge anywhere.

    Scale shape: degrees are one aggregation of the canonical edge
    list; triangles reuse the canonical-orientation two-join
    enumeration (each triangle found once); both join back on vertex
    id — only (vertex, count) pairs shuffle beyond the edge list
    itself."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    edges = (
        ps.alias("a")
        .join(ps.alias("b"), "pk")
        .where(F.col("a.sk") < F.col("b.sk"))
        .select(F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("s1").alias("v"))
        .unionAll(edges.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.s2") == F.col("e2.s1"))
        .join(
            e3,
            (F.col("e3.s1") == F.col("e1.s1"))
            & (F.col("e3.s2") == F.col("e2.s2")),
        )
        .select(
            F.col("e1.s1").alias("a"),
            F.col("e1.s2").alias("b"),
            F.col("e2.s2").alias("c"),
        )
    )
    tcnt = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    joined = deg.join(tcnt, "v", "left").where(F.col("d") >= 2)
    return joined.select(
        F.col("v").alias("vertex"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
        F.expr(
            "(2 * coalesce(t, 0) * 1000000) div (d * (d - 1))"
        ).cast("long").alias("cc_ppm"),
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss of the seasonal-naive forecast
# ---------------------------------------------------------------------------


@query(
    "agg_pinball_loss",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    fc AS (
      SELECT day, y,
             LAG(y, 7) OVER (ORDER BY day) AS yhat
      FROM daily
    ),
    terms AS (
      SELECT y - yhat AS e FROM fc WHERE yhat IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN e >= 0 THEN 9 * e
                           ELSE -1 * e END) AS DOUBLE) / (10 * COUNT(*))
             / 1000.0 AS DECIMAL(24,10)), 4) AS DOUBLE) AS pinball_q90,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN e >= 0 THEN 1 * e
                           ELSE -9 * e END) AS DOUBLE) / (10 * COUNT(*))
             / 1000.0 AS DECIMAL(24,10)), 4) AS DOUBLE) AS pinball_q10
    FROM terms
    """,
)
def agg_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive daily forecast at
    q=0.9 and q=0.1: L_q = mean(max(q·e, (q−1)·e)) with e = y − ŷ —
    the scoring rule for quantile forecasts (asymmetric: q=0.9
    penalizes under-forecasting 9×), the eval sibling of
    ts_snaive_backtest's point-error metrics.  All terms are exact
    integer tenths-of-milli (q expressed as 9/10 and 1/10), reduced
    in one pass over the calendar-bounded daily aggregate; only the
    final mean divides."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    fc = daily.select(
        "y", F.lag("y", 7).over(Window.orderBy("day")).alias("yhat")
    ).where(F.col("yhat").isNotNull())
    err = (F.col("y") - F.col("yhat")).alias("e")
    terms = fc.select(err)
    q90 = F.sum(
        F.when(F.col("e") >= 0, 9 * F.col("e")).otherwise(-1 * F.col("e"))
    )
    q10 = F.sum(
        F.when(F.col("e") >= 0, 1 * F.col("e")).otherwise(-9 * F.col("e"))
    )
    n = F.count("*")
    return terms.agg(
        n.cast("long").alias("n_days"),
        _r(q90.cast("double") / (10 * n) / 1000.0, 4).alias("pinball_q90"),
        _r(q10.cast("double") / (10 * n) / 1000.0, 4).alias("pinball_q10"),
    )


# ---------------------------------------------------------------------------
# Jackknife (delete-one-bucket) variance of the mean
# ---------------------------------------------------------------------------


@query(
    "agg_jackknife_buckets",
    oracle="""
    WITH b AS (
      SELECT (user_id * 2654435761) % 20 AS bucket,
             COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(s) AS ts, COUNT(*) AS k FROM b),
    loo AS (
      SELECT CAST(ts - s AS DOUBLE) / (tn - n) AS m_i, k,
             CAST(ts AS DOUBLE) / tn AS m_all
      FROM b CROSS JOIN tot
    ),
    dev AS (
      SELECT k, m_all, m_i - AVG(m_i) OVER () AS d FROM loo
    )
    SELECT CAST(MAX(k) AS BIGINT) AS n_buckets,
           CAST(ROUND(CAST(MAX(m_all) / 1000.0 AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS mean_value,
           CAST(ROUND(CAST(
             sqrt((MAX(k) - 1.0) / MAX(k) * SUM(d * d)) / 1000.0
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS jackknife_se
    FROM dev
    """,
)
def agg_jackknife_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error of the mean event
    value: users hash into 20 buckets (the randomization unit, like
    agg_permutation_test), each leave-one-bucket-out mean m_i comes
    from the EXACT integer bucket totals, and
    SE² = (k−1)/k · Σ(m_i − m̄)² — the resampling-free variance
    estimator big pipelines use when a closed-form SE is unavailable
    (ratio metrics, post-stratified means), because it needs only
    per-bucket partial sums: one pass, a 20-row summary, zero data
    replication (contrast the 64× fan-out of the Poisson
    bootstrap)."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy(
        ((F.col("user_id") * 2654435761) % 20).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias("s"),
    )
    tot = b.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.count("*").alias("k")
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        ((F.col("ts") - F.col("s")).cast("double") / (F.col("tn") - F.col("n"))).alias("m_i"),
        "k",
        (F.col("ts").cast("double") / F.col("tn")).alias("m_all"),
    )
    w_all = Window.partitionBy()
    dev = F.col("m_i") - F.avg("m_i").over(w_all)
    scored = loo.select("k", "m_all", dev.alias("dev"))
    return scored.agg(
        F.max("k").cast("long").alias("n_buckets"),
        _r(F.max("m_all") / 1000.0, 6).alias("mean_value"),
        _r(
            F.sqrt(
                (F.max("k") - 1.0) / F.max("k") * F.sum(F.col("dev") * F.col("dev"))
            )
            / 1000.0,
            6,
        ).alias("jackknife_se"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation
# ---------------------------------------------------------------------------


@query(
    "embedding_matryoshka_eval",
    oracle="""
    WITH unit AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_sum(list_transform(embedding,
                    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE) /
               sqrt(list_sum(list_transform(embedding[1:16],
                    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS p
      FROM embeddings
    ),
    full_rank AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_sum(list_transform(range(1, 65),
                          i -> q.u[i] * c.u[i])), 4) DESC,
                          c.vec_id) AS rn
        FROM unit q JOIN unit c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
      ) WHERE rn <= 5
    ),
    prefix_rank AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_sum(list_transform(range(1, 17),
                          i -> q.p[i] * c.p[i])), 4) DESC,
                          c.vec_id) AS rn
        FROM unit q JOIN unit c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
      ) WHERE rn <= 5
    )
    SELECT f.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS overlap_at5
    FROM full_rank f
    LEFT JOIN prefix_rank p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for 10 query vectors, how many of
    the exact top-5 cosine neighbors survive when embeddings truncate
    to their first 16 dims (re-normalized)? — the measurement behind
    MRL-style dimension cuts ("can we serve 4× cheaper vectors?"),
    reported as overlap@5 per query.  Both rankings use the
    brute-force broadcast shape (10-query side broadcast, corpus
    streams once per ranking, fused JVM dot products) with ROUNDED
    similarity + neighbor tiebreak so the sets are float-order-proof;
    the overlap join is 50 rows against 50."""
    from guidewire_spark.functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        V.normalize(F.col("embedding")).alias("u"),
        V.normalize(F.expr("slice(embedding, 1, 16)")).alias("p"),
    )

    def top5(vec_col: str, qvec: str) -> DataFrame:
        q = e.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col(vec_col).alias(qvec)
        )
        scored = e.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(V.dot(F.col(qvec), F.col(vec_col)), 4).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("query_id", "neighbor_id")
        )

    full_rank = top5("u", "qu")
    prefix_rank = top5("p", "qp")
    return (
        full_rank.alias("f")
        .join(
            prefix_rank.alias("p"),
            (F.col("f.query_id") == F.col("p.query_id"))
            & (F.col("f.neighbor_id") == F.col("p.neighbor_id")),
            "left",
        )
        .groupBy(F.col("f.query_id").alias("query_id"))
        .agg(F.count(F.col("p.neighbor_id")).alias("overlap_at5"))
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching padding audit
# ---------------------------------------------------------------------------


@query(
    "pack_length_bucketing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> '')) AS tokens
      FROM documents
    ),
    bucketed AS (
      SELECT tokens, tokens // 64 AS bucket FROM toks
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(tokens) AS BIGINT) AS pad_to,
           CAST(SUM(tokens) AS BIGINT) AS real_tokens,
           CAST((COUNT(*) * MAX(tokens) - SUM(tokens)) * 1000000
                // (COUNT(*) * MAX(tokens)) AS BIGINT) AS waste_ppm
    FROM bucketed GROUP BY bucket
    """,
)
def pack_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: documents bucket by token count
    (64-token ranges); per bucket, the padding waste if every doc pads
    to the bucket max — the measurement dynamic-batching loaders make
    before choosing bucket edges (uniform batching wastes
    (max−mean)/max of compute; bucketing bounds it by the bucket
    width).  Complements pack_first_fit_decreasing (which PACKS) with
    the pad-waste ANALYSIS; exact integer ppm, one corpus pass, one
    bucket-cardinality aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.word_count(F.col("text")).alias("tokens"))
    bucketed = toks.withColumn("bucket", F.expr("tokens div 64"))
    return bucketed.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.max("tokens").cast("long").alias("pad_to"),
        F.sum("tokens").cast("long").alias("real_tokens"),
        F.expr(
            "(count(*) * max(tokens) - sum(tokens)) * 1000000"
            " div (count(*) * max(tokens))"
        ).cast("long").alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# t-closeness (privacy triad completion)
# ---------------------------------------------------------------------------


@query(
    "anon_t_closeness",
    oracle="""
    WITH banded AS (
      SELECT s_nationkey,
             CASE WHEN s_acctbal < 0 THEN 0
                  WHEN s_acctbal < 5000 THEN 1 ELSE 2 END AS band
      FROM supplier
    ),
    cls AS (
      SELECT s_nationkey, band, COUNT(*) AS c FROM banded GROUP BY 1, 2
    ),
    n_cls AS (SELECT s_nationkey, SUM(c) AS n FROM cls GROUP BY 1),
    gdist AS (SELECT band, COUNT(*) AS g FROM banded GROUP BY 1),
    big_n AS (SELECT COUNT(*) AS pop_n FROM banded),
    diffs AS (
      SELECT nc.s_nationkey, b.band,
             COALESCE(c.c, 0) * bn.pop_n - g.g * nc.n AS num,
             nc.n, bn.pop_n
      FROM n_cls nc
      CROSS JOIN gdist b
      CROSS JOIN big_n bn
      JOIN gdist g ON g.band = b.band
      LEFT JOIN cls c ON c.s_nationkey = nc.s_nationkey AND c.band = b.band
    ),
    cum AS (
      SELECT s_nationkey, n, pop_n,
             ABS(SUM(num) OVER (PARTITION BY s_nationkey ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a
      FROM diffs
    )
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(MAX(n) AS BIGINT) AS class_size,
           CAST(SUM(a) * 1000000 // (MAX(n) * MAX(pop_n) * 2) AS BIGINT)
             AS t_emd_ppm,
           SUM(a) * 1000000 // (MAX(n) * MAX(pop_n) * 2) > 200000 AS at_risk
    FROM cum GROUP BY s_nationkey
    """,
)
def anon_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the attack l-diversity misses: a class can
    hold l distinct sensitive values yet still leak if its
    DISTRIBUTION skews far from the population's (a class that is 95%
    'neg' reveals plenty even with 3 bands present).  Per
    quasi-identifier class (nation), the ordered-attribute Earth
    Mover's Distance between the class's account-band distribution
    and the global one: EMD = Σ|cumulative(p−q)| / (m−1), computed in
    EXACT integer arithmetic over the common denominator n·N (counts
    cross-multiplied; no float division until the final ppm).
    Classes with t > 0.2 flag.  Completes the k-anonymity /
    l-diversity / t-closeness triad; everything past the one banded
    aggregate is (class × band)-sized."""
    s = load_table(spark, sf_dir, "supplier")
    band = (
        F.when(F.col("s_acctbal") < 0, 0)
        .when(F.col("s_acctbal") < 5000, 1)
        .otherwise(2)
    )
    banded = s.select(
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        band.alias("band"),
    )
    # one pass over the source: every other aggregate (class sizes,
    # global band distribution, population) derives from the
    # (class x band) cell table — materialized once, four consumers
    cls = (
        banded.groupBy("s_nationkey", "band")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_cls = cls.groupBy("s_nationkey").agg(F.sum("c").alias("n"))
    glob = cls.groupBy("band").agg(F.sum("c").alias("g"))
    big_n = cls.agg(F.sum("c").alias("pop_n"))
    diffs = (
        n_cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(big_n))
        .join(cls, ["s_nationkey", "band"], "left")
        .select(
            "s_nationkey",
            "band",
            "n",
            "pop_n",
            (
                F.coalesce("c", F.lit(0)) * F.col("pop_n")
                - F.col("g") * F.col("n")
            ).alias("num"),
        )
    )
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = diffs.select(
        "s_nationkey", "n", "pop_n", F.abs(F.sum("num").over(w)).alias("a")
    )
    t_ppm = F.expr("sum(a) * 1000000 div (max(n) * max(pop_n) * 2)")
    return cum.groupBy("s_nationkey").agg(
        F.max("n").cast("long").alias("class_size"),
        t_ppm.cast("long").alias("t_emd_ppm"),
        (t_ppm > 200000).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# VaR / CVaR of per-user spend
# ---------------------------------------------------------------------------


@query(
    "agg_var_cvar_spend",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS m
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, user_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(ROUND(CAST(
             MAX(CASE WHEN rnk = (95 * n + 99) // 100 THEN m END) / 1000.0
           AS DECIMAL(24,10)), 3) AS DOUBLE) AS var95,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN rnk >= (95 * n + 99) // 100 THEN m END)
                  AS DOUBLE)
             / SUM(CASE WHEN rnk >= (95 * n + 99) // 100 THEN 1 ELSE 0 END)
             / 1000.0
           AS DECIMAL(24,10)), 3) AS DOUBLE) AS cvar95
    FROM ranked
    """,
)
def agg_var_cvar_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of
    per-user purchase spend at the 95th percentile: VaR is the spend
    at rank ⌈0.95·n⌉, CVaR the mean of the tail at-or-above it — the
    risk pair every exposure dashboard reports (CVaR is the coherent
    one; VaR alone ignores tail shape).  The user-cardinality rank is
    TWO-PHASE (twophase.two_phase_ordered — user counts grow with the
    data), spend stays exact int64 milli until the final division."""
    from guidewire_spark.operators.twophase import two_phase_ordered

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    spend = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias("m")
    )
    ranked = two_phase_ordered(
        spend, [F.asc("m"), F.asc("user_id")], rank_name="rnk", total_name="n"
    )
    k = F.expr("(95 * n + 99) div 100")
    tail = F.col("rnk") >= k
    return ranked.agg(
        F.max("n").cast("long").alias("n_users"),
        _r(F.max(F.when(F.col("rnk") == k, F.col("m"))) / 1000.0, 3).alias(
            "var95"
        ),
        _r(
            F.sum(F.when(tail, F.col("m"))).cast("double")
            / F.sum(F.when(tail, 1).otherwise(0))
            / 1000.0,
            3,
        ).alias("cvar95"),
    )


# ---------------------------------------------------------------------------
# Ordered event-pair sequence support
# ---------------------------------------------------------------------------


@query(
    "ts_sequence_pair_support",
    oracle="""
    WITH spans AS (
      SELECT user_id, event_type,
             MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
      FROM events GROUP BY user_id, event_type
    ),
    total AS (SELECT COUNT(DISTINCT user_id) AS tu FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_users
      FROM spans a JOIN spans b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
       AND a.lo < b.hi
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 1000000 // tu AS BIGINT) AS support_ppm
    FROM pairs CROSS JOIN total
    """,
)
def ts_sequence_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support for ordered event-type pairs: the
    fraction of users with SOME occurrence of A strictly before some
    occurrence of B (min_ts(A) < max_ts(B), A ≠ B) — the 2-item
    PrefixSpan support table behind "do users view before they
    purchase?" questions, the existence form ts_markov_transitions'
    adjacent-transition counts can't answer.

    Scale shape: one (user, type) aggregate collapses events to ≤
    |types| span rows per user; the pair expansion self-joins that
    tiny table ON user_id — co-partitioned, ≤ |types|² rows per user
    — and reduces straight to the |types|²-sized support table."""
    e = load_table(spark, sf_dir, "events")
    # spans covers every (user, type); the distinct-user total derives
    # from it — one corpus scan total (materialized once for the
    # self-join's two sides + the total)
    spans = e.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).localCheckpoint(eager=True)
    total = spans.agg(F.count_distinct("user_id").alias("tu"))
    a, b = spans.alias("a"), spans.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.lo") < F.col("b.hi")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_users"))
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_users",
        F.expr("n_users * 1000000 div tu").cast("long").alias("support_ppm"),
    )


# ---------------------------------------------------------------------------
# DataFrameStatFunctions surface: crosstab / freqItems / sampleBy
# ---------------------------------------------------------------------------


@query(
    "stat_crosstab",
    oracle="""
    SELECT event_type AS event_type_cohort,
           CAST(SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS "0",
           CAST(SUM(CASE WHEN user_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS "1",
           CAST(SUM(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS "2"
    FROM events GROUP BY event_type
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — the DataFrameStatFunctions contingency
    table (pairwise frequency of two categorical columns, one row per
    left value, one column per right value).  Same physical shape as
    a pivot: one hash aggregate on the pair, then the bounded-domain
    column expansion; the API exists because contingency tables are
    the chi-square/Cramér's-V input.  Cohort = user_id % 3 keeps the
    column set fixed so the schema is stable for the oracle."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 3).cast("string").alias("cohort")
    )
    ct = e.stat.crosstab("event_type", "cohort")
    return ct.select(
        "event_type_cohort",
        F.col("0").cast("long").alias("0"),
        F.col("1").cast("long").alias("1"),
        F.col("2").cast("long").alias("2"),
    )


@query(
    "stat_freq_items",
    oracle="""
    SELECT event_type AS frequent_event_type,
           CAST(COUNT(*) AS BIGINT) AS freq,
           TRUE AS found_in_sketch
    FROM events GROUP BY event_type
    HAVING COUNT(*) >= 0.15 * (SELECT COUNT(*) FROM events)
    ORDER BY frequent_event_type
    """,
)
def stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.freqItems`` — Spark's single-pass frequent-items
    sketch (the Karp-Shenker-Papadimitriou counter algorithm, the same
    family as agg_heavy_hitters_spacesaving but built in): items with
    frequency ≥ support are GUARANTEED present; false positives are
    allowed by contract.  Bound-check oracle (round 9, the heavy-
    hitters trick): the QUERY outputs the exact-defined truly-frequent
    set (freq ≥ support·n from an exact count — deterministic) with a
    boolean asserting each member surfaced in the sketch, and the SQL
    oracle recomputes the exact set asserting TRUE.  The sketch's
    layout-dependent false positives never enter the result."""
    support = 0.15
    e = load_table(spark, sf_dir, "events").select("event_type")
    fi = e.stat.freqItems(["event_type"], support=support)
    sketch = fi.select(
        F.explode("event_type_freqItems").alias("frequent_event_type")
    ).withColumn("in_sketch", F.lit(True))
    exact = e.groupBy(F.col("event_type").alias("frequent_event_type")).agg(
        F.count("*").alias("freq")
    )
    total = e.agg(F.count("*").cast("double").alias("n"))
    truly_frequent = exact.crossJoin(F.broadcast(total)).where(
        F.col("freq") >= F.lit(support) * F.col("n")
    )
    return (
        truly_frequent.join(F.broadcast(sketch), "frequent_event_type", "left")
        .select(
            "frequent_event_type",
            "freq",
            F.coalesce("in_sketch", F.lit(False)).alias("found_in_sketch"),
        )
        .orderBy("frequent_event_type")
    )


@query(
    "stat_sample_by",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS size_in_bounds
    FROM events
    WHERE event_type IN ('purchase', 'view', 'click')
    GROUP BY event_type
    """,
)
def stat_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.sampleBy`` — stratified sampling with per-stratum
    fractions (purchase rows kept at 80%, views at 5%, clicks at
    20%, everything else dropped): the class-rebalancing primitive
    behind training-mix downsampling when the deterministic-hash
    plans (mix_rebalance_sample) aren't required.  The draw is a
    seeded per-row Bernoulli — reproducible within Spark (seed 7)
    but not across engines, so the check is a BOUND-CHECK oracle
    (round 9): the QUERY emits, per stratum, the exact population
    total and a boolean asserting the realized sample size sits
    within 6 binomial sigmas (+10 rows small-N slack) of
    frac·n_total; the oracle asserts TRUE.  A fraction mix-up,
    stratum leak, or double-draw moves the count far outside.
    pytest additionally gates stratum exclusivity and same-seed
    determinism."""
    fracs = {"purchase": 0.8, "view": 0.05, "click": 0.2}
    e = load_table(spark, sf_dir, "events").select("event_type")
    strata = e.where(F.col("event_type").isin(*fracs)).groupBy(
        "event_type"
    ).agg(F.count("*").alias("n_total"))
    sampled_counts = (
        e.stat.sampleBy("event_type", fracs, seed=7)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )
    frac_col = F.element_at(
        F.create_map(
            *[x for k, v in fracs.items() for x in (F.lit(k), F.lit(v))]
        ),
        F.col("event_type"),
    )
    joined = strata.join(sampled_counts, "event_type", "left").select(
        "event_type",
        "n_total",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        frac_col.alias("frac"),
    )
    slack = (
        F.lit(6.0)
        * F.sqrt(F.col("n_total") * F.col("frac") * (1 - F.col("frac")))
        + F.lit(10.0)
    )
    return joined.select(
        "event_type",
        "n_total",
        (
            F.abs(F.col("n_sampled") - F.col("frac") * F.col("n_total"))
            <= slack
        ).alias("size_in_bounds"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------


@query(
    "feature_hashing_counts",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    w -> w <> '')) AS w
      FROM documents WHERE doc_id < 100
    ),
    hashed AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, length(w) + 1),
                   i -> CAST(ascii(w[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) % 64 AS bucket
      FROM toks
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: each word maps to one of 64 feature buckets
    through an explicit polynomial character hash
    (acc·31 + ascii, seed 7, mod 2³¹−1) and the document becomes the
    sparse (bucket → count) vector — the unbounded-vocabulary
    featurizer (no dictionary to build, broadcast, or keep in sync;
    collisions are the accepted trade).  The hash is spelled out
    character-by-character IN BOTH ENGINES rather than borrowing an
    engine hash, so the feature space is portable and the oracle is
    exact.  One corpus pass (tokenize → JVM hash fold → count);
    output is (docs × occupied buckets), never vocabulary-sized."""
    # round-12: r11's fan_out REMOVED — interleaved A/B (sf0.1 and the
    # 10x fixture) measured the round-robin exchange of raw text
    # costing 1.3-2x the row-local projection it parallelizes; this is
    # a cheap per-row pass, so scan parallelism already suffices at
    # every scale (ADVICE r11).
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = d.select(
        "doc_id",
        F.explode(T.words(F.lower(F.col("text")))).alias("w"),
    )
    hashed = toks.select(
        "doc_id",
        (
            F.expr(
                "aggregate(transform(sequence(1, length(w)),"
                " i -> CAST(ascii(substring(w, i, 1)) AS BIGINT)),"
                " CAST(7 AS BIGINT),"
                " (acc, c) -> (acc * 31 + c) % 2147483647)"
            )
            % 64
        ).alias("bucket"),
    )
    return hashed.groupBy("doc_id", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (SPRT)
# ---------------------------------------------------------------------------


@query(
    "agg_sprt_conversion",
    oracle="""
    WITH counts AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
      FROM events WHERE user_id % 2 = 1
    )
    SELECT CAST(n AS BIGINT) AS n_events, CAST(k AS BIGINT) AS n_conversions,
           CAST(ROUND(CAST(
             k * ln(0.22 / 0.18) + (n - k) * ln(0.78 / 0.82)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS llr,
           CASE
             WHEN k * ln(0.22 / 0.18) + (n - k) * ln(0.78 / 0.82)
                  >= ln(0.95 / 0.05) THEN 'accept_h1'
             WHEN k * ln(0.22 / 0.18) + (n - k) * ln(0.78 / 0.82)
                  <= ln(0.05 / 0.95) THEN 'accept_h0'
             ELSE 'continue'
           END AS decision
    FROM counts
    """,
)
def agg_sprt_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the treatment
    cohort's conversion rate (H0: p = 0.18 vs H1: p = 0.22, α = β =
    0.05): LLR = k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)) against the
    ln((1−β)/α) decision thresholds — the always-valid sequential
    test that lets an experiment STOP at any peek without inflating
    error rates (the fixed-horizon tests agg_ab_welch_t /
    agg_two_proportion_z must pre-commit their n).  The LLR is two
    exact integer counts times log-CONSTANTS, so engine parity is
    trivially exact at 6 dp; evaluation is one partial-aggregated
    pass."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 2 == 1)
    import math

    la = math.log(0.22 / 0.18)
    lb = math.log(0.78 / 0.82)
    hi = math.log(0.95 / 0.05)
    lo = math.log(0.05 / 0.95)
    counts = e.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    )
    llr = F.col("k") * la + (F.col("n") - F.col("k")) * lb
    return counts.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_conversions"),
        _r(llr, 6).alias("llr"),
        F.when(llr >= hi, "accept_h1")
        .when(llr <= lo, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Graph modularity of the nation partition
# ---------------------------------------------------------------------------


@query(
    "graph_modularity_nations",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      FROM lineitem WHERE l_partkey % 100 = 0
    ),
    edges AS (
      SELECT DISTINCT a.sk AS s1, b.sk AS s2
      FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
    ),
    comm AS (SELECT s_suppkey AS sk, s_nationkey AS c FROM supplier),
    labeled AS (
      SELECT e.s1, e.s2, c1.c AS ca, c2.c AS cb
      FROM edges e JOIN comm c1 ON c1.sk = e.s1
                   JOIN comm c2 ON c2.sk = e.s2
    ),
    m AS (SELECT COUNT(*) AS m FROM edges),
    deg AS (
      SELECT c, SUM(d) AS dc FROM (
        SELECT c1.c AS c, COUNT(*) AS d FROM edges e
        JOIN comm c1 ON c1.sk = e.s1 GROUP BY c1.c
        UNION ALL
        SELECT c2.c AS c, COUNT(*) AS d FROM edges e
        JOIN comm c2 ON c2.sk = e.s2 GROUP BY c2.c
      ) GROUP BY c
    ),
    intra AS (
      SELECT ca AS c, COUNT(*) AS e_in FROM labeled WHERE ca = cb GROUP BY ca
    )
    SELECT CAST(MAX(m.m) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(
             COALESCE(i.e_in, 0) * 4 * m.m - d.dc * d.dc
           ) * 1000000 // (4 * MAX(m.m) * MAX(m.m)) AS BIGINT)
             AS modularity_ppm
    FROM deg d CROSS JOIN m LEFT JOIN intra i ON i.c = d.c
    """,
)
def graph_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the supplier
    co-supply graph: Q = Σ_c [e_c/m − (d_c/2m)²] — does same-nation
    supply structure form real communities, or is the nation label
    orthogonal to the topology?  (Q ≈ 0 → no better than random;
    this is the objective Louvain/Leiden optimize, evaluated here for
    a GIVEN labeling.)  Computed as one integer expression over the
    common denominator 4m²: Σ(4m·e_c − d_c²)·10⁶ ÷ 4m² — exact ppm,
    no float anywhere.  Scale shape: the canonical edge list joins
    the (supplier → nation) dim twice (broadcast-sized), then two
    community-cardinality aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("sk"),
        F.col("s_nationkey").cast("long").alias("c"),
    )
    ps = (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    edges = (
        ps.alias("a")
        .join(ps.alias("b"), "pk")
        .where(F.col("a.sk") < F.col("b.sk"))
        .select(F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    c1 = sup.select(F.col("sk").alias("s1"), F.col("c").alias("ca"))
    c2 = sup.select(F.col("sk").alias("s2"), F.col("c").alias("cb"))
    labeled = edges.join(F.broadcast(c1), "s1").join(F.broadcast(c2), "s2")
    m = edges.count()
    deg = (
        labeled.select(F.col("ca").alias("c"))
        .unionAll(labeled.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("dc"))
    )
    intra = (
        labeled.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").alias("e_in"))
    )
    per_c = deg.join(intra, "c", "left").select(
        "c",
        "dc",
        F.coalesce("e_in", F.lit(0)).alias("e_in"),
    )
    return per_c.agg(
        F.lit(m).cast("long").alias("n_edges"),
        F.count("*").alias("n_communities"),
        F.expr(
            f"sum(e_in * 4 * CAST({m} AS BIGINT) - dc * dc) * 1000000"
            f" div (4 * CAST({m} AS BIGINT) * CAST({m} AS BIGINT))"
        ).cast("long").alias("modularity_ppm"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal
# ---------------------------------------------------------------------------


@query(
    "text_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
           TRUE AS roundtrip_ok, TRUE AS size_bound_ok
    FROM documents
    """,
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate compression per document (zlib level 6) — the
    corpus-quality signal C4/Gopher-class filters use alongside the
    rule-based ones: highly compressible text is repetitive
    boilerplate, incompressible text is often binary junk or
    high-entropy noise; natural prose sits in a recognizable band.

    The compressed SIZE is deterministic for a given zlib build but
    implementation-defined across libraries — bound-check oracle
    (round 9): the QUERY emits the exact UTF-8 byte length per doc
    beside two booleans computed from the real compressor output —
    decompress(compress(text)) round-trips byte-identically, and the
    compressed size respects zlib's published worst-case expansion
    bound (raw + raw/1000 + 12) — and the SQL oracle recomputes the
    byte length asserting TRUE.  The band flags stay pytest-gated
    (repetitive ≪ prose ordering).  Scale shape: Arrow-batched
    mapInPandas, compression runs where the text already lives, and
    only (doc_id, ints, bools) ever shuffles."""
    import pandas as pd

    def ratios(batches):
        import zlib

        for pdf in batches:
            raw, comp, rt = [], [], []
            for text in pdf["text"]:
                b = text.encode("utf-8")
                z = zlib.compress(b, 6)
                raw.append(len(b))
                comp.append(len(z))
                rt.append(zlib.decompress(z) == b)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": pd.Series(raw, dtype="int64"),
                    "compressed_bytes": pd.Series(comp, dtype="int64"),
                    "roundtrip_ok": pd.Series(rt, dtype="bool"),
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(d)
    r = d.mapInPandas(
        ratios,
        "doc_id long, raw_bytes long, compressed_bytes long, roundtrip_ok boolean",
    )
    return r.select(
        "doc_id",
        "raw_bytes",
        "roundtrip_ok",
        (
            F.col("compressed_bytes")
            <= F.col("raw_bytes") + F.col("raw_bytes") / 1000 + 12
        ).alias("size_bound_ok"),
    )


# ---------------------------------------------------------------------------
# histogram_numeric (Spark's adaptive histogram aggregate)
# ---------------------------------------------------------------------------


@query(
    "agg_histogram_numeric",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(12 AS BIGINT) AS n_bins,
           TRUE AS total_mass_ok, TRUE AS range_ok, TRUE AS sorted_ok
    FROM events
    """,
)
def agg_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_numeric(value, 12)`` — Spark's adaptive-bin
    histogram aggregate (streaming centroid merge, the NumericHistogram
    of Hive lineage): 12 (centroid, count) pairs whose bin EDGES adapt
    to the data instead of the fixed-width width_bucket grid
    (agg_histogram_width_bucket is the exact-oracle sibling).  Bin
    placement depends on partial-aggregate merge order, but the
    histogram CONTRACT does not — bound-check oracle (round 9): the
    QUERY emits the invariants as booleans (bin masses sum to the
    exact row count, every centroid inside [min, max], centroids
    strictly increasing, exactly 12 bins on >12 distinct values) and
    the SQL oracle asserts them TRUE beside the exact count.  One
    partial-aggregated pass; the sketch is constant-size per
    partition."""
    e = load_table(spark, sf_dir, "events")
    h = e.agg(
        F.expr("histogram_numeric(value, 12)").alias("bins"),
        F.count("*").alias("n_rows"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return h.select(
        "n_rows",
        F.size("bins").cast("long").alias("n_bins"),
        (
            F.round(
                F.aggregate("bins", F.lit(0.0), lambda acc, b: acc + b["y"]),
                0,
            ).cast("long")
            == F.col("n_rows")
        ).alias("total_mass_ok"),
        F.forall(
            "bins",
            lambda b: (b["x"] >= F.col("vmin")) & (b["x"] <= F.col("vmax")),
        ).alias("range_ok"),
        F.aggregate(
            F.zip_with(
                F.slice("bins", 1, 11),
                F.slice("bins", 2, 11),
                lambda a, b: a["x"] < b["x"],
            ),
            F.lit(True),
            lambda acc, ok: acc & ok,
        ).alias("sorted_ok"),
    )


# ---------------------------------------------------------------------------
# Schema drift audit between Delta versions
# ---------------------------------------------------------------------------


@query(
    "delta_schema_drift_audit",
    oracle="""
    SELECT * FROM (VALUES
      ('n_nationkey', 'kept'),
      ('n_name', 'kept'),
      ('region_bucket', 'added')
    ) AS t(column_name, change)
    """,
)
def delta_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift between two Delta versions: build a table, evolve
    it additively (merge_schema append with a new column), then diff
    the VERSION 0 schema against the latest via time travel — the
    audit a consumer pipeline runs before each sync to catch upstream
    drift (the metadata sibling of delta_version_diff's data-level
    reconciliation).  Pure log replay on both sides: no data files
    open; output is schema-cardinality rows."""

    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_drift_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, table, mode="append")
    evolved = n.limit(5).withColumn(
        "region_bucket", (F.col("n_nationkey") % 5).cast("long")
    )
    write_delta(evolved, table, mode="append", merge_schema=True)

    old = [f.name for f in load_snapshot(table, version=0).schema.fields]
    new = [f.name for f in load_snapshot(table).schema.fields]
    rows = [(c, "kept" if c in new else "removed") for c in old]
    rows += [(c, "added") for c in new if c not in old]
    return spark.createDataFrame(rows, "column_name string, change string")


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand
# ---------------------------------------------------------------------------


@query(
    "ts_croston_intermittent",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS y
      FROM events
      WHERE event_type = 'purchase' AND user_id % 37 = 0
      GROUP BY 1
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
    cal AS (
      SELECT CAST(lo + INTERVAL (t.i) DAY AS DATE) AS day,
             CAST(t.i + 1 AS BIGINT) AS rn
      FROM bounds, UNNEST(range(0, datediff('day', lo, hi) + 1)) t(i)
    ),
    seq AS (
      SELECT rn, CAST(COALESCE(d.y, 0) AS DOUBLE) AS y
      FROM cal LEFT JOIN d USING (day)
    ),
    first_hit AS (SELECT MIN(rn) AS f FROM seq WHERE y > 0),
    rec AS (
      SELECT s.rn AS i, s.y AS z, CAST(f.f AS DOUBLE) AS p,
             CAST(1.0 AS DOUBLE) AS q
             -- bare 1.0 types as DECIMAL(2,1) in DuckDB and the
             -- recursive q+1.0 counter overflows it once a demand
             -- gap reaches 10 days (seen at sf0.001)
      FROM seq s JOIN first_hit f ON s.rn = f.f
      UNION ALL
      SELECT s.rn,
             CASE WHEN s.y > 0 THEN 0.5 * s.y + 0.5 * r.z ELSE r.z END,
             CASE WHEN s.y > 0 THEN 0.5 * r.q + 0.5 * r.p ELSE r.p END,
             CASE WHEN s.y > 0 THEN 1.0 ELSE r.q + 1.0 END
      FROM rec r JOIN seq s ON s.rn = r.i + 1
    )
    SELECT CAST((SELECT MAX(rn) FROM seq) AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM seq WHERE y > 0) AS BIGINT)
             AS n_demand_days,
           CAST(ROUND(CAST(z AS DECIMAL(24,10)), 4) AS DOUBLE) AS level,
           CAST(ROUND(CAST(p AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS mean_interval,
           CAST(ROUND(CAST(z / p AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS demand_rate
    FROM rec WHERE i = (SELECT MAX(rn) FROM seq)
    """,
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (α=1/2): separate SES
    folds for the nonzero-demand LEVEL and the inter-demand INTERVAL,
    forecast = level/interval — the canonical sparse-series model the
    dense smoothers (Holt, SES) systematically bias on (they decay
    toward zero through every empty period; Croston only updates when
    demand occurs).  Series: daily purchase counts of a rare user
    slice, CALENDAR-FILLED so empty days count into the intervals.

    The fold runs AFTER the one distributed daily aggregate, on the
    calendar-bounded array (the ts_holt_winters_seasonal discipline);
    dyadic α keeps both engines on the same IEEE sequence, and the
    recursive-CTE oracle replays the identical recurrence."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 37 == 0)
    )
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("y"))
    arr = (
        daily.agg(
            F.min("day").alias("lo"),
            F.max("day").alias("hi"),
            F.sort_array(F.collect_list(F.struct("day", "y"))).alias("obs"),
        )
        .select(
            F.expr(
                """
                transform(sequence(lo, hi, interval 1 day),
                  d -> CAST(coalesce(
                    get(filter(obs, o -> o.day = d), 0).y, 0) AS DOUBLE))
                """
            ).alias("ys")
        )
    )
    folded = arr.select(
        F.size("ys").alias("n_days"),
        F.expr("size(filter(ys, y -> y > 0D))").alias("n_demand_days"),
        F.expr(
            """
            aggregate(
              slice(ys, array_position(transform(ys, y -> y > 0D), true) + 1,
                    size(ys)),
              named_struct(
                'z', ys[array_position(transform(ys, y -> y > 0D), true) - 1],
                'p', CAST(array_position(transform(ys, y -> y > 0D), true)
                          AS DOUBLE),
                'q', 1.0D),
              (acc, y) -> named_struct(
                'z', CASE WHEN y > 0D THEN 0.5D * y + 0.5D * acc.z
                          ELSE acc.z END,
                'p', CASE WHEN y > 0D THEN 0.5D * acc.q + 0.5D * acc.p
                          ELSE acc.p END,
                'q', CASE WHEN y > 0D THEN 1.0D ELSE acc.q + 1.0D END)
            )
            """
        ).alias("h"),
    )
    return folded.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_demand_days").cast("long").alias("n_demand_days"),
        _r(F.col("h.z"), 4).alias("level"),
        _r(F.col("h.p"), 4).alias("mean_interval"),
        _r(F.col("h.z") / F.col("h.p"), 4).alias("demand_rate"),
    )


# ---------------------------------------------------------------------------
# Spark-4 SQL ergonomics: lateral column aliases + ORDER BY ALL
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_column_alias",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2)
                AS DOUBLE) AS taxed,
           CAST(ROUND(CAST(
             ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2) * 0.1
           AS DECIMAL(18,4)), 2) AS DOUBLE) AS fee,
           CAST(ROUND(CAST(
             ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2)
             + ROUND(CAST(
                 ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2) * 0.1
               AS DECIMAL(18,4)), 2)
           AS DECIMAL(18,4)), 2) AS DOUBLE) AS total_due
    FROM orders WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT item referencing
    an alias defined EARLIER IN THE SAME SELECT (`taxed` feeding
    `fee` feeding `total_due`) — the ergonomics that kill the
    nested-subquery boilerplate every derived-metric chain used to
    need.  Catalyst inlines the chain into one projection (no extra
    plan nodes); the oracle spells the expansion out explicitly,
    proving the inlining semantics."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2)
                    AS DOUBLE) AS taxed,
               CAST(ROUND(CAST(taxed * 0.1 AS DECIMAL(18,4)), 2)
                    AS DOUBLE) AS fee,
               CAST(ROUND(CAST(taxed + fee AS DECIMAL(18,4)), 2)
                    AS DOUBLE) AS total_due
        FROM orders WHERE o_orderkey % 100 = 0
        ORDER BY o_orderkey
        """
    )


@query(
    "sql_order_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL (the DuckDB-born shorthand, in
    Spark 4): group by every non-aggregate select item, order by the
    full select list left-to-right — the exploratory-SQL ergonomics
    that make ad-hoc rollups one-liners.  DuckDB pioneered the
    syntax, so the oracle runs IDENTICAL text — a literal dialect
    -compatibility check."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "window_session_function_batch",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us
      FROM events WHERE user_id % 25 = 0
    ),
    flagged AS (
      -- > gap, NOT >= gap: an event at EXACTLY last+gap still MERGES
      -- into the session (Spark merges when new start <= current
      -- session end; pinned by
      -- test_session_window_exact_gap_boundary_merges)
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER w > CAST(1200000000 AS BIGINT)
                  OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(us) + CAST(1200000000 AS BIGINT) AS BIGINT)
             AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def window_session_function_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``session_window()`` as a BATCH aggregation (20-minute gap):
    the same session-assignment function the streaming jobs use,
    applied to a static frame — proving batch/stream session
    semantics are one function, not two implementations.  Spark's
    session window end is last-event + gap (the window stays open a
    full gap past the last event); the oracle derives identical
    sessions from the classic lag-gap-cumsum form and adds the gap to
    the close, pinning that convention."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    sess = e.groupBy(
        "user_id", F.session_window("ts", "20 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return sess.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# XML ingestion functions (Spark 4 from_xml)
# ---------------------------------------------------------------------------


@query(
    "func_xml_family",
    oracle="""
    WITH x AS (
      SELECT n_nationkey,
             '<nation><key>' || n_nationkey || '</key><name>' || n_name
             || '</name><region>' || n_regionkey || '</region></nation>'
               AS doc
      FROM nation
    )
    SELECT n_nationkey,
           CAST(regexp_extract(doc, '<key>(\\d+)</key>', 1) AS BIGINT)
             AS parsed_key,
           regexp_extract(doc, '<name>([^<]*)</name>', 1) AS parsed_name,
           CAST(regexp_extract(doc, '<region>(\\d+)</region>', 1) AS BIGINT)
             AS parsed_region,
           length(doc) AS doc_len
    FROM x
    """,
)
def func_xml_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (Spark 4 native ``from_xml``): build an XML
    document per nation row, then parse it back through the typed
    schema — the ingestion path for the XML feeds that still dominate
    insurance/finance B2B interchange (the reference's Guidewire
    domain ships XML exports).  The oracle re-extracts the same
    fields with regexes, proving the parser against a
    parser-independent reading.  ``from_xml`` evaluates JVM-side in
    the projection — no Python, no extra pass."""
    from guidewire_spark.plans.catalog import register_views

    n = load_table(spark, sf_dir, "nation")
    x = n.select(
        "n_nationkey",
        F.concat(
            F.lit("<nation><key>"),
            F.col("n_nationkey"),
            F.lit("</key><name>"),
            F.col("n_name"),
            F.lit("</name><region>"),
            F.col("n_regionkey"),
            F.lit("</region></nation>"),
        ).alias("doc"),
    )
    parsed = x.select(
        "n_nationkey",
        F.from_xml(
            "doc", "key BIGINT, name STRING, region BIGINT"
        ).alias("p"),
        F.length("doc").cast("long").alias("doc_len"),
    )
    return parsed.select(
        "n_nationkey",
        F.col("p.key").alias("parsed_key"),
        F.col("p.name").alias("parsed_name"),
        F.col("p.region").alias("parsed_region"),
        "doc_len",
    )


# ---------------------------------------------------------------------------
# Forward as-of join (completes the backward / nearest / tolerance set)
# ---------------------------------------------------------------------------


@query(
    "join_asof_forward",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      FROM events
      WHERE user_id % 6 = 0 AND event_type IN ('view', 'purchase')
    ),
    ded AS (
      SELECT event_id, user_id, event_type, us FROM (
        SELECT *,
               MAX(CASE WHEN event_type = 'purchase' THEN event_id END)
                 OVER (PARTITION BY user_id, us) AS max_p_id
        FROM e
      )
      WHERE event_type = 'view' OR event_id = max_p_id
    ),
    tagged AS (
      SELECT event_id, user_id, us,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp,
             CASE WHEN event_type = 'purchase' THEN us END AS pus,
             CASE WHEN event_type = 'purchase' THEN event_id END AS pid
      FROM ded
    ),
    carried AS (
      SELECT *,
             first_value(pus IGNORE NULLS) OVER w AS npus,
             first_value(pid IGNORE NULLS) OVER w AS npid
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY us, isp
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           npid AS next_purchase_id,
           CASE WHEN npus IS NOT NULL THEN (npus - us) // 1000000 END
             AS secs_to_purchase
    FROM carried WHERE isp = 0
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'):
    each view matches the EARLIEST same-user purchase at-or-after it —
    the time-to-conversion primitive (backward as-of answers "what
    did they last see"; forward answers "how long until they buy").
    Completes the as-of matrix: backward (join_asof_by_key), nearest
    (join_asof_nearest), tolerance (join_asof_tolerance), forward.

    Mirror of the backward shape: union-tag the streams, ONE
    user-partitioned window — a ``first(... ignorenulls)`` over the
    CURRENT-ROW-TO-FOLLOWING frame carries the next purchase
    backwards; purchases sort AFTER views at equal microseconds
    (view isp=0, purchase isp=1, ORDER BY us, isp) so a same-instant
    purchase lands inside the view's forward frame — the at-or-after
    bound is inclusive, matching pandas merge_asof(direction=
    'forward', allow_exact_matches=True).  Same-instant duplicate
    purchases pre-deduplicate to the max event_id on the same
    exchange."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("user_id") % 6 == 0)
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "event_id", "user_id", "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    is_p = F.col("event_type") == "purchase"
    peers = Window.partitionBy("user_id").orderBy("us").rangeBetween(0, 0)
    ded = (
        e.withColumn(
            "max_p_id", F.max(F.when(is_p, F.col("event_id"))).over(peers)
        )
        .where(~is_p | (F.col("event_id") == F.col("max_p_id")))
        .drop("max_p_id")
    )
    tagged = ded.select(
        "event_id",
        "user_id",
        "us",
        F.when(is_p, 1).otherwise(0).alias("isp"),
        F.when(is_p, F.col("us")).alias("pus"),
        F.when(is_p, F.col("event_id")).alias("pid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "isp")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "us",
        "isp",
        F.first("pus", ignorenulls=True).over(w).alias("npus"),
        F.first("pid", ignorenulls=True).over(w).alias("npid"),
    )
    return carried.where(F.col("isp") == 0).select(
        "event_id",
        "user_id",
        F.col("npid").alias("next_purchase_id"),
        F.when(
            F.col("npus").isNotNull(),
            F.expr("(npus - us) div 1000000"),
        ).alias("secs_to_purchase"),
    )


# ---------------------------------------------------------------------------
# EXECUTE IMMEDIATE (dynamic SQL)
# ---------------------------------------------------------------------------


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): a query held in a
    string variable runs with named parameter binding (USING clause) —
    the safe dynamic-SQL surface for metadata-driven pipelines that
    assemble statements at runtime (table audits, generated quality
    checks), with parameters bound as literals, never spliced.
    Completes the scripting surface next to sql_parameterized_query
    (API-level args) and sql_scripting_threshold_search
    (BEGIN/WHILE)."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n
           FROM orders WHERE o_totalprice > :lim
           GROUP BY o_orderpriority'
          USING 200000 AS lim
        """
    )


# ---------------------------------------------------------------------------
# Time-window funnel (windowFunnel semantics)
# ---------------------------------------------------------------------------


@query(
    "ts_window_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    t1 AS (
      SELECT user_id, MIN(us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.us) AS t2
      FROM e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.us > t1.t1
        AND e.us <= t1.t1 + CAST(259200000000 AS BIGINT)
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.us) AS t3
      FROM e JOIN t1 ON t1.user_id = e.user_id
      JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.us > t2.t2
        AND e.us <= t1.t1 + CAST(259200000000 AS BIGINT)
      GROUP BY e.user_id
    ),
    depth AS (
      SELECT t1.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS depth
      FROM t1
      LEFT JOIN t2 ON t2.user_id = t1.user_id
      LEFT JOIN t3 ON t3.user_id = t1.user_id
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM depth GROUP BY depth
    """,
)
def ts_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WINDOW funnel (the windowFunnel contract): the whole
    view → click → purchase chain must complete within 3 DAYS of the
    anchoring first view — stages reached later don't count, which is
    what separates a campaign's conversion window from the unbounded
    lifetime funnel (ts_funnel_view_click_purchase).  First-occurrence
    chain semantics: t₁ = first view, t₂ = first click after t₁
    within the window, t₃ = first purchase after t₂ within the same
    t₁-anchored window; depth histogram out.

    Same scale shape as the unbounded funnel: one min-aggregate per
    stage with the stage predicate pushed into the scan, joined on
    user_id — per-user-sized frames after the first aggregate, no
    window over the event stream, no per-user collect."""
    W = 259_200_000_000  # 3 days in microseconds
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + W))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t1, "user_id")
        .join(t2, "user_id")
        .where((F.col("us") > F.col("t2")) & (F.col("us") <= F.col("t1") + W))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    depth = (
        t1.join(t2.select("user_id", F.lit(True).alias("has2")), "user_id", "left")
        .join(t3.select("user_id", F.lit(True).alias("has3")), "user_id", "left")
        .select(
            F.when(F.col("has3"), 3)
            .when(F.col("has2"), 2)
            .otherwise(1)
            .alias("depth")
        )
    )
    return depth.groupBy(F.col("depth").cast("long").alias("depth")).agg(
        F.count("*").alias("n_users")
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCEPT (cols)`` (Spark 4 star-except projection):
    project everything but the named columns — the wide-table
    ergonomic that saves spelling out 200-minus-2 column names when
    dropping payloads/PII before export.  The EXCEPT list resolves at
    analysis time, so column pruning still reaches the scan (the
    excluded column never loads)."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT * EXCEPT (n_regionkey) FROM nation"
    )


# ---------------------------------------------------------------------------
# Dataset card per source
# ---------------------------------------------------------------------------


@query(
    "mix_dataset_card",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, lang, n_chars,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w <> '')) AS tokens,
             md5(text) AS digest
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique_texts,
           CAST((COUNT(*) - COUNT(DISTINCT digest)) * 1000000 // COUNT(*)
                AS BIGINT) AS dup_ppm,
           CAST(SUM(n_chars) // SUM(tokens) AS BIGINT)
             AS mean_chars_per_token,
           CAST(MIN(tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(tokens) AS BIGINT) AS max_tokens
    FROM toks GROUP BY source
    """,
)
def mix_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD: one row per corpus source with the
    numbers a training-mix decision needs — volume (docs, tokens),
    language spread, exact-duplicate rate (md5 digests), token-length
    range, chars-per-token (the tokenizer-pressure proxy) — the
    summary every released dataset ships and every ingestion run
    should regenerate.  One corpus pass: tokenize + digest in the
    scan projection, then a source-cardinality aggregate (the two
    COUNT DISTINCTs partial-aggregate per source).  Integer ppm/ratio
    arithmetic; no floats anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "lang",
        "n_chars",
        T.word_count(F.col("text")).alias("tokens"),
        F.md5("text").alias("digest"),
    )
    return toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("digest").alias("n_unique_texts"),
        F.expr(
            "(count(*) - count(DISTINCT digest)) * 1000000 div count(*)"
        ).cast("long").alias("dup_ppm"),
        F.expr("sum(n_chars) div sum(tokens)").cast("long").alias(
            "mean_chars_per_token"
        ),
        F.min("tokens").cast("long").alias("min_tokens"),
        F.max("tokens").cast("long").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# Apdex score
# ---------------------------------------------------------------------------


@query(
    "agg_apdex_score",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((SUM(CASE WHEN value <= 100 THEN 2
                          WHEN value <= 400 THEN 1 ELSE 0 END)) * 1000000
                // (2 * COUNT(*)) AS BIGINT) AS apdex_ppm
    FROM events GROUP BY event_type
    """,
)
def agg_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex (Application Performance Index) per event type, reading
    ``value`` as a latency: satisfied ≤ T=100 count 1, tolerating
    ≤ 4T count ½, frustrated 0 — the industry-standard one-number SLO
    summary (0.94+ excellent).  Computed in exact integer halves
    (2/1/0 over 2n) to ppm; a single partial-aggregated pass."""
    e = load_table(spark, sf_dir, "events")
    half_units = F.sum(
        F.when(F.col("value") <= 100, 2)
        .when(F.col("value") <= 400, 1)
        .otherwise(0)
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr(
            "sum(CASE WHEN value <= 100 THEN 2 WHEN value <= 400 THEN 1"
            " ELSE 0 END) * 1000000 div (2 * count(*))"
        ).cast("long").alias("apdex_ppm"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR correction
# ---------------------------------------------------------------------------

# Abramowitz-Stegun 26.2.17 rational tail of the standard normal CDF,
# spelled identically in Spark SQL and DuckDB (neither ships erf):
# both engines then run the same IEEE exp/'*'/'+' sequence.
_PHI_TAIL = (
    "(exp(-(az * az) / 2.0) / 2.5066282746310002)"
    " * (((((1.330274429 * t - 1.821255978) * t + 1.781477937) * t"
    " - 0.356563782) * t + 0.319381530) * t)"
)


@query(
    "agg_bh_fdr_correction",
    oracle=f"""
    WITH grp AS (
      SELECT event_type, user_id % 2 AS arm,
             COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
                 * CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ss
      FROM events GROUP BY event_type, user_id % 2
    ),
    wide AS (
      SELECT event_type,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s0,
             MAX(CASE WHEN arm = 0 THEN ss END) AS ss0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s1,
             MAX(CASE WHEN arm = 1 THEN ss END) AS ss1
      FROM grp GROUP BY event_type
    ),
    zs AS (
      SELECT event_type,
             (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
             / sqrt(
                 (CAST(ss0 AS DOUBLE) / n0
                  - (CAST(s0 AS DOUBLE) / n0) * (CAST(s0 AS DOUBLE) / n0))
                   / n0
                 + (CAST(ss1 AS DOUBLE) / n1
                    - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1))
                   / n1
               ) AS z
      FROM wide
    ),
    ps AS (
      SELECT event_type, z, az, t,
             ROUND(2.0 * {_PHI_TAIL}, 6) AS p
      FROM (
        SELECT event_type, z, ABS(z) AS az,
               1.0 / (1.0 + 0.2316419 * ABS(z)) AS t
        FROM zs
      )
    ),
    ranked AS (
      SELECT event_type, z, p,
             ROW_NUMBER() OVER (ORDER BY p, event_type) AS i,
             COUNT(*) OVER () AS m
      FROM ps
    ),
    cutoff AS (
      SELECT COALESCE(MAX(CASE WHEN p * m <= i * 0.05 THEN i END), 0)
               AS k
      FROM ranked
    )
    SELECT event_type,
           CAST(ROUND(CAST(z AS DECIMAL(24,10)), 4) AS DOUBLE) AS z,
           CAST(p AS DOUBLE) AS p_value,
           i <= k AS rejected
    FROM ranked CROSS JOIN cutoff
    """,
)
def agg_bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-event-type A/B
    z-tests (mean value, parity cohorts): rank the p-values, find the
    largest i with p_(i) ≤ (i/m)·α, reject ranks ≤ i — the
    multiple-testing control every metrics platform applies when one
    experiment reads out dozens of metrics (per-test α would inflate
    family-wise false discoveries).  z comes from exact int64
    moment sums; the normal tail is the Abramowitz-Stegun 26.2.17
    rational form spelled IDENTICALLY in both engines (neither has
    erf), rounded at 6 dp; the BH ranking runs over the
    event-type-cardinality table."""
    e = load_table(spark, sf_dir, "events")
    m = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    grp = e.groupBy("event_type", (F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(m).alias("s"),
        F.sum(m * m).alias("ss"),
    )
    wide = grp.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    mean = lambda a: F.col(f"s{a}").cast("double") / F.col(f"n{a}")
    var = lambda a: (
        F.col(f"ss{a}").cast("double") / F.col(f"n{a}") - mean(a) * mean(a)
    )
    z = (mean(0) - mean(1)) / F.sqrt(
        var(0) / F.col("n0") + var(1) / F.col("n1")
    )
    zs = wide.select("event_type", z.alias("z"))
    ps = zs.select(
        "event_type",
        "z",
        F.abs("z").alias("az"),
        (1.0 / (1.0 + 0.2316419 * F.abs("z"))).alias("t"),
    ).select(
        "event_type",
        "z",
        F.round(2.0 * F.expr(_PHI_TAIL), 6).alias("p"),
    )
    w = Window.orderBy("p", "event_type")
    ranked = ps.select(
        "event_type",
        "z",
        "p",
        F.row_number().over(w).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("p") * F.col("m") <= F.col("i") * 0.05, F.col("i"))),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "event_type",
        _r(F.col("z"), 4).alias("z"),
        F.col("p").alias("p_value"),
        (F.col("i") <= F.col("k")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Kendall's tau-b from the banded contingency table
# ---------------------------------------------------------------------------


@query(
    "agg_kendall_tau_banded",
    oracle="""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS x,
             user_id % 8 AS y
      FROM events
    ),
    cells AS (SELECT x, y, COUNT(*) AS n FROM b GROUP BY x, y),
    pairs AS (
      SELECT SUM(a.n * c.n) AS conc
      FROM cells a JOIN cells c ON c.x > a.x AND c.y > a.y
    ),
    dpairs AS (
      SELECT SUM(a.n * c.n) AS disc
      FROM cells a JOIN cells c ON c.x > a.x AND c.y < a.y
    ),
    tot AS (SELECT SUM(n) AS t FROM cells),
    tx AS (SELECT SUM(nx * nx) AS sx FROM (
      SELECT SUM(n) AS nx FROM cells GROUP BY x)),
    ty AS (SELECT SUM(ny * ny) AS sy FROM (
      SELECT SUM(n) AS ny FROM cells GROUP BY y))
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(ROUND(CAST(
             (CAST(conc AS DOUBLE) - disc)
             / sqrt((CAST(t AS DOUBLE) * t - sx) / 2.0
                    * (CAST(t AS DOUBLE) * t - sy) / 2.0)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS tau_b
    FROM pairs CROSS JOIN dpairs CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty
    """,
)
def agg_kendall_tau_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between the value decile band and the user hash
    band — the rank-correlation that counts CONCORDANT vs DISCORDANT
    pairs (robust to any monotone transform; the pairs-based sibling
    of agg_spearman_rank_corr's midranks).  Naively O(n²) in rows;
    over BANDED domains it collapses to the contingency-cell identity:
    C = Σ n_ij·N(>i,>j), D = Σ n_ij·N(>i,<j), with the tau-b tie
    normalization √((T²−Σt_x²)/2·(T²−Σt_y²)/2) — the cell table is
    80 rows, so the pair join is 80², never rows².  Exact int64
    until the final normalization."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.least(F.floor(F.col("value") / 50), F.lit(9)).alias("x"),
        (F.col("user_id") % 8).alias("y"),
    )
    # materialize the 80-row cell table once: five branches (conc,
    # disc, tot, tx, ty) consume it, and without truncation each
    # branch re-scans and re-aggregates the events table
    cells = (
        b.groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    a, c = cells.alias("a"), cells.alias("c")
    conc = (
        a.join(c, (F.col("c.x") > F.col("a.x")) & (F.col("c.y") > F.col("a.y")))
        .agg(F.sum(F.col("a.n") * F.col("c.n")).alias("conc"))
    )
    disc = (
        a.join(c, (F.col("c.x") > F.col("a.x")) & (F.col("c.y") < F.col("a.y")))
        .agg(F.sum(F.col("a.n") * F.col("c.n")).alias("disc"))
    )
    tot = cells.agg(F.sum("n").alias("t"))
    tx = (
        cells.groupBy("x").agg(F.sum("n").alias("nx"))
        .agg(F.sum(F.col("nx") * F.col("nx")).alias("sx"))
    )
    ty = (
        cells.groupBy("y").agg(F.sum("n").alias("ny"))
        .agg(F.sum(F.col("ny") * F.col("ny")).alias("sy"))
    )
    j = (
        conc.crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    tau = (F.col("conc").cast("double") - F.col("disc")) / F.sqrt(
        (F.col("t").cast("double") * F.col("t") - F.col("sx"))
        / 2.0
        * (F.col("t").cast("double") * F.col("t") - F.col("sy"))
        / 2.0
    )
    return j.select(
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        _r(tau, 6).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# LIMIT ... OFFSET pagination
# ---------------------------------------------------------------------------


@query(
    "sql_limit_offset",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders ORDER BY o_orderkey
    LIMIT 15 OFFSET 40
    """,
)
def sql_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT n OFFSET m`` (Spark 3.4+): keyset-free pagination over
    a deterministic ORDER BY.  Spark executes it as a global
    TakeOrdered of the first m+n rows then drops m — fine for
    page-1-style offsets, and precisely why deep pagination should
    use keyset predicates instead (the m+n cost is linear in the
    offset); this query covers the surface and the plan shape."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority
        FROM orders ORDER BY o_orderkey
        LIMIT 15 OFFSET 40
        """
    )


# ---------------------------------------------------------------------------
# Hierarchical forecast reconciliation (bottom-up vs proportional)
# ---------------------------------------------------------------------------


@query(
    "ts_hierarchical_reconciliation",
    oracle="""
    WITH joined AS (
      SELECT n.n_regionkey AS region, o.o_custkey % 10 AS segment,
             SUM(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    parent AS (
      SELECT region, SUM(cents) AS parent_cents FROM joined GROUP BY region
    ),
    grand AS (SELECT SUM(cents) AS total FROM joined)
    SELECT j.region, j.segment,
           CAST(j.cents AS BIGINT) AS bottom_cents,
           CAST(p.parent_cents AS BIGINT) AS parent_cents,
           CAST(j.cents * 1000000 // p.parent_cents AS BIGINT)
             AS share_of_parent_ppm,
           CAST((g.total * (j.cents * 1000000 // p.parent_cents))
                // 1000000 // (SELECT COUNT(DISTINCT region) FROM joined)
                AS BIGINT) AS topdown_alloc_cents
    FROM joined j
    JOIN parent p ON p.region = j.region
    CROSS JOIN grand g
    """,
)
def ts_hierarchical_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical reconciliation inputs for a region → segment
    hierarchy: each leaf's bottom-up total, its parent total, its
    exact ppm share of parent (the proportions top-down
    reconciliation distributes by), and the naive equal-region
    top-down allocation — the coherency workbench for hierarchical
    forecasting (bottom-up sums are coherent by construction;
    top-down needs these shares).  All exact integer cents/ppm; the
    leaf table is (regions × segments)-sized after one
    fact-dim-broadcast aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("region"),
            (F.col("o_custkey") % 10).alias("segment"),
        )
        .agg(F.sum(cents).alias("cents"))
        .localCheckpoint(eager=True)
    )
    parent = joined.groupBy("region").agg(
        F.sum("cents").alias("parent_cents")
    )
    grand = joined.agg(F.sum("cents").alias("total"))
    n_regions = joined.agg(
        F.count_distinct("region").alias("nr")
    )
    out = (
        joined.join(parent, "region")
        .crossJoin(F.broadcast(grand))
        .crossJoin(F.broadcast(n_regions))
    )
    share = F.expr("cents * 1000000 div parent_cents")
    return out.select(
        "region",
        "segment",
        F.col("cents").cast("long").alias("bottom_cents"),
        F.col("parent_cents").cast("long").alias("parent_cents"),
        share.cast("long").alias("share_of_parent_ppm"),
        F.expr(
            "(total * (cents * 1000000 div parent_cents)) div 1000000 div nr"
        ).cast("long").alias("topdown_alloc_cents"),
    )


# ---------------------------------------------------------------------------
# Semi-hard triplet mining over labeled embeddings
# ---------------------------------------------------------------------------


@query(
    "embedding_triplet_mining",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_sum(list_transform(embedding,
                    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
      FROM embeddings
    ),
    anchors AS (SELECT * FROM q WHERE vec_id < 10),
    pos AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS pos_id,
             ROUND(list_sum(list_transform(range(1, 65),
                   i -> a.u[i] * c.u[i])), 4) AS pos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_sum(list_transform(range(1, 65),
                        i -> a.u[i] * c.u[i])), 4) DESC, c.vec_id) AS rn
      FROM anchors a JOIN q c
        ON c.label = a.label AND c.vec_id <> a.vec_id
    ),
    best_pos AS (SELECT anchor_id, pos_id, pos_sim FROM pos WHERE rn = 1),
    neg AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
             ROUND(list_sum(list_transform(range(1, 65),
                   i -> a.u[i] * c.u[i])), 4) AS neg_sim
      FROM anchors a JOIN q c ON c.label <> a.label
    ),
    semi_hard AS (
      SELECT n.anchor_id, b.pos_id, n.neg_id, b.pos_sim, n.neg_sim,
             ROW_NUMBER() OVER (
               PARTITION BY n.anchor_id
               ORDER BY n.neg_sim DESC, n.neg_id) AS rn
      FROM neg n JOIN best_pos b ON b.anchor_id = n.anchor_id
      WHERE n.neg_sim < b.pos_sim AND n.neg_sim > b.pos_sim - 0.2
    )
    SELECT anchor_id, pos_id, neg_id,
           CAST(pos_sim AS DOUBLE) AS pos_sim,
           CAST(neg_sim AS DOUBLE) AS neg_sim
    FROM semi_hard WHERE rn <= 3
    """,
)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-HARD triplet mining for metric learning: per anchor, the
    closest same-label positive, then up to 3 negatives whose
    similarity falls INSIDE (pos_sim − margin, pos_sim) — harder than
    trivial negatives (which contribute no gradient) but not so hard
    they're likely label noise; the FaceNet recipe every contrastive
    fine-tune uses.  Margin 0.2 in cosine space.

    Scale shape: the 10-anchor side broadcasts against one corpus
    stream per role (positives, negatives) — fused JVM dot products,
    rounded-sim + id tiebreaks so the mined set is
    float-order-proof; the semi-hard window ranks the
    per-anchor-sized candidate table."""
    from guidewire_spark.functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", V.normalize(F.col("embedding")).alias("u")
    )
    anchors = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("u").alias("au"),
    )
    sim = F.round(V.dot(F.col("au"), F.col("u")), 4)
    pos = (
        e.join(
            F.broadcast(anchors),
            (F.col("label") == F.col("a_label"))
            & (F.col("vec_id") != F.col("anchor_id")),
        )
        .select("anchor_id", F.col("vec_id").alias("pos_id"), sim.alias("pos_sim"))
    )
    w_pos = Window.partitionBy("anchor_id").orderBy(
        F.col("pos_sim").desc(), F.col("pos_id")
    )
    best_pos = (
        pos.withColumn("rn", F.row_number().over(w_pos))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    neg = (
        e.join(F.broadcast(anchors), F.col("label") != F.col("a_label"))
        .select("anchor_id", F.col("vec_id").alias("neg_id"), sim.alias("neg_sim"))
    )
    cand = neg.join(best_pos, "anchor_id").where(
        (F.col("neg_sim") < F.col("pos_sim"))
        & (F.col("neg_sim") > F.col("pos_sim") - 0.2)
    )
    w_neg = Window.partitionBy("anchor_id").orderBy(
        F.col("neg_sim").desc(), F.col("neg_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_neg))
        .where(F.col("rn") <= 3)
        .select("anchor_id", "pos_id", "neg_id", "pos_sim", "neg_sim")
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate
# ---------------------------------------------------------------------------


@query(
    "agg_capture_recapture",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE epoch_us(ts) % 7 < 3
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE epoch_us(ts) % 7 >= 4
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM w1) AS n1,
             (SELECT COUNT(*) FROM w2) AS n2,
             (SELECT COUNT(*) FROM w1 JOIN w2 USING (user_id)) AS m
    )
    SELECT CAST(n1 AS BIGINT) AS captured_1,
           CAST(n2 AS BIGINT) AS captured_2,
           CAST(m AS BIGINT) AS recaptured,
           CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT)
             AS chapman_estimate,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
             AS true_population
    FROM counts
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman-corrected Lincoln-Petersen)
    population estimate: two independent observation windows (a
    deterministic microsecond-residue split), the overlap sizes the
    estimate N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the ecology technique data
    teams reuse to size populations only partially observed by any
    one pipeline (bot audiences, unlogged users, dedup-miss rates).
    The true distinct count rides along as the referee.  Three
    distinct-aggregates plus one co-partitioned semi-join; all
    integer."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w1 = e.where(F.col("us") % 7 < 3).select("user_id").distinct()
    w2 = e.where(F.col("us") % 7 >= 4).select("user_id").distinct()
    n1 = w1.count()
    n2 = w2.count()
    m = w1.join(w2, "user_id").count()
    truth = e.select("user_id").distinct().count()
    chapman = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    return spark.createDataFrame(
        [(n1, n2, m, chapman, truth)],
        "captured_1 long, captured_2 long, recaptured long, "
        "chapman_estimate long, true_population long",
    )


# ---------------------------------------------------------------------------
# Survey design effect (clustered sampling)
# ---------------------------------------------------------------------------


@query(
    "agg_design_effect_clustered",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS m,
             AVG(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ybar,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)
                 * CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS ss
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT COUNT(*) AS k, SUM(m) AS n, SUM(s) AS ts, SUM(ss) AS tss,
             CAST(SUM(s) AS DOUBLE) / SUM(m) AS gbar
      FROM per_user
    ),
    comps AS (
      SELECT k, n, gbar,
             (SELECT SUM(m * (ybar - t.gbar) * (ybar - t.gbar))
              FROM per_user) AS ssb,
             CAST(tss AS DOUBLE) - 2 * gbar * ts + gbar * gbar * n AS sst
      FROM tot t
    )
    SELECT CAST(k AS BIGINT) AS n_clusters,
           CAST(n AS BIGINT) AS n_obs,
           CAST(ROUND(CAST(ssb / sst AS DECIMAL(24,10)), 6) AS DOUBLE)
             AS eta_squared,
           CAST(ROUND(CAST(
             1.0 + (CAST(n AS DOUBLE) / k - 1.0) * (ssb / sst)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS design_effect
    FROM comps
    """,
)
def agg_design_effect_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survey design effect for USER-clustered sampling: DEFF ≈ 1 +
    (m̄−1)·η², with η² the between-cluster share of total variance —
    how much larger a cluster sample's variance is than a simple
    random sample of equal size, i.e. the factor your effective
    sample size shrinks by when you sample users and take all their
    events (the experimentation sibling of agg_ratio_metric_delta's
    SE correction, answering the DESIGN question before the
    experiment runs).  All moments reduce from exact int64 sums in
    one pass over the user aggregate."""
    e = load_table(spark, sf_dir, "events")
    mval = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("m"),
        F.avg(mval).alias("ybar"),
        F.sum(mval).alias("s"),
        F.sum(mval * mval).alias("ss"),
    )
    tot = per_user.agg(
        F.count("*").alias("k"),
        F.sum("m").alias("n"),
        F.sum("s").alias("ts_"),
        F.sum("ss").alias("tss"),
        (F.sum("s").cast("double") / F.sum("m")).alias("gbar"),
    )
    joined = per_user.crossJoin(F.broadcast(tot))
    comps = joined.agg(
        F.max("k").alias("k"),
        F.max("n").alias("n"),
        F.sum(
            F.col("m") * (F.col("ybar") - F.col("gbar")) * (F.col("ybar") - F.col("gbar"))
        ).alias("ssb"),
        (
            F.max("tss").cast("double")
            - 2 * F.max("gbar") * F.max("ts_")
            + F.max("gbar") * F.max("gbar") * F.max("n")
        ).alias("sst"),
    )
    eta2 = F.col("ssb") / F.col("sst")
    return comps.select(
        F.col("k").cast("long").alias("n_clusters"),
        F.col("n").cast("long").alias("n_obs"),
        _r(eta2, 6).alias("eta_squared"),
        _r(
            1.0 + (F.col("n").cast("double") / F.col("k") - 1.0) * eta2, 6
        ).alias("design_effect"),
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest
# ---------------------------------------------------------------------------


@query(
    "ts_backtest_rolling_origin",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    fc AS (
      SELECT day, y,
             LAG(y, 7) OVER (ORDER BY day) AS yhat,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS nd
      FROM daily
    ),
    folds AS (
      SELECT CAST((nd - rn) // 7 AS BIGINT) AS fold_back, y, yhat
      FROM fc WHERE yhat IS NOT NULL AND (nd - rn) // 7 < 3
    )
    SELECT fold_back,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ROUND(CAST(
             CAST(SUM(ABS(y - yhat)) AS DOUBLE) / COUNT(*) / 1000.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS mae,
           CAST(ROUND(CAST(
             sqrt(CAST(SUM((y - yhat) * (y - yhat)) AS DOUBLE) / COUNT(*))
             / 1000.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS rmse
    FROM folds GROUP BY fold_back
    """,
)
def ts_backtest_rolling_origin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING-ORIGIN backtest of the seasonal-naive forecast: the
    last three 7-day folds each score MAE/RMSE independently — the
    forecasting cross-validation that exposes error DRIFT over time,
    which ts_snaive_backtest's single pooled window averages away
    (a model can look fine pooled while its recent fold degrades).
    Exact integer errors; fold assignment is pure rank arithmetic
    over the calendar-bounded daily aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    )
    w = Window.orderBy("day")
    fc = daily.select(
        "y",
        F.lag("y", 7).over(w).alias("yhat"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("nd"),
    ).where(F.col("yhat").isNotNull())
    folds = fc.select(
        F.expr("(nd - rn) div 7").cast("long").alias("fold_back"),
        "y",
        "yhat",
    ).where(F.expr("(nd - rn) div 7 < 3"))
    err = F.col("y") - F.col("yhat")
    return folds.groupBy("fold_back").agg(
        F.count("*").alias("n_days"),
        _r(F.sum(F.abs(err)).cast("double") / F.count("*") / 1000.0, 4).alias(
            "mae"
        ),
        _r(
            F.sqrt(F.sum(err * err).cast("double") / F.count("*")) / 1000.0,
            4,
        ).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Code-vs-prose detection heuristic
# ---------------------------------------------------------------------------


@query(
    "text_code_detection",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n,
             length(text)
               - length(replace(replace(replace(replace(replace(replace(
                   text, '{', ''), '}', ''), ';', ''), '=', ''), '(', ''),
                   ')', '')) AS n_sym,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w IN ('def', 'return', 'import', 'class',
                            'function', 'var', 'const', 'void', 'elif',
                            'lambda', 'printf', 'println'))) AS n_kw
      FROM documents
    )
    SELECT doc_id,
           CAST(n_sym * 1000000 // GREATEST(n, 1) AS BIGINT) AS sym_ppm,
           CAST(n_kw AS BIGINT) AS n_keywords,
           n_sym * 1000000 // GREATEST(n, 1) > 20000 OR n_kw >= 3
             AS looks_like_code
    FROM feats
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection heuristic: symbol density ({};=() per
    char, in exact ppm) plus programming-keyword hits — the cheap
    first-pass router every mixed web corpus needs before choosing a
    code-aware tokenizer / filtering pipeline (prose pipelines mangle
    code and vice versa).  Pure JVM string expressions, one pass; the
    thresholds are the tunable policy, the features are the point.
    On this synthetic prose corpus every document should classify as
    NOT code — asserted in pytest, which also plants a code document
    and requires it to flag."""
    d = load_table(spark, sf_dir, "documents")
    stripped = F.col("text")
    for ch in ("{", "}", ";", "=", "(", ")"):
        stripped = F.replace(stripped, F.lit(ch), F.lit(""))
    # code-SPECIFIC tokens only: common English words that double as
    # keywords (for/while/if/else) would flag ordinary prose
    kw = (
        "('def', 'return', 'import', 'class', 'function', 'var', "
        "'const', 'void', 'elif', 'lambda', 'printf', 'println')"
    )
    feats = d.select(
        "doc_id",
        F.length("text").alias("n"),
        (F.length("text") - F.length(stripped)).alias("n_sym"),
        F.expr(
            f"size(filter(split(text, '\\\\s+'), w -> w IN {kw}))"
        ).alias("n_kw"),
    )
    sym_ppm = F.expr("n_sym * 1000000 div greatest(n, 1)")
    return feats.select(
        "doc_id",
        sym_ppm.cast("long").alias("sym_ppm"),
        F.col("n_kw").cast("long").alias("n_keywords"),
        ((sym_ppm > 20000) | (F.col("n_kw") >= 3)).alias("looks_like_code"),
    )


# ---------------------------------------------------------------------------
# Temporal embargo split
# ---------------------------------------------------------------------------


@query(
    "split_temporal_embargo",
    oracle="""
    WITH bounds AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    cut AS (
      SELECT lo + CAST((hi - lo) * 0.8 AS BIGINT) AS t_cut,
             CAST(86400000000 AS BIGINT) AS buffer
      FROM bounds
    ),
    tagged AS (
      SELECT CASE
               WHEN epoch_us(ts) < t_cut - buffer THEN 'train'
               WHEN epoch_us(ts) >= t_cut THEN 'test'
               ELSE 'embargo'
             END AS split
      FROM events CROSS JOIN cut
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM tagged GROUP BY split
    """,
)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an EMBARGO buffer: train ends a
    full day before the 80% time cut, test starts at it, and the day
    between is DISCARDED — the leakage guard time-series ML needs
    that the hash splits (training.py's content-hash splits) don't
    address: features computed with lookback windows would otherwise
    let train rows see test-period signal.  Pure timestamp
    arithmetic off the broadcast (lo, hi) aggregate; the report is
    the 3-way census the pipeline asserts on before training."""
    e = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us")
    )
    bounds = e.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    cut = bounds.select(
        (
            F.col("lo")
            + ((F.col("hi") - F.col("lo")) * 0.8).cast("long")
        ).alias("t_cut"),
        F.lit(86_400_000_000).alias("buffer"),
    )
    tagged = e.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("us") < F.col("t_cut") - F.col("buffer"), "train")
        .when(F.col("us") >= F.col("t_cut"), "test")
        .otherwise("embargo")
        .alias("split")
    )
    return tagged.groupBy("split").agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# Extreme-value (Gumbel) fit on block maxima
# ---------------------------------------------------------------------------


@query(
    "agg_gumbel_block_maxima",
    oracle="""
    WITH daily_max AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             MAX(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS mx
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT COUNT(*) AS n, AVG(CAST(mx AS DOUBLE)) AS mu,
             stddev_samp(CAST(mx AS DOUBLE)) AS sd
      FROM daily_max
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CAST(ROUND(CAST(mu / 1000.0 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS mean_block_max,
           CAST(ROUND(CAST(
             (sd * 0.7796968012336609) / 1000.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS gumbel_scale,
           CAST(ROUND(CAST(
             (mu - 0.5772156649015329 * sd * 0.7796968012336609) / 1000.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS gumbel_location,
           CAST(ROUND(CAST(
             (mu - 0.5772156649015329 * sd * 0.7796968012336609
              - sd * 0.7796968012336609 * ln(-ln(1.0 - 1.0 / 30.0)))
             / 1000.0
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS return_level_30d
    FROM mom
    """,
)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis: fit a Gumbel distribution to the DAILY
    BLOCK MAXIMA of event value by the method of moments
    (scale = σ·√6/π, location = μ − γ·scale) and report the 30-day
    return level — "the value exceeded about once a month" — the EVT
    question (peak load, max claim, worst latency) that quantiles of
    the RAW distribution systematically underestimate (maxima follow
    a different law than the body; Fisher-Tippett).  One daily
    max-aggregate, then closed-form constants; √6/π and
    Euler-Mascheroni are spelled as literals so both engines run
    identical arithmetic."""
    e = load_table(spark, sf_dir, "events")
    daily_max = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.max(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias("mx"))
    mom = daily_max.agg(
        F.count("*").alias("n"),
        F.avg(F.col("mx").cast("double")).alias("mu"),
        F.stddev_samp(F.col("mx").cast("double")).alias("sd"),
    )
    sqrt6_over_pi = 0.7796968012336609
    euler_gamma = 0.5772156649015329
    scale = F.col("sd") * sqrt6_over_pi
    loc = F.col("mu") - euler_gamma * scale
    import math

    gumbel_q = math.log(-math.log(1.0 - 1.0 / 30.0))
    return mom.select(
        F.col("n").cast("long").alias("n_blocks"),
        _r(F.col("mu") / 1000.0, 4).alias("mean_block_max"),
        _r(scale / 1000.0, 4).alias("gumbel_scale"),
        _r(loc / 1000.0, 4).alias("gumbel_location"),
        _r((loc - scale * gumbel_q) / 1000.0, 4).alias("return_level_30d"),
    )


# ---------------------------------------------------------------------------
# Record-breaking days
# ---------------------------------------------------------------------------


@query(
    "ts_record_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS total
      FROM events GROUP BY 1
    ),
    flagged AS (
      SELECT day, total,
             CASE WHEN total > COALESCE(MAX(total) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_record
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(is_record) AS BIGINT) AS n_records,
           strftime(MAX(CASE WHEN is_record = 1 THEN day END),
                    '%Y-%m-%d') AS last_record_day
    FROM flagged
    """,
)
def ts_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking days: how many days set a new all-time high of
    daily revenue, and when the last record fell — the
    streak-adjacent audit whose EXPECTED count under exchangeability
    is H(n) ≈ ln n (the harmonic number): materially more records
    than ln n means genuine growth, not luck.  A running-max window
    over the calendar-bounded daily aggregate (never raw events);
    exact integer totals."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias("total"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    flagged = daily.select(
        "day",
        "total",
        F.when(
            F.col("total")
            > F.coalesce(F.max("total").over(w), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    return flagged.agg(
        F.count("*").alias("n_days"),
        F.sum("is_record").cast("long").alias("n_records"),
        F.date_format(
            F.max(F.when(F.col("is_record") == 1, F.col("day"))),
            "yyyy-MM-dd",
        ).alias("last_record_day"),
    )
