"""Training-pipeline and warehouse operators, continued: two-round
integer waterfilling for token-budget mixture allocation, URL parsing
(parse_url family), sentence-level text statistics, consecutive-rise
sequence detection (MATCH_RECOGNIZE-lite), quantized nearest-centroid
assignment with a confusion-matrix output, one synchronous label-
propagation step over the customer-supplier bipartite graph, and an
SCD2 (slowly-changing-dimension type 2) history merge on the Delta
writer.

Determinism strategy: every allocator / assignment decision is made in
EXACT integer arithmetic (int64 sums, integer division, quantized
embedding components) so argmax/rounding can never flip between
engines; doubles appear only in final display columns after a DECIMAL
bridge.
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "mix_token_budget_allocation",
    oracle="""
    WITH t AS (
      SELECT source, CAST(SUM(n_chars) // 4 AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, tokens,
             CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS wt
      FROM t
    ),
    tot AS (SELECT SUM(wt) AS wsum FROM w),
    r1 AS (
      SELECT source, tokens, LEAST(tokens, (40000 * wt) // wsum) AS quota1
      FROM w, tot
    ),
    lo AS (SELECT 40000 - SUM(quota1) AS leftover FROM r1),
    cap AS (
      SELECT r1.*, tokens - quota1 AS capacity,
             SUM(tokens - quota1) OVER () AS cap_total
      FROM r1
    )
    SELECT source, tokens,
           CAST(quota1 + LEAST(capacity, CASE WHEN cap_total > 0
                  THEN (leftover * capacity) // cap_total ELSE 0 END)
                AS BIGINT) AS quota,
           CAST(ROUND(CAST(
             CAST(quota1 + LEAST(capacity, CASE WHEN cap_total > 0
                    THEN (leftover * capacity) // cap_total ELSE 0 END)
                  AS DOUBLE) / tokens
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS utilization
    FROM cap, lo
    """,
)
def mix_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture allocation: distribute a 40k-token
    training budget across sources by sqrt-weighted share (the
    standard sublinear up-weighting of small sources), cap each source
    at its actual token supply, and redistribute the leftover to
    uncapped sources proportional to remaining capacity — a two-round
    integer waterfilling.

    Every division is integer division on exact int64 token counts
    (sqrt is IEEE-correctly-rounded, then floored to an integer
    weight), so the allocation is bit-identical on any engine and any
    row order. The whole computation happens on the source-cardinality
    aggregate: two window/aggregate passes over ~#sources rows,
    regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.expr("sum(n_chars) div 4").alias("tokens")
    )
    w = t.select(
        "source",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double"))).cast("long").alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("wsum"))
    r1 = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.least(
            F.col("tokens"), F.expr("(40000 * wt) div wsum")
        ).alias("quota1"),
    )
    lo = r1.agg((F.lit(40000) - F.sum("quota1")).alias("leftover"))
    cap = r1.withColumn("capacity", F.col("tokens") - F.col("quota1"))
    cap_tot = cap.agg(F.sum("capacity").alias("cap_total"))
    full = cap.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(cap_tot))
    # extra is capped at remaining capacity: when the budget exceeds
    # total supply, the proportional share would otherwise overshoot
    quota = F.col("quota1") + F.least(
        F.col("capacity"),
        F.when(
            F.col("cap_total") > 0,
            F.expr("(leftover * capacity) div cap_total"),
        ).otherwise(F.lit(0)),
    )
    return full.select(
        "source",
        "tokens",
        quota.cast("long").alias("quota"),
        _r(quota.cast("double") / F.col("tokens"), 4).alias("utilization"),
    )


@query(
    "func_url_family",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang AS query,
           lang AS lang_param,
           'a+b%2F' || lang AS encoded
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def func_url_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar family: parse_url component extraction (HOST / PATH
    / QUERY / keyed query parameter) plus url_encode — the
    normalization toolkit for crawled-corpus URL deduplication. The
    URL is constructed from table columns, so the oracle recomputes
    each component from the same parts directly (DuckDB has no
    parse_url). All JVM expressions, row-parallel, zero shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.url_encode(F.concat(F.lit("a b/"), F.col("lang"))).alias("encoded"),
    )


@query(
    "text_sentence_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) - length(translate(text, '.!?', '')) AS BIGINT)
             AS n_sentences,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(ROUND(CAST(
             CAST(len(string_split(text, ' ')) AS DOUBLE)
             / NULLIF(length(text) - length(translate(text, '.!?', '')), 0)
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS words_per_sentence
    FROM documents
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level text statistics: sentence count, word count, and
    mean sentence length — the Gopher-style "average sentence length"
    quality signal.

    Sentence boundaries are counted by terminator characters via
    translate-and-diff rather than a regex split: character-class
    regex semantics differ subtly between engines, but
    length-after-translate is exact everywhere. Pure row-parallel JVM
    expressions."""
    d = load_table(spark, sf_dir, "documents")
    n_sent = (
        F.length("text") - F.length(F.translate("text", ".!?", ""))
    ).cast("long")
    n_words = F.size(F.split("text", " ")).cast("long")
    return d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        _r(
            n_words.cast("double") / F.nullif(n_sent, F.lit(0)),
            4,
        ).alias("words_per_sentence"),
    )


@query(
    "ts_pattern_three_rises",
    oracle="""
    WITH lagged AS (
      SELECT user_id, value,
             LAG(value, 1) OVER w AS v1,
             LAG(value, 2) OVER w AS v2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count_if(value > v1 AND v1 > v2) AS BIGINT) AS n_patterns,
           COUNT(*) AS n_events
    FROM lagged GROUP BY user_id
    """,
)
def ts_pattern_three_rises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): count
    occurrences of three strictly-rising consecutive values per user —
    the lag-chain encoding of a row-pattern query. One shuffle on
    user_id serves both lags and the final aggregate; comparisons are
    raw-double inequalities (no arithmetic), so no rounding bridge is
    needed."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
    )
    return lagged.groupBy("user_id").agg(
        F.count_if(
            (F.col("value") > F.col("v1")) & (F.col("v1") > F.col("v2"))
        ).alias("n_patterns"),
        F.count("*").alias("n_events"),
    )


@query(
    "embedding_assign_centroid",
    oracle="""
    WITH pos AS (SELECT CAST(range AS INT) AS p FROM range(1, 65)),
    vq AS (
      SELECT vec_id, label, p,
             CAST(ROUND(CAST(embedding[p] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
      FROM embeddings, pos
    ),
    cent AS (SELECT label, p, SUM(q) AS cs FROM vq GROUP BY label, p),
    qn AS (SELECT label, SUM(cs * cs) AS ql FROM cent GROUP BY label),
    dots AS (
      SELECT v.vec_id, c.label AS cand, SUM(v.q * c.cs) AS s
      FROM vq v JOIN cent c USING (p) GROUP BY v.vec_id, c.label
    ),
    scored AS (
      SELECT d.vec_id, d.cand,
             CAST(d.s AS DOUBLE) / sqrt(CAST(q.ql AS DOUBLE)) AS score
      FROM dots d JOIN qn q ON d.cand = q.label
    ),
    asg AS (
      SELECT vec_id, cand FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY score DESC, cand ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT e.label AS true_label, a.cand AS assigned_label, COUNT(*) AS n
    FROM embeddings e JOIN asg a USING (vec_id)
    GROUP BY e.label, a.cand
    """,
)
def embedding_assign_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step / classifier
    eval): assign every embedding to the closest per-label centroid by
    cosine score and emit the true-vs-assigned confusion matrix.

    Determinism at any scale: components are quantized to int(1e4·x)
    so centroid sums, dot products, and squared norms are EXACT int64
    — shuffle order cannot perturb the argmax (float centroid sums
    would). The per-vector |v| term is dropped (constant across
    candidates) so the score needs one sqrt per LABEL, not per pair.
    Centroids are label-cardinality-sized → broadcast join against the
    exploded vectors; ties broken by smallest label via row_number."""
    e = load_table(spark, sf_dir, "embeddings")
    vq = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000, 0).cast("long"),
            )
        ).alias("p", "q"),
    )
    cent = vq.groupBy("label", "p").agg(F.sum("q").alias("cs"))
    qn = cent.groupBy("label").agg(F.sum(F.col("cs") * F.col("cs")).alias("ql"))
    dots = (
        vq.drop("label")
        .join(F.broadcast(cent.withColumnRenamed("label", "cand")), "p")
        .groupBy("vec_id", "cand")
        .agg(F.sum(F.col("q") * F.col("cs")).alias("s"))
    )
    scored = dots.join(
        F.broadcast(qn.withColumnRenamed("label", "cand")), "cand"
    ).select(
        "vec_id",
        "cand",
        (F.col("s").cast("double") / F.sqrt(F.col("ql").cast("double"))).alias(
            "score"
        ),
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(
            F.col("score").desc(), F.col("cand").asc()
        )
    )
    asg = scored.withColumn("rn", rn).where(F.col("rn") == 1)
    return (
        e.select("vec_id", "label")
        .join(asg.select("vec_id", "cand"), "vec_id")
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("cand").alias("assigned_label"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "graph_label_propagation_step",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    cnt AS (
      SELECT s, c % 7 AS cl, COUNT(*) AS n FROM edges GROUP BY s, c % 7
    )
    SELECT s AS suppkey, CAST(cl AS BIGINT) AS new_label,
           CAST(n AS BIGINT) AS mode_count
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY s
                     ORDER BY n DESC, cl ASC) AS rn FROM cnt)
    WHERE rn = 1
    """,
)
def graph_label_propagation_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous label-propagation step over the
    customer-supplier bipartite graph (communities from co-purchase
    structure): each supplier adopts the most frequent label among its
    customer neighbors, ties to the smallest label.

    The edge list is distinct (customer, supplier) pairs; the
    per-step cost is one aggregate over edges plus a window over the
    (supplier × label)-sized count table — the same shuffle profile
    per iteration that PageRank (graph_pagerank) uses, so the unrolled
    multi-iteration form scales identically."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnt = edges.groupBy("s", (F.col("c") % 7).alias("cl")).agg(
        F.count("*").alias("n")
    )
    rn = F.row_number().over(
        Window.partitionBy("s").orderBy(F.col("n").desc(), F.col("cl").asc())
    )
    return (
        cnt.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            F.col("s").alias("suppkey"),
            F.col("cl").cast("long").alias("new_label"),
            F.col("n").cast("long").alias("mode_count"),
        )
    )


@query(
    "delta_scd2_merge",
    oracle="""
    SELECT c_custkey, c_mktsegment, valid_from, valid_to, is_current
    FROM (
      SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN '2024-06-01' END AS valid_to,
             c_custkey % 10 <> 0 AS is_current
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'UPGRADED', '2024-06-01', NULL, TRUE
      FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 10 = 0
    )
    """,
)
def delta_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) merge on the Delta
    writer: a segment change for every 10th customer closes the
    current history row (valid_to set, is_current false) and appends a
    new current row — full history preserved, one row current per key.

    Implemented as ONE MERGE on the surrogate key (business key @
    valid_from), the standard staged-update encoding: close-out rows
    carry the existing surrogate key (match → update), new-version
    rows carry the new-date surrogate key (no match → insert). The
    merge itself is the writer's file-pruned copy-on-write — only
    files whose key range overlaps the batch are rewritten.

    Reference parity: the reference only lands raw CDA rows
    (`/root/reference/README.md`); dimension history maintenance is
    the first thing its consumers build on top, which is why the
    engine ships it as a first-class operator."""
    from guidewire_spark.sources.writer import merge_into, write_delta
    from guidewire_spark.sources.snapshot import read_delta

    table = scratch_dir("gw_scd2_") + "/customer_scd2"
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 == 0)
    base = c.select(
        F.concat(F.col("c_custkey").cast("string"), F.lit("@2024-01-01")).alias(
            "skey"
        ),
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    write_delta(base, table, mode="append")

    changed = c.where(F.col("c_custkey") % 10 == 0)
    close_out = changed.select(
        F.concat(F.col("c_custkey").cast("string"), F.lit("@2024-01-01")).alias(
            "skey"
        ),
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit("2024-06-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    new_version = changed.select(
        F.concat(F.col("c_custkey").cast("string"), F.lit("@2024-06-01")).alias(
            "skey"
        ),
        "c_custkey",
        F.lit("UPGRADED").alias("c_mktsegment"),
        F.lit("2024-06-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    merge_into(spark, table, close_out.unionByName(new_version), on="skey")
    return read_delta(spark, table).select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to", "is_current"
    )


@query(
    "dedup_url_canonical",
    oracle="""
    SELECT concat('example.com/p/', CAST(doc_id % 100 AS VARCHAR))
             AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id
    FROM documents
    GROUP BY doc_id % 100
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (the crawled-corpus first pass):
    scheme/case/www/port/tracking-query/fragment/trailing-slash
    variants of one page collapse to a canonical key, keep-first by
    doc_id.  The Spark side DERIVES the canonical form from the messy
    URL with JVM regex passes; the oracle reconstructs it from the
    generating parts — a canonicalization bug changes the groups and
    fails the hash.  Zero-shuffle normalization + one canonical-key
    aggregate; at crawl scale this is the cheap dedup that runs before
    any content hashing."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    page = (F.col("doc_id") % 100).cast("string")
    messy = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://www.example.com/p/"), page, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("HTTPS://EXAMPLE.com/p/"), page, F.lit("?utm_source=x")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://example.com/p/"), page, F.lit("#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://example.com:80/p/"), page)
        )
    )
    u = F.lower(messy)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"\?.*$", "")
    u = F.regexp_replace(u, r":80(/|$)", "$1")
    u = F.regexp_replace(u, r"/$", "")
    return (
        d.withColumn("canonical_url", u)
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("kept_doc_id"),
        )
    )


@query(
    "text_unicode_nfc",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           nfc_normalize(substring(text, 1, 8) || 'e' || chr(769))
             AS nfc_text,
           CAST(length(substring(text, 1, 8) || 'e' || chr(769)) AS BIGINT)
             AS chars_raw,
           CAST(length(nfc_normalize(substring(text, 1, 8) || 'e' || chr(769)))
                AS BIGINT) AS chars_nfc
    FROM documents WHERE doc_id % 25 = 0
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization pass a
    multilingual corpus needs before ANY hash-based dedup (a
    decomposed 'e'+COMBINING ACUTE and the precomposed 'é' are
    different bytes, identical text).  Spark has no NFC builtin, so
    this is a legitimate Arrow-batched pandas UDF (unicodedata.
    normalize vectorized over string batches); the oracle is DuckDB's
    native nfc_normalize on the same synthetic decomposed suffix, so
    the UDF's non-ASCII Arrow round-trip is value-checked exactly —
    the combining mark must fold and the char count must drop by one."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        import unicodedata

        return col.map(lambda s: unicodedata.normalize("NFC", s))

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    raw = F.concat(F.substring("text", 1, 8), F.lit("e\u0301"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        nfc(raw).alias("nfc_text"),
        F.length(raw).cast("long").alias("chars_raw"),
        F.length(nfc(raw)).cast("long").alias("chars_nfc"),
    )


@query(
    "pipeline_corpus_end_to_end",
    oracle="""
    WITH canon AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_chars AS BIGINT) AS n_chars,
             md5(lower(trim(text))) AS digest,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY digest
                                     ORDER BY doc_id) AS rn
        FROM canon
      ) WHERE rn = 1
    ),
    quality AS (
      SELECT doc_id, digest, n_tokens FROM kept
      WHERE n_chars >= 200 AND n_tokens >= 40
    ),
    sharded AS (
      SELECT doc_id, n_tokens,
             CAST(CAST(concat('0x', substring(md5(concat('ep1:', digest)), 1, 8))
                       AS BIGINT) % 4 AS BIGINT) AS shard,
             md5(concat('ep1:', digest)) AS k
      FROM quality
    )
    SELECT doc_id, shard, n_tokens,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k)
                AS BIGINT) AS pos,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY k)
                AS BIGINT) AS shard_tokens_cum
    FROM sharded
    """,
)
def pipeline_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE composed plan — exact
    dedup (case/whitespace-canonical md5, keep-first), quality gate
    (length + token floor), token counting, seeded shard shuffle, and
    a running token budget per shard — every stage an operator this
    registry verifies in isolation, composed here to prove the end to
    end story stays oracle-exact and single-pass: one scan, one
    dedup shuffle, one shard shuffle (the executed plan carries
    exactly two exchanges).  At 100 TB each stage is the same shape:
    digest shuffle ∝ corpus, shard windows sort independently."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("digest"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        ).cast("long").alias("n_tokens"),
    )
    w_digest = Window.partitionBy("digest").orderBy("doc_id")
    kept = (
        d.withColumn("rn", F.row_number().over(w_digest))
        .where(F.col("rn") == 1)
        .where((F.col("n_chars") >= 200) & (F.col("n_tokens") >= 40))
    )
    k = F.md5(F.concat(F.lit("ep1:"), F.col("digest")))
    sharded = kept.select(
        "doc_id",
        "n_tokens",
        (F.conv(F.substring(k, 1, 8), 16, 10).cast("long") % 4)
        .cast("long")
        .alias("shard"),
        k.alias("k"),
    )
    w_shard = Window.partitionBy("shard").orderBy("k")
    w_cum = w_shard.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return sharded.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.row_number().over(w_shard).cast("long").alias("pos"),
        F.sum("n_tokens").over(w_cum).cast("long").alias("shard_tokens_cum"),
    )
