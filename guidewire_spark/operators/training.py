"""Training-data-pipeline operators (SURVEY.md §2.5 extensions).

The operations a 100 TB pretraining-corpus pipeline runs after
dedup/quality scoring: deterministic train/val/test splitting,
stratified sampling and mixture accounting, vocabulary building,
TF-IDF term weighting, benchmark-contamination checks, sequence
packing, rule-based quality filtering, and connected-component
clustering of near-duplicate pairs.

Determinism contract: anything that "samples" does so via the
SQL-reproducible polynomial fingerprint from functions/text.py —
never ``rand()`` and never engine hash builtins — so every query here
has an exact DuckDB oracle twin.

Scale notes are per-operator; the common theme is that shuffles carry
ids + small numbers (never text payloads), window partitions are
bounded (per-source, never global), and the only iterative operator
(connected components) propagates labels over an edge list that is
already the sparse LSH-candidate output, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query

# DuckDB twins of functions/text.py::words / polynomial_fingerprint —
# kept verbatim in sync with the verified text_fingerprint oracle.
WORDS_SQL = "list_filter(string_split_regex(text, '\\s+'), w -> w <> '')"
FP_SQL = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    f"list_transform({WORDS_SQL}, w -> CAST(ascii(w) + length(w) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 2147483647)"
)


def _fingerprint() -> F.Column:
    return T.polynomial_fingerprint(T.words(F.col("text")))


# --------------------------------------------------------------------------
# Splitting / sampling / mixture
# --------------------------------------------------------------------------


@query(
    "split_train_val_test",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang, {FP_SQL} AS f FROM documents)
    SELECT doc_id, lang,
           CASE f % 10 WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END
             AS split
    FROM fp
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (80/10/10).

    Splitting on a content fingerprint (not doc_id, not rand()) keeps
    assignment stable under re-ingestion and reshuffling — the
    property a 100 TB pipeline needs so eval sets never bleed into
    train across runs. Pure projection: no shuffle at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    f = _fingerprint() % 10
    split = (
        F.when(f == 0, "val").when(f == 1, "test").otherwise("train")
    )
    return d.select("doc_id", "lang", split.alias("split"))


@query(
    "sample_stratified",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang, {FP_SQL} AS f FROM documents)
    SELECT doc_id, lang FROM fp
    WHERE f % 10 < CASE WHEN lang = 'en' THEN 2 ELSE 5 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: keep 20% of English, 50% of every
    other language — the rebalancing step of corpus mixing. The keep
    decision is a per-row fingerprint predicate: embarrassingly
    parallel, no shuffle, and reproducible across engines."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 2).otherwise(5)
    return d.where(_fingerprint() % 10 < rate).select("doc_id", "lang")


@query(
    "mix_rebalance_counts",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang, {FP_SQL} AS f FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(count_if(f % 10 < CASE WHEN lang = 'en' THEN 2 ELSE 5 END)
                AS BIGINT) AS n_sampled
    FROM fp GROUP BY lang
    """,
)
def mix_rebalance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture accounting: per-language corpus size before and after
    the stratified sample — one partial+final hash aggregation."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 2).otherwise(5)
    kept = (_fingerprint() % 10 < rate).cast("long")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(kept).alias("n_sampled"),
    )


# --------------------------------------------------------------------------
# Vocabulary / term weighting
# --------------------------------------------------------------------------


@query(
    "sample_k_per_stratum",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang, {FP_SQL} AS f FROM documents)
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f, doc_id) AS rn
      FROM fp
    ) WHERE rn <= 20
    """,
)
def sample_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling (here 20 docs per language),
    ordered by content fingerprint — the deterministic stand-in for
    per-group reservoir sampling. One window shuffle keyed by the
    stratum; rank order is content-derived, so re-runs and engine
    changes pick the same k."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_fingerprint(), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@query(
    "docs_embeddings_quality_by_label",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             len({WORDS_SQL}) AS wc
      FROM documents
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(q.wc), 4) AS avg_words,
           ROUND(AVG(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
             AS avg_sq_norm
    FROM q JOIN embeddings e ON e.vec_id = q.doc_id
    GROUP BY e.label
    """,
)
def docs_embeddings_quality_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents × embeddings on doc_id=vec_id,
    aggregated per label — the text-feature/vector-feature join a
    curation pipeline runs to slice quality metrics by cluster label.
    The embeddings side carries only (vec_id, label, norm) through the
    join; text reduces to its word count before the shuffle."""
    from guidewire_spark.functions import vectors as V

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.word_count(F.col("text")).alias("wc")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", V.sq_norm(F.col("embedding")).alias("sq")
    )
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("wc"), 4).alias("avg_words"),
            F.round(F.avg("sq"), 4).alias("avg_sq_norm"),
        )
    )


@query(
    "vocab_top_tokens",
    oracle=f"""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                        w -> w <> '')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary building: top-100 tokens by frequency.

    explode → partial-agg count → TakeOrderedAndProject: the shuffle
    carries (token, partial count), and top-k never materializes the
    full sorted vocabulary.
    """
    # round-11 second pass: guarded fan_out — the single-file sf
    # scan ran the tokenize in ONE task; no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(T.words(F.lower(F.col("text")))).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(100)
    )


@query(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    w -> w <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tok,
             ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — ONE corpus pass.

    tf is the (doc, token) aggregation; df comes from a count window
    over tf partitioned by token (tf has exactly one row per
    (doc, token), so the window count IS the document frequency).
    That replaces a second scan+tokenize of the corpus with a shuffle
    of the already-aggregated tf rows — at 100 TB the corpus read is
    the expensive part, the tf table is orders of magnitude smaller.
    N (total docs) is a parquet-metadata count, broadcast as a scalar.
    Ranking uses the ROUNDED score with token tiebreak — float-order
    independent, so the top-3 set is deterministic across engines.
    """
    from guidewire_spark.plans.catalog import fan_out

    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_w = Window.partitionBy("tok")
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(df_w))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


# --------------------------------------------------------------------------
# Contamination / packing / filtering
# --------------------------------------------------------------------------


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH d AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i : i + 2], ' ') AS shingle
      FROM d, UNNEST(range(1, len(words) - 1)) AS t(i)
      WHERE len(words) >= 3
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    overlap AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM train t JOIN bench b USING (shingle)
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COALESCE(ANY_VALUE(o.n_overlap), 0) AS BIGINT) AS n_overlap,
           COALESCE(ANY_VALUE(o.n_overlap), 0) > 0 AS contaminated
    FROM train t LEFT JOIN overlap o ON o.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: count 3-gram shingles of each
    training document that also occur in the held-out set
    (doc_id % 97 == 0 stands in for the benchmark).

    The benchmark shingle set is dimension-sized → broadcast; the
    training side streams through it. At 100 TB the same plan holds:
    eval suites are MBs, corpora are TBs.

    Round-11 shape (guide §1.2/§2.4): the doc_id%97 split is pushed
    BELOW the tokenizer — the bench side shingles only its 1/97 slice
    of documents, the train side only the rest (distinct-per-doc
    commutes with a doc-level split) — and the per-doc totals and
    overlap counts come from ONE broadcast LEFT join + ONE doc_id
    aggregate (count(marker) over the left join ≡ the old inner-join
    count, 0 when no shingle matched ≡ the old coalesce).  The old
    shape tokenized the corpus three times and joined two doc-sized
    aggregates back together on doc_id.

    Round-11 second pass: guarded ``fan_out`` before the tokenizer —
    the single-file sf scan ran the train-side shingle pass in ONE
    task (no-op at real scale)."""
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))

    def shingles(docs):
        return (
            docs.where(F.size(T.words(F.col("text"))) >= 3)
            .select(
                "doc_id",
                F.explode(T.word_shingles(F.col("text"), 3)).alias("shingle"),
            )
            .distinct()
        )

    bench = (
        shingles(d.where(F.col("doc_id") % 97 == 0))
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = shingles(d.where(F.col("doc_id") % 97 != 0))
    return (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            F.col("n_overlap").cast("long").alias("n_overlap"),
            (F.col("n_overlap") > 0).alias("contaminated"),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({WORDS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM t
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-budget (512-token)
    packs by running token count, packed per source shard.

    Partitioning the window by source keeps state bounded and
    parallel — a global orderBy window would serialize the corpus
    through one task, exactly the anti-pattern at scale.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = T.word_count(F.col("text")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(512.0))
        .cast("long")
        .alias("pack_id"),
    )


@query(
    "quality_filter_pipeline",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len({WORDS_SQL}) AS wc,
             LENGTH(text) AS nc,
             LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
      FROM documents
    )
    SELECT doc_id,
           wc >= 5 AS long_enough,
           np / GREATEST(nc, 1) <= 0.2 AS punct_ok,
           (nc / GREATEST(wc, 1)) BETWEEN 3 AND 12 AS word_len_ok,
           (wc >= 5 AND np / GREATEST(nc, 1) <= 0.2
            AND (nc / GREATEST(wc, 1)) BETWEEN 3 AND 12) AS kept
    FROM m
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality filter with per-rule flags (the audit form a
    data-curation pipeline keeps: which rule killed each doc). One
    projection, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    wc = T.word_count(F.col("text"))
    nc = F.length("text")
    np_ = F.length(F.regexp_replace("text", r"[^.,;:!?'\"()\-]", ""))
    long_enough = wc >= 5
    punct_ok = np_ / F.greatest(nc, F.lit(1)) <= 0.2
    word_len_ok = (nc / F.greatest(wc, F.lit(1))).between(3, 12)
    return d.select(
        "doc_id",
        long_enough.alias("long_enough"),
        punct_ok.alias("punct_ok"),
        word_len_ok.alias("word_len_ok"),
        (long_enough & punct_ok & word_len_ok).alias("kept"),
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH d AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                            i -> array_to_string(words[i : i + 2], ' '))
               AS shingles
      FROM d WHERE len(words) >= 3
    )
    SELECT doc_id,
           CAST(len(shingles) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - len(list_distinct(shingles)) / len(shingles), 6)
             AS repetition_ratio
    FROM sh
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (the Gopher-rules duplicate-n-gram signal):
    fraction of repeated 3-word shingles per document — high values
    mark boilerplate/spam for the quality filter. Array-local (no
    explode, no shuffle): shingle list, distinct count, ratio."""
    # round-12: r11's fan_out REMOVED — interleaved A/B (sf0.1 and the
    # 10x fixture) measured the round-robin exchange of raw text
    # costing 1.3-2x the row-local projection it parallelizes; this is
    # a cheap per-row pass, so scan parallelism already suffices at
    # every scale (ADVICE r11).
    d = load_table(spark, sf_dir, "documents")
    sh = T.word_shingles(F.col("text"), 3)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    return (
        d.where(F.size(T.words(F.col("text"))) >= 3)
        .select(
            "doc_id",
            n.cast("long").alias("n_shingles"),
            nd.cast("long").alias("n_distinct"),
            F.round(F.lit(1.0) - nd / n, 6).alias("repetition_ratio"),
        )
    )


@query(
    "text_redact_pii",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           LENGTH(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g')) AS redacted_len
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email-shaped spans (the
    compliance pass of a corpus pipeline). Pure projection — JVM regex
    per row, no shuffle; extend the pattern set per policy."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email), 0))
        .cast("long")
        .alias("n_emails"),
        F.length(F.regexp_replace("text", email, "<EMAIL>"))
        .cast("long")
        .alias("redacted_len"),
    )


@query(
    "agg_hll_sketch",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
             AS exact_distinct_orders,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
             AS exact_distinct_orders,
           TRUE AS within_bound
    FROM lineitem
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL: build per-returnflag sketches, union
    them, estimate distinct orderkeys — the mergeable-sketch pattern
    that lets 1000 executors aggregate independently and combine
    O(KB) states (vs shuffling raw keys for an exact distinct).
    Bound-check oracle (round 9): the estimate is
    within-epsilon-of-exact by construction, so the QUERY emits
    |estimate − exact|/exact ≤ 0.10 (≈6× the lgConfigK=12 default's
    1.6% rsd — a deterministic pass for an honest sketch) as a
    boolean beside the exact twin; a merge or estimator bug flips it.
    The union row proves sketch MERGEABILITY against the global
    exact count — the property that makes the pattern scale."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("exact_distinct_orders"),
    )
    approx = per_flag.select(
        "l_returnflag",
        "n_rows",
        "exact_distinct_orders",
        F.hll_sketch_estimate("sk").cast("double").alias("approx"),
    ).unionByName(
        per_flag.agg(
            F.hll_union_agg("sk").alias("u"),
            F.sum("n_rows").alias("n_rows"),
        )
        .crossJoin(
            li.agg(
                F.count_distinct("l_orderkey").alias("exact_distinct_orders")
            )
        )
        .select(
            F.lit("ALL").alias("l_returnflag"),
            "n_rows",
            "exact_distinct_orders",
            F.hll_sketch_estimate("u").cast("double").alias("approx"),
        )
    )
    return approx.select(
        "l_returnflag",
        "n_rows",
        "exact_distinct_orders",
        (
            F.abs(F.col("approx") - F.col("exact_distinct_orders"))
            / F.col("exact_distinct_orders")
            <= F.lit(0.10)
        ).alias("within_bound"),
    )


@query(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH dedup AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
                 AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    quality AS (
      SELECT doc_id, text, lang,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
               AS wc
      FROM dedup
    ),
    filtered AS (
      SELECT doc_id, text, lang FROM quality
      WHERE wc >= 5 AND lang IN ('en', 'es', 'fr', 'de')
    )
    SELECT doc_id, lang,
           CASE {FP_SQL} % 10 WHEN 0 THEN 'val' WHEN 1 THEN 'test'
                ELSE 'train' END AS split
    FROM filtered
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composed from the operator library:
    exact dedup (keep lowest doc_id per content hash) → quality floor
    (≥5 words) → language allowlist → deterministic train/val/test
    split. One shuffle for the dedup window; everything after is
    projection — the shape of a full pretraining-corpus pass.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    dedup = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    filtered = dedup.where(
        (T.word_count(F.col("text")) >= 5)
        & F.col("lang").isin("en", "es", "fr", "de")
    )
    f = _fingerprint() % 10
    split = F.when(f == 0, "val").when(f == 1, "test").otherwise("train")
    return filtered.select("doc_id", "lang", split.alias("split"))


# --------------------------------------------------------------------------
# Near-dup clustering (iterative)
# --------------------------------------------------------------------------


# Shared recursive-CTE transitive closure for the near-dup component
# queries: yields `comp(doc_id, component_id)` over docs 0..99 with
# Jaccard >= 0.2 edges on 3-word shingles. Kept as a WITH-clause body
# so both dedup_connected_components and dedup_cluster_canonical stay
# verbatim-identical on the component definition.
_CC_ORACLE_CTES = f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents WHERE doc_id < 100),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i : i + 2], ' ') AS shingle
      FROM d, UNNEST(range(1, len(words) - 1)) AS t(i)
      WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS bn
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT da, db FROM inter
      JOIN sizes sa ON sa.doc_id = da
      JOIN sizes sb ON sb.doc_id = db
      WHERE bn / (sa.n + sb.n - bn) >= 0.2
    ),
    und AS (SELECT da AS a, db AS b FROM edges
            UNION SELECT db AS a, da AS b FROM edges),
    reach AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (
      SELECT doc.doc_id,
             CAST(LEAST(doc.doc_id, COALESCE(MIN(r.b), doc.doc_id)) AS BIGINT)
               AS component_id
      FROM (SELECT doc_id FROM documents WHERE doc_id < 100) doc
      LEFT JOIN reach r ON r.a = doc.doc_id
      GROUP BY doc.doc_id
    )
"""


@query(
    "dedup_connected_components",
    oracle=_CC_ORACLE_CTES + "SELECT doc_id, component_id FROM comp",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph (Jaccard ≥
    0.2 on 3-word shingles, docs 0..99): every document labeled with
    the smallest doc_id in its duplicate cluster — the final "pick one
    survivor per cluster" step of corpus dedup.

    Iterative min-label propagation: each round joins current labels
    onto the edge list and takes the per-node min, localCheckpoint()
    truncating the lineage, until a fixed point (≤ graph diameter
    rounds; O(log n) with the doubling effect of propagating already-
    merged labels). The shuffled data is (node, label) longs — the
    edge list is the sparse LSH-candidate output, never corpus-sized.
    The DuckDB oracle computes the same labels via a recursive-CTE
    transitive closure.
    """
    return _component_labels(spark, sf_dir)


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edge list (J ≥ 0.2 on 3-word shingles, docs 0..99),
    derived the way the PRODUCTION dedup path derives it — minhash LSH
    candidate pairs, exact-verified on the candidates only — never an
    all-pairs shingle-equality self-join (the one shape that must
    never run unbounded: its output is quadratic in the hottest
    shingle's doc frequency).  Banding here is 32 bands × 1 row, the
    recall-heavy tuning the 0.2 threshold demands (a J ≥ 0.2 pair is
    missed with probability ≤ 0.8³² ≈ 8e-4; the 8×4 tuning
    dedup_minhash_lsh uses targets J ≥ 0.7).  Candidates then verify
    EXACTLY via array_intersect on the per-doc shingle sets, so
    precision is exact and the DuckDB all-pairs oracle stays the
    referee; tests/test_plans.py locks the no-self-join plan shape.
    """
    import random

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    shingles = (
        d.where(F.size(T.words(F.col("text"))) >= 3)
        .select(
            "doc_id",
            F.explode(T.word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .distinct()
    )
    p = 2_147_483_647
    n_hashes = 32
    rng = random.Random(7)
    A = [rng.randrange(1, p) for _ in range(n_hashes)]
    B = [rng.randrange(0, p) for _ in range(n_hashes)]
    xh = F.pmod(F.xxhash64("shingle"), F.lit(p))
    sig = shingles.groupBy("doc_id").agg(
        *[
            F.min((xh * A[i] + B[i]) % p).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    )
    bands_long = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)])
        ).alias("band", "bucket"),
    )
    buckets = (
        bands_long.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(
                                x.alias("da"), y.alias("db")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.da", "pr.db")
        .distinct()
    )
    # exact verification on candidates only (candidate-count-sized)
    sets = shingles.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh")
    )
    # shuffle joins by design: the shingle-set side is corpus-sized at
    # production scale, so it must never be broadcast (AQE may still
    # choose BHJ at this bounded test size — that's its call, not ours)
    edges = (
        cand.join(
            sets.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha")),
            "da",
        )
        .join(
            sets.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb")),
            "db",
        )
        .withColumn("bn", F.size(F.array_intersect("sha", "shb")))
        .where(
            F.col("bn")
            / (F.size("sha") + F.size("shb") - F.col("bn"))
            >= 0.2
        )
        .select("da", "db")
    )
    return edges


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation over the LSH-derived near-dup edges
    (see :func:`_cc_edges` for the candidate/verify edge derivation).
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    edges = _cc_edges(spark, sf_dir)
    und = edges.union(edges.select(F.col("db"), F.col("da"))).toDF("src", "dst")

    labels = d.select(
        "doc_id", F.col("doc_id").alias("component_id")
    ).localCheckpoint(eager=True)
    und = und.localCheckpoint(eager=True)
    for _ in range(20):
        propagated = (
            und.join(labels, und.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "component_id")
        )
        new_labels = (
            labels.unionByName(propagated)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.component_id") < F.col("o.component_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@query(
    "training_negative_pairs",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    anchors AS (
      SELECT d.doc_id, d.lang, t.i
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
    ),
    pairs AS (
      SELECT a.doc_id, CAST(a.i AS BIGINT) AS neg_rank,
             CASE WHEN raw = a.doc_id THEN (raw + 1) % n.n_docs ELSE raw END
               AS neg_doc_id,
             a.lang
      FROM (SELECT doc_id, lang, i,
                   (doc_id * 2654435761 + i * 40503 + 17) % (SELECT n_docs FROM n)
                     AS raw
            FROM anchors) a, n
    )
    SELECT p.doc_id, p.neg_rank, p.neg_doc_id,
           (p.lang = d2.lang) AS same_lang
    FROM pairs p JOIN documents d2 ON p.neg_doc_id = d2.doc_id
    """,
)
def training_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document gets k=4 pseudo-random negatives via modular hashing of
    (doc_id, rank) — reproducible across runs and engines without
    rand(), exactly like the split/sample operators.

    Scale shape: a projection + posexplode fans each anchor into k
    rows; the join that fetches negative-side features is a plain
    equi-join on neg_doc_id (shuffle hash join at corpus scale — both
    sides are the corpus; no broadcast assumption). Self-pairs are
    remapped to the next id, so every anchor keeps exactly k rows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n_docs = d.count()
    k = 4
    raw = (
        F.col("doc_id") * F.lit(2654435761) + F.col("neg_rank") * 40503 + 17
    ) % n_docs
    pairs = (
        d.select(
            "doc_id",
            "lang",
            F.posexplode(F.array(*[F.lit(i) for i in range(k)])).alias(
                "_pos", "neg_rank"
            ),
        )
        .select(
            "doc_id",
            "lang",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.when(raw == F.col("doc_id"), (raw + 1) % n_docs)
            .otherwise(raw)
            .alias("neg_doc_id"),
        )
    )
    neg = d.select(
        F.col("doc_id").alias("neg_doc_id"), F.col("lang").alias("neg_lang")
    )
    return pairs.join(neg, "neg_doc_id").select(
        "doc_id",
        "neg_rank",
        "neg_doc_id",
        (F.col("lang") == F.col("neg_lang")).alias("same_lang"),
    )


@query(
    "sample_quality_weighted",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             LEAST(CAST(n_chars AS BIGINT) * 25, 100000) AS w100k,
             ({FP_SQL}) % 10000 AS u
      FROM documents
    )
    SELECT doc_id, lang, w100k AS weight_x100k
    FROM scored
    WHERE u * 10 < w100k
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: keep each document with probability
    equal to a quality weight (here: length-proportional, capped at 1
    — longer documents survive more often) — the importance-sampling
    move that up-weights preferred text without hard thresholds. The
    acceptance draw is the content fingerprint mod 10k (deterministic,
    reproducible in SQL, stable across runs and engines — no rand()),
    so the same corpus always yields the same sample. Pure
    projection+filter: shuffle-free at any scale."""
    d = load_table(spark, sf_dir, "documents")
    # weight = min(n_chars/4000, 1), carried as integer ×100k so the
    # acceptance test and the emitted weight are float-free on both
    # engines (per-row float rounding is where engines diverge)
    w100k = F.least(F.col("n_chars").cast("long") * 25, F.lit(100000))
    u = _fingerprint() % 10000
    return d.where(u * 10 < w100k).select(
        "doc_id", "lang", w100k.alias("weight_x100k")
    )


@query(
    "mix_rebalance_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {FP_SQL}, doc_id)
               AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 60
    """,
)
def mix_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing, materialized: cap every language at the
    same budget (60 docs) by taking the fingerprint-ordered head per
    group — deterministic downsampling of over-represented sources,
    the action behind mix_rebalance_counts' accounting. One shuffle by
    group; the rank window never materializes beyond the group."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_fingerprint().asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 60)
        .select("doc_id", "lang")
    )


@query(
    "dedup_cluster_canonical",
    oracle=_CC_ORACLE_CTES
    + """,
    ranked AS (
      SELECT c.doc_id, c.component_id, d2.n_chars
      FROM comp c JOIN documents d2 ON d2.doc_id = c.doc_id
    ),
    canon AS (
      SELECT component_id, doc_id AS canonical_id
      FROM (SELECT component_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component_id
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM ranked)
      WHERE rn = 1
    )
    SELECT r.doc_id, r.component_id, CAST(c.canonical_id AS BIGINT) AS canonical_id,
           r.doc_id = c.canonical_id AS is_canonical
    FROM ranked r JOIN canon c ON c.component_id = r.component_id
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: within each
    connected component of the duplicate graph, keep the longest
    document (n_chars, doc_id tiebreak) as canonical and map every
    member to it — the curation step that turns cluster labels into an
    actionable keep/drop list.

    Built on the same min-label propagation as
    dedup_connected_components; the canonical pick is one window over
    the component-sized label table (ids + a length — never text), so
    the added cost at 100 TB is a shuffle of the label table only.
    """
    labels = _component_labels(spark, sf_dir)
    lens = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = labels.join(lens, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("canonical_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "component_id",
            F.col("canonical_id").cast("long").alias("canonical_id"),
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


@query(
    "dedup_cross_corpus",
    oracle="""
    WITH h AS (SELECT doc_id, md5(lower(text)) AS text_md5 FROM documents)
    SELECT doc_id, text_md5 FROM h
    WHERE doc_id % 89 <> 0
      AND text_md5 NOT IN (SELECT text_md5 FROM h WHERE doc_id % 89 = 0)
    """,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination by exact content hash: drop every
    training document whose normalized text also appears in a held-out
    reference corpus (doc_id % 89 == 0 stands in for it) — the
    "remove eval data from the training set" pass that runs before any
    fuzzy dedup.

    Anti-join on md5(lower(text)): the reference side reduces to a
    distinct digest set (benchmark suites are MBs against TB corpora →
    broadcast), and the training side streams through it without a
    shuffle. Digests, never text, cross the exchange.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("text_md5")
    )
    ref = d.where(F.col("doc_id") % 89 == 0).select("text_md5").distinct()
    return d.where(F.col("doc_id") % 89 != 0).join(
        F.broadcast(ref), "text_md5", "left_anti"
    ).select("doc_id", "text_md5")


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH d AS (SELECT doc_id, {WORDS_SQL} AS toks FROM documents),
    n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok
          FROM d WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, n_tok,
                 unnest(generate_series(
                   0, (greatest(n_tok - 64, 0) + 47) // 48)) AS i
          FROM n)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text,
           CAST(least(64, n_tok - i * 48) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each document into
    64-token chunks with 16-token overlap (stride 48) — the
    context-window packing precursor that keeps chunk boundaries from
    severing passages. The final chunk may be short; every token is
    covered.

    sequence+explode generates chunk indices from a per-row arithmetic
    bound (never a driver loop), and slice+array_join materializes each
    chunk from the already-tokenized array — one corpus pass, no
    shuffle at all: the whole plan is projection + generator.
    """
    window, stride = 64, 48
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", T.words(F.col("text")).alias("toks"))
        .withColumn("n_tok", F.size("toks").cast("long"))
        .where(F.col("n_tok") > 0)
    )
    last_idx = F.expr(f"(greatest(n_tok - {window}, 0) + {stride - 1}) div {stride}")
    return (
        d.withColumn("i", F.explode(F.sequence(F.lit(0), last_idx)))
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_idx"),
            F.array_join(
                F.expr(f"slice(toks, i * {stride} + 1, {window})"), " "
            ).alias("chunk_text"),
            F.least(F.lit(window), F.col("n_tok") - F.col("i") * stride)
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


@query(
    "text_bigram_counts",
    oracle=f"""
    WITH w AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '') AS words
               FROM documents),
    sh AS (
      SELECT array_to_string(words[i : i + 1], ' ') AS bigram
      FROM w, UNNEST(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS freq
    FROM sh GROUP BY bigram
    ORDER BY freq DESC, bigram
    LIMIT 50
    """,
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigram frequencies — the n-gram statistics
    pass behind tokenizer merges and boilerplate detection
    (vocab_top_tokens is the unigram twin).

    zip_with over two shifted slices forms bigrams inside the JVM (no
    Python), then partial-agg count + TakeOrderedAndProject: the
    shuffle carries (bigram, partial count) and top-k never sorts the
    full bigram vocabulary.  Guarded ``fan_out`` before the shingle
    projection (round-11 second pass): the single-file sf scan ran it
    in ONE task; no-op at real scale.
    """
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    bigrams = d.where(F.size(T.words(F.col("text"))) >= 2).select(
        F.explode(T.word_shingles(F.lower(F.col("text")), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(50)
    )


@query(
    "graph_pagerank",
    oracle="""
    WITH e AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS pk,
                               CAST(l_suppkey AS BIGINT) AS sk
               FROM lineitem WHERE l_partkey % 10 = 0),
    adj AS (SELECT 'p:' || pk AS src, 's:' || sk AS dst FROM e
            UNION ALL
            SELECT 's:' || sk AS src, 'p:' || pk AS dst FROM e),
    deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
    r1 AS (
      SELECT a.dst AS node,
             CAST(ROUND(CAST(0.15 + 0.85 * SUM(1.0 / d.deg)
                             AS DECIMAL(28,12)), 8) AS DOUBLE) AS r
      FROM adj a JOIN deg d ON a.src = d.src
      GROUP BY a.dst
    )
    SELECT a.dst AS node,
           CAST(ROUND(CAST(0.15 + 0.85 * SUM(r.r / d.deg)
                           AS DECIMAL(28,12)), 6) AS DOUBLE) AS pagerank
    FROM adj a
    JOIN deg d ON a.src = d.src
    JOIN r1 r ON r.node = a.src
    GROUP BY a.dst
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations (damping 0.85, uniform init)
    over the part↔supplier co-occurrence graph from lineitem — the
    iterative-graph-algorithm shape (rank propagation over an edge
    list) that label propagation's min() can't express.

    Per iteration: one equi-join of the rank table onto the adjacency
    list keyed by source + one aggregation by destination — the
    message-passing plan a 1000-executor PageRank runs, where only
    (node, rank) pairs shuffle, never the graph payload. Ranks are
    quantized (8dp intermediate, 6dp final, via a DECIMAL bridge) so
    float summation order cannot leak into the result.
    """
    e = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 10 == 0)
        .select(
            F.col("l_partkey").cast("long").alias("pk"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    p = F.concat(F.lit("p:"), F.col("pk").cast("string"))
    s = F.concat(F.lit("s:"), F.col("sk").cast("string"))
    adj = e.select(p.alias("src"), s.alias("dst")).unionByName(
        e.select(s.alias("src"), p.alias("dst"))
    )
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    # Materialize the degree-annotated adjacency once: every iteration
    # re-joins it, and without truncation the unrolled plan embeds (and
    # re-scans) the whole edge-derivation subtree per iteration — the
    # iterative-algorithm analogue of the connected-components
    # localCheckpoint. Edge-list sized, never corpus-sized.
    weighted = adj.join(deg, "src").localCheckpoint(eager=True)

    def _iterate(ranks: DataFrame, dp: int, out: str) -> DataFrame:
        return (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy("dst")
            .agg(
                stable_round(
                    F.lit(0.15) + F.lit(0.85) * F.sum(F.col("r") / F.col("deg")),
                    dp,
                    "decimal(28,12)",
                )
                .alias(out)
            )
            .select(F.col("dst").alias("node"), out)
        )

    r0 = weighted.select(F.col("src").alias("node")).distinct().withColumn(
        "r", F.lit(1.0)
    )
    r1 = _iterate(r0, 8, "r").select("node", F.col("r"))
    return _iterate(r1, 6, "pagerank")


@query(
    "contamination_max_jaccard",
    oracle=f"""
    WITH d AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i : i + 2], ' ') AS shingle
      FROM d, UNNEST(range(1, len(words) - 1)) AS t(i)
      WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS bn
      FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) t
      JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b USING (shingle)
      GROUP BY t.doc_id, b.doc_id
    ),
    scored AS (
      SELECT train_id, bench_id,
             CAST(ROUND(CAST(bn / (st.n + sb.n - bn) AS DECIMAL(18,10)), 6)
                  AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes st ON st.doc_id = train_id
      JOIN sizes sb ON sb.doc_id = bench_id
    )
    SELECT train_id, bench_id, jaccard FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                 ORDER BY jaccard DESC, bench_id) AS rn
      FROM scored WHERE jaccard >= 0.01
    ) WHERE rn = 1
    """,
)
def contamination_max_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: for every training document, its
    single best-matching benchmark document by 3-shingle Jaccard
    (threshold 0.01) — the pairwise-scored complement of
    contamination_ngram_overlap's boolean flag, used to audit WHICH
    eval item leaked.

    The shingle inverted index joins train→bench (benchmark side is
    dimension-sized → broadcast); intersection counts aggregate before
    sizes join in, so only (train_id, bench_id, count) triples
    shuffle. Sizes are split by side: the bench half is
    dimension-sized and broadcast, the train half is corpus-sized and
    MUST shuffle-join (a broadcast there would ship one row per
    training document — billions at 100 TB — to every executor).
    Ranking uses the ROUNDED score with bench_id tiebreak —
    float-order independent, deterministic across engines.

    Round-11 (guide §1.2, same fix as contamination_ngram_overlap):
    the doc_id%97 split is pushed BELOW the tokenizer (distinct-per-
    doc commutes with a doc-level split), and the bench shingle table
    — dimension-sized by contract — is checkpointed once for its two
    consumers (the inverted-index probe side and bench_sizes).  The
    old shape tokenized the WHOLE corpus four times (train, bench,
    and each sizes half re-derived the full `sh`); now the train
    tokenizer runs twice over its 96/97 slice and the bench tokenizer
    once over 1/97.

    Round-11 second pass: the train tokenize ran in ONE task — the
    sf tables are single parquet files = one scan partition, and this
    query never fanned the scan out (stage-profiled: a 4.6 s
    single-task stage was the entire query's critical path at sf0.1).
    ``fan_out`` (guarded: no-op at real scale where the scan already
    has ≥ cores partitions) spreads the tokenize+shingle+distinct
    across the cores; measured 6.43 → 2.3 s isolated min."""
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))

    def shingles(docs):
        return (
            docs.where(F.size(T.words(F.col("text"))) >= 3)
            .select(
                "doc_id",
                F.explode(T.word_shingles(F.col("text"), 3)).alias("shingle"),
            )
            .distinct()
        )

    train = shingles(d.where(F.col("doc_id") % 97 != 0))
    bench = shingles(d.where(F.col("doc_id") % 97 == 0)).localCheckpoint(
        eager=True
    )
    inter = (
        train.alias("t")
        .join(F.broadcast(bench.alias("b")), "shingle")
        .groupBy(
            F.col("t.doc_id").alias("train_id"),
            F.col("b.doc_id").alias("bench_id"),
        )
        .agg(F.count("*").alias("bn"))
    )
    train_sizes = train.groupBy("doc_id").agg(F.count("*").alias("n"))
    bench_sizes = bench.groupBy("doc_id").agg(F.count("*").alias("n"))
    scored = (
        inter.join(train_sizes.alias("st"), F.col("train_id") == F.col("st.doc_id"))
        .join(
            F.broadcast(bench_sizes.alias("sb")),
            F.col("bench_id") == F.col("sb.doc_id"),
        )
        .select(
            "train_id",
            "bench_id",
            stable_round(
                F.col("bn") / (F.col("st.n") + F.col("sb.n") - F.col("bn")),
                6,
                "decimal(18,10)",
            )
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.01)
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("jaccard").desc(), F.col("bench_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("train_id", "bench_id", "jaccard")
    )


@query(
    "pack_shard_manifest",
    oracle="""
    SELECT doc_id % 8 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                w -> w <> ''))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM((doc_id * 2654435761) % 2147483647) % 2147483647
                AS BIGINT) AS id_checksum
    FROM documents GROUP BY doc_id % 8
    """,
)
def pack_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment manifest: deterministic doc→shard mapping
    (id mod — at production scale a salted content hash) plus the
    per-shard audit row every training-data export writes next to its
    shards: document count, token and char totals, and an
    ORDER-INSENSITIVE integer id checksum (Knuth-multiplicative sum
    mod 2³¹−1 — exact in int64, so both engines agree bit-for-bit).
    A re-exported shard whose manifest row differs is corrupt; the
    checksum catches silent row loss that counts alone miss when adds
    and drops cancel."""
    # round-12: r11's fan_out REMOVED — interleaved A/B (sf0.1 and the
    # 10x fixture) measured the round-robin exchange of raw text
    # costing 1.3-2x the row-local projection it parallelizes; this is
    # a cheap per-row pass, so scan parallelism already suffices at
    # every scale (ADVICE r11).
    d = load_table(spark, sf_dir, "documents")
    checksum = F.sum(
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    ) % F.lit(2147483647)
    return d.groupBy((F.col("doc_id") % 8).alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(T.words(F.col("text")))).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        checksum.cast("long").alias("id_checksum"),
    )
