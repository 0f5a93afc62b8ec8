"""Round-4 tail coverage: schema-flexible union-by-name, sentence-level
boilerplate detection (the C4/RefinedWeb repeated-line rule), a
multi-k k-means inertia sweep (the elbow diagnostic), and
Hilbert-curve OPTIMIZE clustering.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Union by name with missing columns
# ---------------------------------------------------------------------------


@query(
    "union_by_name_missing",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_acctbal >= 0
    UNION ALL BY NAME
    SELECT c_name, c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union by NAME with missing-column fill — the schema-drift union
    (two exports of the same entity with reordered and partially
    overlapping columns), where positional UNION ALL
    (union_all_distinct) would silently pair c_name with c_custkey.
    ``unionByName(allowMissingColumns=True)`` aligns on column name
    and nulls the absent c_acctbal — the same semantics as DuckDB's
    UNION ALL BY NAME.  Pure narrow concatenation: no shuffle, both
    branch filters push to the parquet scan."""
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_acctbal") >= 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.where(F.col("c_acctbal") < 0).select("c_name", "c_custkey")
    return a.unionByName(b, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Sentence-level boilerplate
# ---------------------------------------------------------------------------


@query(
    "text_sentence_boilerplate",
    oracle="""
    WITH sent AS (
      SELECT doc_id, source, lower(trim(s)) AS sn, length(trim(s)) AS n_chars
      FROM documents, UNNEST(string_split(text, '.')) AS t(s)
      WHERE length(trim(s)) > 0
    ),
    freq AS (
      SELECT sn, COUNT(DISTINCT doc_id) AS n_docs FROM sent GROUP BY sn
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN f.n_docs >= 2 THEN s.n_chars ELSE 0 END)
                  AS DOUBLE) / SUM(s.n_chars)
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS boilerplate_char_fraction
    FROM sent s JOIN freq f USING (sn)
    GROUP BY source
    """,
)
def text_sentence_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level boilerplate audit — the C4/RefinedWeb
    "repeated line" rule one granularity above
    text_duplicated_ngram_fraction: a normalized sentence appearing in
    ≥2 DISTINCT documents is boilerplate (navigation chrome, license
    headers, templated footers), and the per-source char fraction it
    claims is the expected size reduction of a line-dedup pass.
    Sentences split on the literal '.' terminator (translate-free,
    regex-class-free — engine-exact), normalized by trim+lower.  Two
    shuffles: the sentence-hash frequency aggregate and the per-source
    rollup; at 100 TB the frequency pass shuffles (sentence, doc)
    pairs — the same cost envelope as dedup_exact_groups' digest
    pass (hash the normalized sentence instead of shipping the text
    to cut shuffle bytes; kept as the string here so the oracle is
    byte-identical)."""
    d = load_table(spark, sf_dir, "documents")
    sent = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split("text", "\\.")).alias("s"),
        )
        .select(
            "doc_id",
            "source",
            F.lower(F.trim("s")).alias("sn"),
            F.length(F.trim("s")).alias("n_chars"),
        )
        .where(F.col("n_chars") > 0)
    )
    freq = sent.groupBy("sn").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    joined = sent.join(freq, "sn")
    dup = F.col("n_docs") >= 2
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_boilerplate"),
        _r(
            F.sum(F.when(dup, F.col("n_chars")).otherwise(0)).cast("double")
            / F.sum("n_chars"),
            6,
        ).alias("boilerplate_char_fraction"),
    )


# ---------------------------------------------------------------------------
# k-means inertia sweep (elbow)
# ---------------------------------------------------------------------------


@query(
    "embedding_kmeans_elbow",
    oracle="""
    WITH ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (4), (8)) v(k)),
    vq AS (
      SELECT vec_id, i AS p,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, 65)) t(i)
    ),
    vn AS (SELECT vec_id, SUM(q * q) AS vn FROM vq GROUP BY vec_id),
    cent AS (
      SELECT ks.k, vq.vec_id % ks.k AS seed, p, SUM(q) AS cs
      FROM vq CROSS JOIN ks GROUP BY ks.k, vq.vec_id % ks.k, p
    ),
    qn AS (SELECT k, seed, SUM(cs * cs) AS ql FROM cent GROUP BY k, seed),
    dots AS (
      SELECT c.k, v.vec_id, c.seed, SUM(v.q * c.cs) AS s
      FROM vq v JOIN cent c ON c.p = v.p
      GROUP BY c.k, v.vec_id, c.seed
    ),
    scored AS (
      SELECT d.k, d.vec_id, d.seed,
             CAST(d.s AS DOUBLE)
               / (sqrt(CAST(vn.vn AS DOUBLE)) * sqrt(CAST(qn.ql AS DOUBLE)))
               AS score
      FROM dots d
      JOIN vn ON vn.vec_id = d.vec_id
      JOIN qn ON qn.k = d.k AND qn.seed = d.seed
    ),
    best AS (
      SELECT k, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY k, vec_id
                                ORDER BY score DESC, seed ASC) AS rn
      FROM scored
    ),
    terms AS (
      SELECT k,
             CAST(ROUND(CAST(1 - score AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS term
      FROM best WHERE rn = 1
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS cosine_inertia
    FROM terms GROUP BY k
    """,
)
def embedding_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means inertia sweep for k ∈ {2, 4, 8}: seed centroids from
    the deterministic vec_id % k partition, run one nearest-centroid
    E-step by cosine, and sum the cosine inertia Σ(1 − cos) per k —
    the ELBOW curve read before committing a cluster count to
    similarity_ann_ivf or embedding_assign_centroid (inertia always
    falls with k; the elbow is where it stops paying).  All three k
    are swept in ONE pass: the k values cross-join onto the quantized
    component table, so centroid sums (exact int64, the
    embedding_assign_centroid discipline), norms, and dot products
    for every k share the same shuffles.  Per-vector inertia terms
    are decimal-rounded before the per-k sum (order-free); centroid
    tables are (k·seed·dim)-sized → broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    ks = spark.range(0, 3).select(
        F.element_at(F.array(F.lit(2), F.lit(4), F.lit(8)), F.col("id").cast("int") + 1)
        .cast("long")
        .alias("k")
    )
    # NOTE (round-11, measured): vq feeds three consumers (vector
    # norms, per-k centroid sums, dot products); an eager
    # localCheckpoint pin was tried and REVERTED — materializing the
    # EXPLODED table costs ~dim× the raw scan bytes, and the isolated
    # A/B was a wash-to-negative (1.79 → 1.97 s min-of-3 at sf0.1).
    # Re-scanning the compact array representation per consumer is the
    # cheaper side of the trade at every scale.
    vq = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000, 0).cast("long"),
            )
        ).alias("p", "q"),
    )
    vn = vq.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("vn"))
    vk = vq.crossJoin(F.broadcast(ks))
    cent = vk.groupBy(
        "k", (F.col("vec_id") % F.col("k")).alias("seed"), "p"
    ).agg(F.sum("q").alias("cs"))
    qn = cent.groupBy("k", "seed").agg(
        F.sum(F.col("cs") * F.col("cs")).alias("ql")
    )
    dots = (
        vq.join(F.broadcast(cent), "p")
        .groupBy("k", "vec_id", "seed")
        .agg(F.sum(F.col("q") * F.col("cs")).alias("s"))
    )
    scored = (
        dots.join(vn, "vec_id")
        .join(F.broadcast(qn), ["k", "seed"])
        .select(
            "k",
            "vec_id",
            "seed",
            (
                F.col("s").cast("double")
                / (
                    F.sqrt(F.col("vn").cast("double"))
                    * F.sqrt(F.col("ql").cast("double"))
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("k", "vec_id").orderBy(
        F.desc("score"), F.asc("seed")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    term = F.round((1 - F.col("score")).cast("decimal(20,12)"), 12).cast(
        "decimal(20,12)"
    )
    return (
        best.select("k", term.alias("term"))
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            _r(F.sum("term"), 6, "decimal(20,12)")
            .alias("cosine_inertia"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve OPTIMIZE clustering
# ---------------------------------------------------------------------------


@query(
    "delta_optimize_hilbert",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    """,
)
def delta_optimize_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE with Hilbert-curve clustering on (o_orderkey,
    o_custkey): rows identical after the rewrite (dataChange=false
    semantics), and each compacted file covers a contiguous run of
    the Hilbert curve — tighter per-file min/max boxes on BOTH
    columns than Morton Z-order, because consecutive Hilbert cells
    are always edge-adjacent (no diagonal jumps).  This is the curve
    Delta's liquid clustering uses; the skipping win over the
    fragmented layout is asserted in
    tests/test_coverage_ext.py::test_hilbert_optimize_prunes_both_dims.
    Parity: the reference compacts via OPTIMIZE on its emitted tables
    (README.md:50-51); clustering choice is the engine's."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import optimize_table, write_delta

    table = scratch_dir("gw_dhil_") + "/orders_delta"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    for i in range(4):
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    optimize_table(
        spark, table, target_files=16, hilbert_by=["o_orderkey", "o_custkey"]
    )
    return read_delta(spark, table)
