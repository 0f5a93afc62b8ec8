"""Graph-topology operators over the supplier co-supply graph:
degree distribution, k-core peeling, bipartite projection, and degree
assortativity.

The graph is the one sql_recursive_cte walks: vertices are suppliers
of the sampled parts (l_partkey % 100 = 0), with an undirected edge
between two suppliers that co-supply a part.  Everything here reduces
to joins and aggregates over the (part, supplier) pair list and the
edge list it induces — the edge list is sample-bounded, never
lineitem-sized, so each operator's shuffles move (vertex, vertex) or
(vertex, count) longs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


_PAIRS_SQL = """
      SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      FROM lineitem WHERE l_partkey % 100 = 0
"""

_EDGES_SQL = f"""
    pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT DISTINCT a.sk AS u, b.sk AS v
      FROM pairs a JOIN pairs b ON a.pk = b.pk AND a.sk < b.sk
    ),
    und AS (SELECT u AS s, v AS t FROM edges
            UNION ALL SELECT v AS s, u AS t FROM edges)
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-supply edges, canonical u < v."""
    p = _pairs(spark, sf_dir)
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.sk") < F.col("b.sk")))
        .select(F.col("a.sk").alias("u"), F.col("b.sk").alias("v"))
        .distinct()
    )


def _und(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    return e.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        e.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )


# ---------------------------------------------------------------------------
# Degree distribution
# ---------------------------------------------------------------------------


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT s AS sk, COUNT(*) AS degree FROM und GROUP BY s)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-supply graph — the first diagnostic
    read on any graph workload (a heavy power-law tail means the
    skew-join treatment of join_skew_salted applies to every
    per-vertex operator downstream; a flat histogram means plain hash
    partitioning by vertex is safe).  Two partial-aggregated
    reductions over the edge list: per-vertex degree, then
    per-degree count — both shuffle only (long, long) pairs."""
    deg = _und(spark, sf_dir).groupBy("s").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_vertices")
    ).select(F.col("degree").cast("long").alias("degree"), "n_vertices")


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_EDGES_SQL},
    d1 AS (SELECT s, COUNT(*) AS deg FROM und GROUP BY s),
    k1 AS (SELECT s FROM d1 WHERE deg >= 3),
    e1 AS (SELECT u.s, u.t FROM und u
           JOIN k1 a ON a.s = u.s JOIN k1 b ON b.s = u.t),
    d2 AS (SELECT s, COUNT(*) AS deg FROM e1 GROUP BY s),
    k2 AS (SELECT s FROM d2 WHERE deg >= 3),
    e2 AS (SELECT u.s, u.t FROM e1 u
           JOIN k2 a ON a.s = u.s JOIN k2 b ON b.s = u.t),
    d3 AS (SELECT s, COUNT(*) AS deg FROM e2 GROUP BY s),
    k3 AS (SELECT s FROM d3 WHERE deg >= 3),
    e3 AS (SELECT u.s, u.t FROM e2 u
           JOIN k3 a ON a.s = u.s JOIN k3 b ON b.s = u.t)
    SELECT CAST(s AS BIGINT) AS vertex, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e3 GROUP BY s
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core extraction by iterative peeling: drop vertices of degree
    < 3, delete their incident edges, recompute, repeat — the standard
    dense-subgraph screen (spam rings, tight duplicate clusters)
    that degree alone misses because peeling CASCADES (removing a leaf
    can demote its neighbor below k).  Three unrolled peel rounds —
    the aggregate-inside-recursion that WITH RECURSIVE cannot express,
    so both engines run the identical bounded unroll; each round is
    one degree aggregate + one semi-join-shaped edge filter over the
    shrinking edge list, the graph_pagerank containment argument.
    Emits the surviving vertices with their within-core degree."""
    edges = _und(spark, sf_dir).localCheckpoint(eager=True)
    for _ in range(3):
        deg = edges.groupBy("s").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= 3).select("s")
        edges = (
            edges.join(keep.withColumnRenamed("s", "ks"), F.col("s") == F.col("ks"))
            .drop("ks")
            .join(keep.withColumnRenamed("s", "kt"), F.col("t") == F.col("kt"))
            .drop("kt")
        )
    return edges.groupBy("s").agg(F.count("*").alias("core_degree")).select(
        F.col("s").cast("long").alias("vertex"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )


# ---------------------------------------------------------------------------
# Bipartite projection
# ---------------------------------------------------------------------------


@query(
    "graph_bipartite_projection",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    proj AS (
      SELECT a.sk AS u, b.sk AS v, COUNT(*) AS shared_parts
      FROM pairs a JOIN pairs b ON a.pk = b.pk AND a.sk < b.sk
      GROUP BY a.sk, b.sk
    )
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
           CAST(shared_parts AS BIGINT) AS shared_parts
    FROM proj
    ORDER BY shared_parts DESC, u ASC, v ASC
    LIMIT 20
    """,
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted one-mode projection of the part-supplier bipartite
    graph: supplier pairs weighted by how many parts they co-supply,
    top-20 — the generic "co-occurrence graph from a two-column
    relation" operator (doc-term, user-item, order-product all reduce
    to this shape).  One self-join on the part key with the canonical
    u < v orientation (each pair counted once), partial-aggregated
    count, then TakeOrdered for the bounded head — the full projection
    is never sorted.  Skew note: a part supplied by s suppliers fans
    out s² pairs; the l_partkey % 100 sample bounds s here, and at
    100 TB the frequent-key split of join_skew_salted applies."""
    p = _pairs(spark, sf_dir)
    a, b = p.alias("a"), p.alias("b")
    proj = (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.sk") < F.col("b.sk")))
        .groupBy(F.col("a.sk").alias("u"), F.col("b.sk").alias("v"))
        .agg(F.count("*").alias("shared_parts"))
    )
    return (
        proj.select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("shared_parts").cast("long").alias("shared_parts"),
        )
        .orderBy(F.desc("shared_parts"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT s AS sk, COUNT(*) AS d FROM und GROUP BY s),
    ed AS (
      SELECT du.d AS a, dv.d AS b
      FROM und u JOIN deg du ON du.sk = u.s JOIN deg dv ON dv.sk = u.t
    ),
    sums AS (
      SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
             SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
      FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(ROUND(CAST(
             CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                    * CAST(n * sbb - sb * sb AS DOUBLE))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS assortativity
    FROM sums
    WHERE n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: the Pearson correlation of endpoint
    degrees over all directed edge instances — positive means hubs
    link to hubs (a tightly-coupled core: one hot partition in any
    vertex-partitioned job), negative means hub-and-spoke (broadcast
    the hubs instead).  Per-vertex degrees join back onto the edge
    list (two (long, long) shuffles), then one exact int64 power-sum
    reduction — the agg_spearman_rank_corr Pearson core on degree
    pairs; both symmetric edge orientations are included, the standard
    Newman convention."""
    und = _und(spark, sf_dir)
    deg = und.groupBy("s").agg(F.count("*").alias("d"))
    ed = (
        und.join(deg.select(F.col("s").alias("sk"), F.col("d").alias("a")),
                 F.col("s") == F.col("sk"))
        .drop("sk")
        .join(deg.select(F.col("s").alias("tk"), F.col("d").alias("b")),
              F.col("t") == F.col("tk"))
        .select("a", "b")
    )
    sums = ed.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    var_a = n * saa - sa * sa
    var_b = n * sbb - sb * sb
    # degenerate (regular-graph) degree sequences have zero variance:
    # emit no row rather than divide by zero (ANSI mode) — the oracle
    # filters identically, so both engines agree at every scale
    return sums.where((var_a > 0) & (var_b > 0)).select(
        n.cast("long").alias("n_directed_edges"),
        _r(
            (n * sab - sa * sb).cast("double")
            / F.sqrt(var_a.cast("double") * var_b.cast("double")),
            6,
        ).alias("assortativity"),
    )
