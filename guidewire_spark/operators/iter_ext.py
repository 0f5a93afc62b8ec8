"""Iterative-algorithm and segmentation operators: multi-source BFS
distances over the co-purchase graph (unrolled frontier expansion,
recursive-CTE oracle), cohort LTV accumulation curves, parameterized
SQL (named-argument binding), multi-key blocked entity resolution
(union-of-blockers candidate generation), and RFM customer
segmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import ntile_from_rank, two_phase_ordered
from guidewire_spark.plans.catalog import load_table, register_views
from guidewire_spark.registry import query


@query(
    "graph_bfs_distance",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 2 = 0
    ),
    hops AS (
      SELECT c AS a, s AS b FROM edges
      UNION
      SELECT s AS a, c AS b FROM edges
    ),
    -- multi-source BFS from hub suppliers (s % 100 = 0), depth <= 3
    bfs AS (
      SELECT s AS node, 0 AS dist FROM edges WHERE s % 100 = 0
      UNION
      SELECT h.b AS node, bfs.dist + 1
      FROM bfs JOIN hops h ON h.a = bfs.node
      WHERE bfs.dist < 3
    )
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
    FROM (SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node)
    GROUP BY dist
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: shortest hop distance from the hub suppliers
    (every 100th) to every reachable node of the bipartite co-purchase
    graph, depth-capped at 3, reported as a distance histogram — the
    reachability/proximity primitive behind influence and blast-radius
    analyses.

    Unrolled frontier expansion (the PageRank discipline at
    training.py::graph_pagerank): each hop is one join of the CURRENT
    frontier against the edge list + a min-aggregate; visited-node
    state is (node, dist) pairs only. The DuckDB oracle is a true
    recursive CTE — the declarative twin of the unrolled loop, proving
    the unrolling exact."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("o_custkey") % 2 == 0)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    hops = edges.select(
        F.col("c").alias("a"), F.col("s").alias("b")
    ).unionByName(
        edges.select(F.col("s").alias("a"), F.col("c").alias("b"))
    ).distinct()
    hops = hops.localCheckpoint()  # truncate lineage for the iteration
    frontier = (
        edges.where(F.col("s") % 100 == 0)
        .select(F.col("s").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    best = frontier
    for _ in range(3):
        nxt = (
            frontier.join(hops, frontier.node == hops.a)
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        best = best.unionByName(nxt).groupBy("node").agg(
            F.min("dist").alias("dist")
        )
        frontier = best
    return best.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count("*").alias("n_nodes")
    )


@query(
    "ts_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ),
    weekly AS (
      SELECT f.cohort,
             CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort))
                  // 604800 AS BIGINT) AS age_weeks,
             SUM(CAST(ROUND(CAST(e.value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS rev_q
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY f.cohort, age_weeks
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, age_weeks,
           CAST(ROUND(CAST(
             CAST(SUM(rev_q) OVER (PARTITION BY cohort ORDER BY age_weeks
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 1000.0 AS DECIMAL(24,10)), 3) AS DOUBLE) AS cum_revenue
    FROM weekly
    """,
)
def ts_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation: per signup-week cohort, cumulative
    purchase revenue by cohort age — the lifetime-value curve that
    sits next to the retention triangle (ts_cohort_retention). Revenue
    accumulates in exact integer milli-units; the running sum runs
    over the (cohort × age)-sized aggregate, never raw events."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts").cast("date")).alias("cohort")
    )
    rev_q = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    weekly = (
        e.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort",
            F.expr(
                "(unix_timestamp(date_trunc('week', ts)) - unix_timestamp(cohort))"
                " div 604800"
            ).alias("age_weeks"),
        )
        .agg(F.sum(rev_q).alias("rev_q"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return weekly.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "age_weeks",
        _r(F.sum("rev_q").over(w).cast("double") / 1000.0, 3).alias(
            "cum_revenue"
        ),
    )


@query(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named-argument binding (Spark 3.4+):
    values bind as literals through the args dict — injection-proof by
    construction (a parameter can never splice syntax) and
    plan-cache-friendly (one parse per template). The surface every
    service layer should use instead of f-strings."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "O"},
    )


@query(
    "er_multi_key_blocking",
    oracle="""
    WITH ents AS (
      SELECT s_suppkey AS id, lower(s_name) AS name,
             CAST(s_nationkey AS BIGINT) AS nk
      FROM supplier
    ),
    b1 AS (  -- blocker 1: same nation + same name prefix
      SELECT a.id AS id1, b.id AS id2
      FROM ents a JOIN ents b
        ON a.nk = b.nk AND substring(a.name, 1, 9) = substring(b.name, 1, 9)
       AND a.id < b.id
    ),
    b2 AS (  -- blocker 2: same name length + same last two chars
      SELECT a.id AS id1, b.id AS id2
      FROM ents a JOIN ents b
        ON length(a.name) = length(b.name)
       AND substring(a.name, -2, 2) = substring(b.name, -2, 2)
       AND a.id < b.id
    ),
    cand AS (SELECT id1, id2 FROM b1 UNION SELECT id1, id2 FROM b2),
    scored AS (
      SELECT c.id1, c.id2, levenshtein(e1.name, e2.name) AS d
      FROM cand c JOIN ents e1 ON e1.id = c.id1 JOIN ents e2 ON e2.id = c.id2
    )
    SELECT id1, id2, CAST(d AS BIGINT) AS edit_distance
    FROM scored WHERE d <= 3
    """,
)
def er_multi_key_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with a UNION of blocking keys: candidate
    pairs come from two independent blockers (nation + name prefix;
    name length + last two characters), deduplicated, then scored with edit
    distance — multi-key blocking is what keeps recall when any single
    key splits true matches, while every blocker stays a bounded
    equi-join (never all-pairs). The er_blocked_fuzzy_match pattern
    generalized to the production shape."""
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.lower("s_name").alias("name"),
        F.col("s_nationkey").cast("long").alias("nk"),
    )
    a = s.select(
        F.col("id").alias("id1"),
        F.col("name").alias("name1"),
        F.col("nk").alias("nk1"),
    )
    b = s.select(
        F.col("id").alias("id2"),
        F.col("name").alias("name2"),
        F.col("nk").alias("nk2"),
    )
    b1 = a.join(
        b,
        (F.col("nk1") == F.col("nk2"))
        & (F.substring("name1", 1, 9) == F.substring("name2", 1, 9))
        & (F.col("id1") < F.col("id2")),
    ).select("id1", "id2")
    b2 = a.join(
        b,
        (F.length("name1") == F.length("name2"))
        & (F.substring("name1", -2, 2) == F.substring("name2", -2, 2))
        & (F.col("id1") < F.col("id2")),
    ).select("id1", "id2")
    cand = b1.unionByName(b2).distinct()
    scored = (
        cand.join(
            s.select(F.col("id").alias("id1"), F.col("name").alias("n1")), "id1"
        )
        .join(
            s.select(F.col("id").alias("id2"), F.col("name").alias("n2")), "id2"
        )
        .select(
            "id1",
            "id2",
            F.levenshtein("n1", "n2").cast("long").alias("edit_distance"),
        )
    )
    return scored.where(F.col("edit_distance") <= 3)


@query(
    "agg_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS monetary_q
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY last_seen DESC, user_id)   AS r,
             NTILE(4) OVER (ORDER BY frequency DESC, user_id)   AS f,
             NTILE(4) OVER (ORDER BY monetary_q DESC, user_id)  AS m
      FROM rfm
    )
    SELECT CAST(r AS BIGINT) || '-' || CAST(f AS BIGINT) || '-' ||
             CAST(m AS BIGINT) AS segment,
           COUNT(*) AS n_users
    FROM scored GROUP BY 1
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for Recency / Frequency /
    Monetary value per purchasing user, concatenated into the classic
    segment label (1-1-1 = best) with segment sizes — the marketing
    workhorse. NTILE ordering is made total with the user_id
    tie-break, so quartile boundaries are deterministic; everything
    past the first aggregate is user-cardinality-sized — and user
    cardinality grows with the data, so each of the three quartile
    ranks runs TWO-PHASE (twophase.two_phase_ordered, NTILE derived
    from the global rank by ntile_from_rank's exact
    remainder-to-leading-buckets arithmetic): three parallel
    range-shuffles, zero single-partition windows."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    rfm = e.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias(
            "monetary_q"
        ),
    )
    scored = rfm
    for name, key in (
        ("r", "last_seen"),
        ("f", "frequency"),
        ("m", "monetary_q"),
    ):
        scored = two_phase_ordered(
            scored,
            [F.desc(key), F.asc("user_id")],
            rank_name="__rnk",
            total_name="__nt",
        ).withColumn(name, ntile_from_rank(4, "__rnk", "__nt")).drop(
            "__rnk", "__nt"
        )
    seg = F.concat_ws(
        "-",
        F.col("r").cast("long"),
        F.col("f").cast("long"),
        F.col("m").cast("long"),
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count("*").alias("n_users")
    )
