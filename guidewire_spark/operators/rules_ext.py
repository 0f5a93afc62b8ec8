"""Rule-mining and feature-encoding operators: market-basket
association rules (support / confidence / lift), MATCH_RECOGNIZE-lite
row-pattern matching over per-user event sequences, weight-of-evidence
/ information-value categorical encoding, and a three-way feature
scaling suite (z-score, min-max, robust).

These fill the classic "analytics engine" surface the registry did not
yet cover: frequent-itemset rule scoring (the first step of Apriori —
bounded to in-basket pair expansion, never an all-pairs join), SQL:2016
row-pattern matching re-expressed as a regex over an ordered per-key
symbol sequence, and the two feature-engineering transforms every
training pipeline applies before model fitting.

Exact-value doctrine (SURVEY.md §2.3): every count is an exact
integer, every monetary value rides the DECIMAL-cents bridge, and
every float that reaches the result is quantized through the
decimal(24,10) bridge on BOTH engines.  Where a quantized value feeds
a second computed column (IV terms from WOE), the QUANTIZED value is
reused so the only libm call (ln) has exactly one 6-dp boundary
exposure per row, never a compounded one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "mining_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_baskets AS (SELECT COUNT(DISTINCT basket) AS nb FROM items),
    item_counts AS (
      SELECT item, COUNT(*) AS n FROM items GROUP BY item
    ),
    pairs AS (
      SELECT a.item AS brand_a, b.item AS brand_b, COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           ca.n AS n_a, cb.n AS n_b, nb.nb AS n_baskets,
           CAST(ROUND(CAST(CAST(p.n_ab AS DOUBLE) / nb.nb
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS support,
           CAST(ROUND(CAST(CAST(p.n_ab AS DOUBLE) / ca.n
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS confidence,
           CAST(ROUND(CAST(CAST(p.n_ab AS DOUBLE) * nb.nb
                / (CAST(ca.n AS DOUBLE) * cb.n)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS lift
    FROM pairs p
    JOIN item_counts ca ON ca.item = p.brand_a
    JOIN item_counts cb ON cb.item = p.brand_b
    CROSS JOIN n_baskets nb
    WHERE p.n_ab >= 5
    """,
)
def mining_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order "baskets" of part
    brands: for every brand pair co-occurring in >= 5 orders, the three
    classic Apriori rule metrics — support n_ab/N, confidence(a→b)
    n_ab/n_a, and lift n_ab·N/(n_a·n_b).

    Scale shape (100 TB): the pair space is generated by a SELF-JOIN
    ON THE BASKET KEY, so expansion is bounded by (items-per-basket
    choose 2) — never |items|² — and both sides of that join shuffle
    on the same key (one co-partitioned exchange under AQE).  The item
    dimension (25 brands) and the basket-count scalar are broadcast;
    nothing larger than the distinct (basket, item) table moves.  All
    rule metrics derive from exact integer counts; ratios are
    quantized through the DECIMAL bridge."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    items = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n_baskets = items.agg(F.countDistinct("basket").alias("nb"))
    item_counts = items.groupBy("item").agg(F.count("*").alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("brand_a"), F.col("b.item").alias("brand_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ca = item_counts.select(F.col("item").alias("brand_a"), F.col("n").alias("n_a"))
    cb = item_counts.select(F.col("item").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.col("nb").alias("n_baskets"),
            _r(F.col("n_ab").cast("double") / F.col("nb"), 6).alias("support"),
            _r(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias("confidence"),
            _r(
                F.col("n_ab").cast("double")
                * F.col("nb")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "sql_row_pattern_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEN(regexp_extract_all(seq, 'vc+p')) AS BIGINT) AS n_matches,
           CAST(LENGTH(seq) AS BIGINT) AS seq_len
    FROM seqs
    WHERE LEN(regexp_extract_all(seq, 'vc+p')) > 0
    """,
)
def sql_row_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: SQL:2016 row-pattern matching re-expressed
    Spark-first.  Each user's event history, ordered by (ts, event_id),
    becomes a symbol string (v/c/p/s/e); the pattern ``v c+ p`` (a view,
    one-or-more clicks, then a purchase — the classic conversion
    funnel with PATTERN (V C+ P) semantics) is counted per user with
    non-overlapping left-to-right regex matching, which is exactly the
    SKIP PAST LAST ROW semantics of MATCH_RECOGNIZE.

    The per-user sequence is built with collect_list + array_sort
    (struct ordering on (ts, event_id) makes the string deterministic
    under any partition arrival order) and matched with the JVM-side
    regexp_count — no UDF, no driver loop.  Scale shape: state per
    user is its own event string, the same bound every sessionization
    carries; at 100 TB the same pattern runs per (user, session window)
    instead of per user — the operator composes with the session-window
    family unchanged."""
    e = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .when(F.col("event_type") == "signup", F.lit("s"))
        .otherwise(F.lit("e"))
    )
    seqs = (
        e.select("user_id", "ts", "event_id", sym.alias("sym"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "sym"))
                    ),
                    lambda s: s["sym"],
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.regexp_count("seq", F.lit("vc+p")).cast("long").alias("n_matches"),
        F.length("seq").cast("long").alias("seq_len"),
    ).filter(F.col("n_matches") > 0)


@query(
    "feature_woe_iv",
    oracle="""
    WITH counts AS (
      SELECT source,
             CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_good,
             CAST(SUM(CASE WHEN n_chars >= 300 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_bad
      FROM documents GROUP BY source
    ),
    totals AS (
      SELECT SUM(n_good) AS g, SUM(n_bad) AS b,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM counts
    ),
    woe AS (
      SELECT c.source, c.n_good, c.n_bad,
             CAST(ROUND(CAST(LN(((c.n_good + 0.5) * (t.b + 0.5 * t.k))
                                / ((c.n_bad + 0.5) * (t.g + 0.5 * t.k)))
                  AS DECIMAL(24,10)), 6) AS DOUBLE) AS woe,
             (c.n_good + 0.5) / (t.g + 0.5 * t.k) AS dg,
             (c.n_bad + 0.5) / (t.b + 0.5 * t.k) AS db
      FROM counts c CROSS JOIN totals t
    )
    SELECT source, n_good, n_bad, woe,
           CAST(ROUND(CAST((dg - db) * woe AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS iv_term
    FROM woe
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value encoding of a categorical
    feature (document source) against a binary label (n_chars >= 300,
    the corpus median split): WOE_i = ln((g_i/G)/(b_i/B)) with 0.5
    Laplace smoothing, and each category's IV contribution
    (g_i/G − b_i/B)·WOE_i — the risk-modeling encoder that binning
    pipelines apply before logistic fits.

    Numerical doctrine: the ln argument is assembled from EXACT
    half-integer products, so both engines call ln on bit-identical
    doubles (one 6-dp quantization boundary per row); the IV term
    multiplies the exact-rational share gap by the ALREADY-QUANTIZED
    WOE so the second column adds no new libm exposure.  Scale shape:
    one partial-aggregated count pass over (category, label), then a
    category-sized broadcast — the classic two-aggregate encoder, no
    row-level shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    good = F.when(F.col("n_chars") >= 300, 1).otherwise(0)
    counts = d.groupBy("source").agg(
        F.sum(good).alias("n_good"),
        F.sum(1 - good).alias("n_bad"),
    )
    totals = counts.agg(
        F.sum("n_good").alias("g"),
        F.sum("n_bad").alias("b"),
        F.count("*").cast("long").alias("k"),
    )
    woe_raw = F.log(
        ((F.col("n_good") + 0.5) * (F.col("b") + 0.5 * F.col("k")))
        / ((F.col("n_bad") + 0.5) * (F.col("g") + 0.5 * F.col("k")))
    )
    dg = (F.col("n_good") + 0.5) / (F.col("g") + 0.5 * F.col("k"))
    db = (F.col("n_bad") + 0.5) / (F.col("b") + 0.5 * F.col("k"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_good",
            "n_bad",
            _r(woe_raw, 6).alias("woe"),
            dg.alias("dg"),
            db.alias("db"),
        )
        .select(
            "source",
            "n_good",
            "n_bad",
            "woe",
            _r((F.col("dg") - F.col("db")) * F.col("woe"), 6).alias("iv_term"),
        )
    )


@query(
    "mining_sequence_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT user_id, e1 || '>' || e2 || '>' || e3 AS trigram
      FROM seq WHERE e3 IS NOT NULL
    )
    SELECT trigram,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_occurrences
    FROM tri
    GROUP BY trigram
    HAVING COUNT(DISTINCT user_id) >= 5
    """,
)
def mining_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, level 1 (the PrefixSpan seeding
    step): every CONSECUTIVE event-type trigram in per-user
    (ts, event_id)-ordered histories, scored by sequence support
    (distinct users containing it) and total occurrence count, kept at
    min-support 5 users.

    One window pass builds the trigrams (two LEADs — no self-joins,
    no sequence materialization), then a partial-aggregated count.
    Scale shape: the window partitions by user (the same shuffle every
    sessionization pays), the aggregate shuffles trigram keys whose
    cardinality is bounded by |event_types|³, and min-support filters
    in the final aggregate — the frequent-pattern lattice never grows
    past level 1 unless a later operator asks for it."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            "user_id",
            F.concat_ws(">", "e1", "e2", "e3").alias("trigram"),
        )
        .groupBy("trigram")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_users") >= 5)
    )


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT c_custkey AS node, CAST(1 AS BIGINT) AS depth
      FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, ch.depth + 1
      FROM customer c
        JOIN chain ch ON c.c_custkey // 7 = ch.node
                     AND c.c_custkey > ch.node
    )
    SELECT depth,
           COUNT(*) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_keys,
           MAX(node) AS max_key
    FROM chain GROUP BY depth
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE, the SQL:1999 feature
    the engine's SQL surface was still missing): walk the synthetic
    customer hierarchy parent(k) = k div 7 from the key-0 root
    downward (the child > parent guard excludes the root's div-7
    self-loop) and report each level's size, key sum, and max key —
    the org-chart / bill-of-materials traversal shape.

    Every customer reaches a root in O(log n) steps, so the recursion
    executes as a LOGARITHMIC number of iterative joins, each
    shuffling only that level's frontier on the parent key — the plan
    Catalyst's UnionLoop produces; no driver-side iteration.  The
    oracle is DuckDB's recursive CTE over the identical hierarchy
    (`//` and Spark's `div` both truncate toward zero — pinned by the
    module's division doctrine)."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, CAST(1 AS BIGINT) AS depth
          FROM customer WHERE c_custkey = 0
          UNION ALL
          SELECT c.c_custkey, ch.depth + 1
          FROM customer c
            JOIN chain ch ON c.c_custkey div 7 = ch.node
                         AND c.c_custkey > ch.node
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               SUM(node) AS sum_keys,
               MAX(node) AS max_key
        FROM chain GROUP BY depth
        """
    )


@query(
    "sql_recursive_cost_rollup",
    oracle="""
    WITH RECURSIVE lineage AS (
      SELECT c_custkey AS node, c_custkey AS anc,
             CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents
      FROM customer
      UNION ALL
      SELECT node, anc // 7, cents FROM lineage WHERE anc > 0
    )
    SELECT anc AS node,
           COUNT(*) AS n_subtree,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM lineage
    WHERE anc <= 48
    GROUP BY anc
    """,
)
def sql_recursive_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive AGGREGATION (the BOM cost-rollup shape): every
    customer's account balance rolls up through all its div-7
    ancestors, giving each top-two-level node its full SUBTREE size
    and cents total — the hierarchical summary a bill-of-materials or
    org-cost query computes, done with WITH RECURSIVE lineage
    expansion + one aggregate instead of per-level self-joins.

    The recursion carries (node, ancestor, cents) and each step
    divides the ancestor by 7, so the working set is n·log₇(n) rows
    built over ~6 frontier iterations — each a map-side projection,
    no join at all in the recursive step (the frontier rewrites
    itself); cents ride the DECIMAL bridge so the rollup is an exact
    integer sum.  The anc>0 guard terminates at the root (key 0 would
    otherwise self-loop, the same boundary sql_recursive_hierarchy
    pins going downward)."""
    from guidewire_spark.plans.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE lineage AS (
          SELECT c_custkey AS node, c_custkey AS anc,
                 CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents
          FROM customer
          UNION ALL
          SELECT node, anc div 7, cents FROM lineage WHERE anc > 0
        )
        SELECT anc AS node,
               COUNT(*) AS n_subtree,
               SUM(cents) AS subtree_cents
        FROM lineage
        WHERE anc <= 48
        GROUP BY anc
        """
    )


@query(
    "ts_holt_forecast_exact",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
      FROM events
    ),
    n AS (SELECT user_id, MAX(rn) AS t_max FROM base GROUP BY user_id),
    init AS (
      SELECT b2.user_id, b2.y AS l0, b2.y - b1.y AS b0
      FROM base b1 JOIN base b2
        ON b1.user_id = b2.user_id AND b1.rn = 1 AND b2.rn = 2
    ),
    state(user_id, t, l, b) AS (
      SELECT user_id, CAST(2 AS BIGINT), l0, b0 FROM init
      UNION ALL
      SELECT s.user_id, s.t + 1,
             (y.y + s.l + s.b) // 2,
             (s.b + ((y.y + s.l + s.b) // 2 - s.l)) // 2
      FROM state s JOIN base y
        ON y.user_id = s.user_id AND y.rn = s.t + 1
    )
    SELECT s.user_id, n.t_max AS n_obs,
           s.l AS level_micros, s.b AS trend_micros,
           s.l + 3 * s.b AS forecast3_micros
    FROM state s JOIN n ON n.user_id = s.user_id AND s.t = n.t_max
    """,
)
def ts_holt_forecast_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (α = β = 1/2)
    as an EXACT integer recursion: values ride the DECIMAL bridge into
    micro-units, and each step's level/trend update is integer
    arithmetic with truncating halving — l' = (y+l+b) div 2,
    b' = (b + (l'−l)) div 2 — so the final state and the 3-step-ahead
    forecast are engine-exact with zero float exposure despite the
    recursion (the failure mode that keeps most smoothers rows-only).

    The coupled recursion is not expressible as a prefix scan, so the
    Spark side is the legitimate applyInPandas case: one sequential
    pass per user, state O(1), groups shuffled once on user_id —
    exactly the sessionization partition bound.  The oracle drives the
    SAME recursion through DuckDB's recursive CTE (one frontier row
    per user per step).  Python's floor division is NOT the engines'
    truncating div — the loop uses a sign-corrected halving to match
    Spark's `div` / DuckDB's `//` exactly."""
    import pandas as pd

    from guidewire_spark.plans.catalog import sized_group_partitions

    e = load_table(spark, sf_dir, "events")
    # Round-12: size the grouped-map shuffle from the group count and
    # pin it with an explicit numbered repartition BEFORE the window —
    # the window and the FlatMapGroupsInPandas stage both reuse the
    # pinned hashpartitioning(user_id, n) (one exchange total), and
    # AQE cannot coalesce the per-group Python stage down to 1-6
    # tasks (same defect class + fix as udaf_apply_in_pandas; see
    # plans/catalog.sized_group_partitions).  Interleaved A/B ×3:
    # 3.5-7.8 s → 2.0-4.3 s (each round ~1.7× faster), identical
    # 1,500-row output.
    proj = e.select("user_id", "ts", "event_id", "value")
    parted = proj.repartition(
        sized_group_partitions(proj, "user_id"), "user_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = parted.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("y"),
    )

    def tdiv2(a: int) -> int:
        return a // 2 if a >= 0 else -((-a) // 2)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        ys = [int(v) for v in pdf["y"]]
        if len(ys) < 2:
            return pd.DataFrame(
                columns=[
                    "user_id",
                    "n_obs",
                    "level_micros",
                    "trend_micros",
                    "forecast3_micros",
                ]
            )
        level, trend = ys[1], ys[1] - ys[0]
        for y in ys[2:]:
            new_level = tdiv2(y + level + trend)
            trend = tdiv2(trend + (new_level - level))
            level = new_level
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_obs": [len(ys)],
                "level_micros": [level],
                "trend_micros": [trend],
                "forecast3_micros": [level + 3 * trend],
            }
        )

    return base.groupBy("user_id").applyInPandas(
        holt,
        "user_id long, n_obs long, level_micros long, "
        "trend_micros long, forecast3_micros long",
    )


@query(
    "dq_psi_drift",
    oracle="""
    WITH ev AS (
      SELECT event_id, epoch_us(ts) AS ts_us,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
      FROM events
    ),
    mid AS (
      SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS m FROM ev
    ),
    halves AS (
      SELECT ev.*, CASE WHEN ts_us <= m THEN 0 ELSE 1 END AS half
      FROM ev CROSS JOIN mid
    ),
    edges AS (
      SELECT UNNEST(quantile_cont(y,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS edge
      FROM halves WHERE half = 0
    ),
    binned AS (
      SELECT h.half,
             (SELECT COUNT(*) FROM edges e WHERE h.y > e.edge) AS bin
      FROM halves h
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_base,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ),
    totals AS (
      SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM counts
    ),
    terms AS (
      SELECT c.bin, c.n_base, c.n_cur,
             (c.n_cur + 0.5) / (t.tc + 5.0) AS pc,
             (c.n_base + 0.5) / (t.tb + 5.0) AS pb,
             CAST(ROUND(CAST(LN(((c.n_cur + 0.5) * (t.tb + 5.0))
                               / ((c.n_base + 0.5) * (t.tc + 5.0)))
                  AS DECIMAL(24,10)), 6) AS DOUBLE) AS ln_ratio
      FROM counts c CROSS JOIN totals t
    )
    SELECT bin, CAST(n_base AS BIGINT) AS n_base,
           CAST(n_cur AS BIGINT) AS n_cur, ln_ratio,
           CAST(ROUND(CAST((pc - pb) * ln_ratio AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS psi_term
    FROM terms
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: the event stream is
    split at its time midpoint, the BASELINE half's exact deciles
    become the bin edges, and each bin contributes
    (p_cur − p_base)·ln(p_cur/p_base) with 0.5 Laplace smoothing —
    the model-monitoring metric (PSI > 0.2 = significant drift)
    every feature-drift dashboard computes.

    Engine-exactness: values ride the DECIMAL bridge into micro-unit
    integers, decile edges are exact type-7 interpolations of those
    integers (bit-identical doubles both engines), bin assignment is
    a pure comparison count, and the single ln per bin is called on
    an exact-rational double then quantized — the PSI term reuses the
    QUANTIZED log-ratio (the WOE doctrine).  Scale shape: one
    aggregate computes the 9 edges, which broadcast; binning is a
    map-side array fold (F.aggregate, no join); counts partial-
    aggregate over 10 keys.  The baseline would be yesterday's stored
    edges in production — here it is derived in-query to stay
    self-contained."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("y"),
    )
    mid = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / F.lit(2))
        .cast("long")
        .alias("m")
    )
    halves = ev.crossJoin(F.broadcast(mid)).select(
        "y", F.when(F.col("ts_us") <= F.col("m"), 0).otherwise(1).alias("half")
    )
    edges = (
        halves.filter(F.col("half") == 0)
        .agg(
            F.percentile(
                "y", F.array(*[F.lit(p / 10.0) for p in range(1, 10)])
            ).alias("es")
        )
    )
    binned = halves.crossJoin(F.broadcast(edges)).select(
        "half",
        F.aggregate(
            "es",
            F.lit(0).cast("long"),
            lambda acc, edge: acc
            + F.when(F.col("y") > edge, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    totals = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    ln_ratio = F.log(
        ((F.col("n_cur") + 0.5) * (F.col("tb") + 5.0))
        / ((F.col("n_base") + 0.5) * (F.col("tc") + 5.0))
    )
    pc = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    pb = (F.col("n_base") + 0.5) / (F.col("tb") + 5.0)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_base",
            "n_cur",
            _r(ln_ratio, 6).alias("ln_ratio"),
            pc.alias("pc"),
            pb.alias("pb"),
        )
        .select(
            "bin",
            "n_base",
            "n_cur",
            "ln_ratio",
            _r((F.col("pc") - F.col("pb")) * F.col("ln_ratio"), 6).alias(
                "psi_term"
            ),
        )
    )


@query(
    "attribution_position_based",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events
    ),
    seg AS (
      SELECT *,
             COALESCE(SUM(is_p) OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS s
      FROM e
    ),
    converting AS (
      SELECT DISTINCT user_id, s FROM seg WHERE is_p = 1
    ),
    touches AS (
      SELECT seg.user_id, seg.s, seg.event_type, seg.rn,
             ROW_NUMBER() OVER (PARTITION BY seg.user_id, seg.s
                                ORDER BY seg.rn) AS pos,
             COUNT(*) OVER (PARTITION BY seg.user_id, seg.s) AS k
      FROM seg JOIN converting c
        ON c.user_id = seg.user_id AND c.s = seg.s
      WHERE seg.event_type IN ('view', 'click', 'signup')
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN k = 1 THEN 1000000
                  WHEN k = 2 THEN 500000
                  WHEN pos = 1 OR pos = k THEN 400000
                  ELSE 200000 // (k - 2) END AS credit
      FROM touches
    )
    SELECT event_type AS channel,
           COUNT(*) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS total_credit_micros
    FROM credited GROUP BY event_type
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase's credit is split over the touches (view/click/signup)
    since the user's previous purchase — 100% to a lone touch, 50/50
    to a pair, else 40% first / 40% last / 20% shared by the middles.
    Completes the attribution family beyond last-touch.

    Credit is INTEGER MICRO-UNITS with truncating division for the
    middle share (Spark div ≡ DuckDB //), so per-channel totals are
    exact integer sums — no float accumulation order to drift.  The
    conversion segment id is a running purchase count over a ROWS
    frame on the deterministic (ts, event_id) ordering; everything
    rides ONE user-partitioned exchange (the windows) plus the final
    channel aggregate — no joins against the raw stream except the
    segment-key semi-join that drops non-converting tails."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("rn")
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.unix_micros("ts"), "event_id"
            )
        )
        .alias("rn"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    seg = base.withColumn(
        "s",
        F.coalesce(
            F.sum("is_p").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    converting = (
        seg.filter(F.col("is_p") == 1).select("user_id", "s").distinct()
    )
    ws = Window.partitionBy("user_id", "s")
    touches = (
        seg.join(converting, ["user_id", "s"])
        .filter(F.col("event_type").isin("view", "click", "signup"))
        .select(
            "user_id",
            "s",
            "event_type",
            F.row_number().over(ws.orderBy("rn")).alias("pos"),
            F.count("*").over(ws).alias("k"),
        )
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(400000)
        )
        .otherwise(F.expr("200000 div (k - 2)"))
    )
    return (
        touches.select(F.col("event_type").alias("channel"), credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("credit").alias("total_credit_micros"),
        )
    )


@query(
    "mix_source_overlap_matrix",
    oracle="""
    WITH shingles AS (
      SELECT DISTINCT source, shingle
      FROM (
        SELECT source,
               array_to_string(words[i : i + 2], ' ') AS shingle
        FROM (
          SELECT source,
                 list_filter(string_split_regex(text, '\\s+'),
                             w -> w <> '') AS words
          FROM documents
        ), UNNEST(range(1, len(words) - 1)) AS t(i)
        WHERE len(words) >= 3
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM shingles GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           sa.n AS n_a, sb.n AS n_b,
           CAST(ROUND(CAST(i.n_inter
                / CAST(sa.n + sb.n - i.n_inter AS DOUBLE)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    WHERE i.n_inter >= 10
    """,
)
def mix_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix (training-mixture governance): for
    every source pair, the Jaccard overlap of their distinct token
    3-gram shingle sets — the dataset-level contamination/overlap
    report run before mixing corpora (doc-level near-dup tells you
    WHICH documents collide; this tells you which SOURCES share
    material and how much).

    Sparse inverted-index shape, pair generation WITHOUT a self-join
    (see ``_overlap_counts`` for the distributed pipeline and its
    scale rationale); the k²-sized count table is collected and the
    matrix assembled over a LocalTableScan.  Probe-measured rewrite:
    the self-join draft read α=0.66 / 4.8 s at sf0.1; the inverted
    index cut it (SCALING.md / PERF.md), the round-11 bitmask +
    collected-tail rewrite cut the steady-state again (3.5 → 2.05 s
    at sf0.1), and replacing the mask-histogram struct expansion with
    the codegen'd bit-position explode cut the corpus half once more
    (interleaved A/B min 2.09 → 1.47 s, OPTIMIZATION_r11.md).  One
    tokenize pass; min-overlap 10 keeps the reported matrix to
    material overlap."""
    from guidewire_spark.plans.catalog import local_df

    counts = _overlap_counts(spark, sf_dir)
    rows = counts.collect()
    sizes = {r["source_a"]: r["n"] for r in rows if r["source_b"] is None}
    inter_rows = sorted(
        (
            r["source_a"],
            r["source_b"],
            r["n"],
            sizes[r["source_a"]],
            sizes[r["source_b"]],
        )
        for r in rows
        if r["source_b"] is not None and r["n"] >= 10
    )
    out = local_df(
        spark,
        inter_rows,
        "source_a string, source_b string, n_inter long, n_a long, n_b long",
    )
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return out.select(
        "source_a",
        "source_b",
        "n_inter",
        "n_a",
        "n_b",
        _r(jac, 6).alias("jaccard"),
    )


def _overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of ``mix_source_overlap_matrix``: one
    corpus pass → per-source distinct-shingle sizes (source, NULL, n)
    and per-pair intersection counts (a, b, n) in a single k²-bounded
    frame."""
    from guidewire_spark.functions import text as T
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # Source membership as a 64-bit bitmask (round-11 optimization,
    # guide §2.3 "narrower types"): sources are a DIMENSION (tens of
    # mixture corpora, not data-sized), so each shingle's source SET
    # fits one long.  The k-sized distinct-source list is a metadata
    # collect (sorted → bit i IS rank i, so the mask decodes back to
    # exactly the sort_array(collect_set(source)) the previous shape
    # aggregated); bit_or() replaces collect_set() — the per-key
    # aggregate state is 8 bytes instead of a growing string set, and
    # the per-shingle masks then collapse into a mask HISTOGRAM whose
    # partial aggregation is bounded by distinct masks, not shingles.
    # The in-set pair explosion runs over that k²-bounded histogram,
    # weighted by cnt, instead of over every shingle row.  >64 sources
    # would need two mask words — fail loudly rather than silently
    # dropping bit 65 (no test corpus is near the limit; the reference
    # mixes single-digit source counts).
    srcs = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .collect()
        if r[0] is not None
    )
    if len(srcs) > 63:
        # 63, not 64: bit 63 is the long's sign bit and 1 << 63 has no
        # positive long literal
        raise ValueError(
            f"mix_source_overlap_matrix: {len(srcs)} sources exceed the "
            "63-bit membership mask; split the mixture or widen the mask"
        )
    bit_of = F.create_map(
        *[c for i, s in enumerate(srcs) for c in (F.lit(s), F.lit(1 << i))]
    )[F.col("source")]
    sh = d.where(F.size(T.words(F.col("text"))) >= 3).select(
        bit_of.alias("b"),
        F.explode(T.word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    # no .distinct() — bit_or dedups AND partial-aggregates map-side,
    # so raw shingle instances shuffle exactly once
    masks = sh.groupBy("shingle").agg(F.bit_or("b").alias("mask"))
    # Pair expansion over set-bit POSITIONS (ints), not source-name
    # structs.  The previous shape first histogrammed the masks
    # (groupBy(mask).count) assuming the histogram is k²-bounded and
    # then ran a nested transform/slice/struct expansion over it — but
    # distinct masks are bounded by min(2^k, |distinct shingles|), and
    # at 20 sources the histogram degenerates toward the shingle
    # count, so the interpreted HOF expansion allocated ~k²/2 string
    # structs per histogram row (stage-profiled at sf0.1: 7.3 s CPU
    # across the stage).  Here the only interpreted HOF is the k-int
    # set-bit filter per mask row; the (i, j) fan-out runs through two
    # codegen'd generators + a codegen'd j >= i filter, and the
    # counts partial-aggregate map-side to ≤ k(k+1)/2 groups before
    # the (tiny) final shuffle.  j == i encodes the SINGLE count —
    # masks with bit i set == the per-source distinct-shingle size —
    # so one aggregate serves both outputs (guide §2.3-2.4: narrower
    # shuffle keys, fewer passes).  (A 1-row wide-aggregate variant —
    # k(k+1)/2 count_ifs — was measured and rejected: per-invocation
    # Catalyst planning of the 210-expression tree cost ~7 s/run.)
    k = len(srcs)
    bits = F.expr(f"filter(sequence(0, {k - 1}), i -> ((mask >> i) & 1) = 1)")
    counts = (
        masks.select(bits.alias("bits"))
        .select(F.explode("bits").alias("i"), "bits")
        .select("i", F.explode("bits").alias("j"))
        .where(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("n"))
    )
    names = F.array(*[F.lit(s) for s in srcs])
    return counts.select(
        F.element_at(names, F.col("i") + 1).alias("source_a"),
        F.when(
            F.col("j") > F.col("i"), F.element_at(names, F.col("j") + 1)
        ).alias("source_b"),
        "n",
    )


@query(
    "text_keyword_rake",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i AS pos, words[i] AS w,
             CASE WHEN words[i] IN ('the','and','of','to','a')
                  THEN 1 ELSE 0 END AS is_stop
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS words
        FROM documents
      ), UNNEST(range(1, len(words) + 1)) AS t(i)
    ),
    segged AS (
      SELECT doc_id, pos, w, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
      FROM toks
    ),
    members AS (
      SELECT doc_id, seg, pos, w,
             COUNT(*) OVER (PARTITION BY doc_id, seg) AS plen
      FROM segged WHERE is_stop = 0
    ),
    cand AS (
      SELECT * FROM members WHERE plen BETWEEN 2 AND 4
    ),
    word_scores AS (
      SELECT w, (SUM(plen) * 1000000) // COUNT(*) AS score_ppm
      FROM cand GROUP BY w
    ),
    phrases AS (
      SELECT c.doc_id, c.seg,
             string_agg(c.w, ' ' ORDER BY c.pos) AS phrase,
             CAST(SUM(s.score_ppm) AS BIGINT) AS phrase_ppm
      FROM cand c JOIN word_scores s ON s.w = c.w
      GROUP BY c.doc_id, c.seg
    )
    SELECT phrase,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           MAX(phrase_ppm) AS score_ppm
    FROM phrases
    GROUP BY phrase
    HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs (2–4 words), each word scores
    degree/frequency over the candidate corpus, and a phrase scores
    the sum of its member word scores — the classic unsupervised
    keyphrase extractor, distributed.

    Scores are EXACT integer ppm (degree·10⁶ div freq, truncating),
    so phrase sums are order-proof integer additions — no float
    accumulation anywhere.  Scale shape: one tokenize pass (posexplode
    — positions come with the explode, no join against an index), one
    doc-partitioned window pair for segmentation, a vocabulary-keyed
    aggregate for word scores (broadcast back — vocabulary is a
    dimension), and phrase assembly grouped by (doc, segment) whose
    size is capped by the 4-word candidate rule.  Guarded ``fan_out``
    before the tokenize (round-11 second pass): the single-file sf
    scan ran it in ONE task; no-op at real scale."""
    from guidewire_spark.plans.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    from guidewire_spark.functions import text as T

    toks = d.select(
        "doc_id",
        F.posexplode(T.words(F.lower(F.col("text")))).alias("pos", "w"),
    ).select(
        "doc_id",
        "pos",
        "w",
        F.when(
            F.col("w").isin("the", "and", "of", "to", "a"), 1
        ).otherwise(0).alias("is_stop"),
    )
    wseg = Window.partitionBy("doc_id").orderBy("pos")
    segged = toks.withColumn("seg", F.sum("is_stop").over(wseg))
    members = (
        segged.filter(F.col("is_stop") == 0)
        .withColumn(
            "plen", F.count("*").over(Window.partitionBy("doc_id", "seg"))
        )
    )
    cand = members.filter(F.col("plen").between(2, 4))
    word_scores = cand.groupBy("w").agg(
        F.expr("(sum(plen) * 1000000) div count(*)").alias("score_ppm")
    )
    phrases = (
        cand.join(F.broadcast(word_scores), "w")
        .groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("score_ppm").alias("phrase_ppm"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.max("phrase_ppm").alias("score_ppm"),
        )
        .filter(F.col("n_docs") >= 3)
    )


@query(
    "agg_ab_assignment_srm",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substring(md5('exp42:' || CAST(c_custkey AS VARCHAR)),
                                 32, 1) IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ),
    arms AS (
      SELECT SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b,
             SUM(CASE WHEN arm = 'A' THEN cents ELSE 0 END) AS c_a,
             SUM(CASE WHEN arm = 'B' THEN cents ELSE 0 END) AS c_b
      FROM assigned
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ROUND(CAST((n_a - n_b) * (n_a - n_b)
                / CAST(n_a + n_b AS DOUBLE)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS srm_chi2,
           (n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)
             > 3.841 AS srm_flag,
           CAST(ROUND(CAST(c_a / CAST(n_a AS DOUBLE) / 100
                - c_b / CAST(n_b AS DOUBLE) / 100
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS mean_diff
    FROM arms
    """,
)
def agg_ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based experiment assignment + sample-ratio-
    mismatch check: each customer lands in arm A/B by the last hex
    nibble of md5(salt‖key) — the stable, coordination-free bucketing
    every experimentation platform uses (same key ⇒ same arm on any
    executor, any day) — and the 1-dof chi-square (n_A−n_B)²/(n_A+n_B)
    against the 50/50 design flags SRM at p<0.05, the first validity
    gate an A/B readout must pass.  The per-arm metric contrast rides
    exact cents.

    Assignment is a map-side expression (no shuffle), the readout one
    partial-aggregated global aggregate; md5 is bit-identical across
    engines so arms — not just counts — match exactly.  The SRM flag
    compares the RAW chi-square on both engines: the inputs are exact
    integers, so the boolean is as stable as the counts."""
    c = load_table(spark, sf_dir, "customer")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp42:"), F.col("c_custkey").cast("string"))),
            32,
            1,
        ).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        "A",
    ).otherwise("B")
    assigned = c.select(
        arm.alias("arm"),
        (F.col("c_acctbal").cast("decimal(14,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("cents")).otherwise(0)).alias(
            "c_a"
        ),
        F.sum(F.when(F.col("arm") == "B", F.col("cents")).otherwise(0)).alias(
            "c_b"
        ),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b")).cast("double")
    )
    return arms.select(
        "n_a",
        "n_b",
        _r(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841).alias("srm_flag"),
        _r(
            F.col("c_a") / F.col("n_a").cast("double") / 100
            - F.col("c_b") / F.col("n_b").cast("double") / 100,
            6,
        ).alias("mean_diff"),
    )


@query(
    "graph_adamic_adar",
    oracle="""
    WITH edges_all AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT c, s FROM (
        SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
        FROM edges_all
      ) WHERE rn <= 10
    ),
    cdeg AS (
      SELECT c,
             CAST(ROUND(CAST(1000000.0 / LN(COUNT(*))
                  AS DECIMAL(24,10)), 0) AS BIGINT) AS term_ppm
      FROM edges GROUP BY c HAVING COUNT(*) >= 2
    ),
    enriched AS (
      SELECT e.c, e.s, d.term_ppm FROM edges e JOIN cdeg d ON d.c = e.c
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             COUNT(*) AS common,
             SUM(a.term_ppm) AS aa_ppm
      FROM enriched a JOIN enriched b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s1, s2, CAST(common AS BIGINT) AS common,
           CAST(aa_ppm AS BIGINT) AS aa_ppm
    FROM pairs
    ORDER BY aa_ppm DESC, s1 ASC, s2 ASC
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the capped customer–supplier
    bipartite graph: supplier pairs score Σ_c 1/ln(deg(c)) over shared
    customers — rare shared neighbors count more than promiscuous
    ones, the refinement plain common-neighbor Jaccard
    (graph_jaccard_link_prediction, same graph, same cap) can't
    express.

    The per-neighbor weight is quantized ONCE to integer ppm (the
    degree domain is 2..10 after the cap, so there are nine ln calls
    in the whole query), and pair scores are exact integer SUMS — no
    float accumulation across the aggregation.

    Round-11 shape (guide §2.4, same rewrite as
    graph_jaccard_link_prediction): the capped neighbor list is ONE
    c-keyed aggregate (``sort_array(collect_set(s))[:10]`` ≡ the
    distinct + row_number≤10 cap — no ties on a distinct set); the
    degree weight is a row-local function of ``size(ns)`` (≡ the old
    per-c count, and the d≥2 filter ≡ "has at least one pair"); pairs
    come from in-row combinations of the sorted bounded array, so the
    self-join exchange and the duplicate edge-subtree computations
    disappear — one join+groupBy pass feeds a single chain."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    nbrs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .groupBy("c")
        .agg(F.slice(F.sort_array(F.collect_set("s")), 1, 10).alias("ns"))
    )
    pair_structs = F.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), "
        "y -> named_struct('s1', x, 's2', y))))"
    )
    term_ppm = (
        F.round(
            (F.lit(1000000.0) / F.log(F.size("ns"))).cast("decimal(24,10)"),
            0,
        )
        .cast("long")
        .alias("term_ppm")
    )
    pairs = (
        nbrs.where(F.size("ns") >= 2)
        .select(term_ppm, F.explode(pair_structs).alias("p"))
        .select("p.s1", "p.s2", "term_ppm")
        .groupBy("s1", "s2")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("term_ppm").alias("aa_ppm"),
        )
    )
    return pairs.orderBy(
        F.desc("aa_ppm"), F.asc("s1"), F.asc("s2")
    ).limit(20)


@query(
    "ts_holt_winters_exact",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, y
      FROM (
        SELECT epoch_us(ts) // CAST(86400000000 AS BIGINT) AS d,
               SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                 AS y
        FROM events GROUP BY 1
      )
    ),
    init AS (
      SELECT (SELECT SUM(y) FROM daily WHERE rn <= 7) // 7 AS l7,
             (SELECT list(y - ((SELECT SUM(y) FROM daily WHERE rn <= 7)
                              // 7) ORDER BY rn)
              FROM daily WHERE rn <= 7) AS ring
    ),
    state(t, l, b, s, ring) AS (
      SELECT CAST(7 AS BIGINT), l7, CAST(0 AS BIGINT),
             CAST(NULL AS BIGINT), ring
      FROM init
      UNION ALL
      SELECT s.t + 1,
             ((y.y - s.ring[1]) + (s.l + s.b)) // 2,
             (s.b + ((((y.y - s.ring[1]) + (s.l + s.b)) // 2) - s.l)) // 2,
             ((y.y - (((y.y - s.ring[1]) + (s.l + s.b)) // 2))
               + s.ring[1]) // 2,
             s.ring[2:] ||
               [((y.y - (((y.y - s.ring[1]) + (s.l + s.b)) // 2))
                 + s.ring[1]) // 2]
      FROM state s JOIN daily y ON y.rn = s.t + 1
    )
    SELECT s.t AS day_idx, CAST(d.y AS BIGINT) AS y_micros,
           CAST(s.l AS BIGINT) AS level_micros,
           CAST(s.b AS BIGINT) AS trend_micros,
           CAST(s.s AS BIGINT) AS seasonal_micros
    FROM state s JOIN daily d ON d.rn = s.t
    WHERE s.t >= 8
    """,
)
def ts_holt_winters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, weekly
    seasonality m=7, α=β=γ=1/2) over the daily event-value series as
    an EXACT integer recursion: level/trend/seasonal updates are
    truncating integer halvings over DECIMAL-bridged micro-units —
    l' = ((y−s₋₇)+(l+b)) div 2, b' = (b+(l'−l)) div 2,
    s' = ((y−l')+s₋₇) div 2 — with the first week initializing the
    level (mean) and the seasonal ring (deviations from it).  The
    seasonal-smoother class is normally rows-only; integer arithmetic
    makes it hash-exact.

    The series is the CALENDAR-BOUNDED daily aggregate (the repo's
    bounded-domain doctrine: its length is the observation span, not
    the row count), so the sequential pass is one tiny applyInPandas
    group after a partial-aggregated groupBy — raw events shuffle
    once.  The oracle drives the same recursion through DuckDB's
    recursive CTE carrying the 7-slot seasonal RING as a list column
    (ring[1] reads s₋₇, ring[2:]||[s'] rotates).  Truncating-div
    parity (Spark div ≡ DuckDB // ≡ the loop's sign-corrected
    halving) is pinned by tests/test_version_semantics.py."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr("unix_micros(ts) div 86400000000").alias("d"),
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")
            .alias("v"),
        )
        .groupBy("d")
        .agg(F.sum("v").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).alias("rn"), "y"
        )
    )

    def tdiv2(a: int) -> int:
        return a // 2 if a >= 0 else -((-a) // 2)

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        ys = [int(v) for v in pdf["y"]]
        if len(ys) < 8:
            return pd.DataFrame(
                columns=[
                    "day_idx",
                    "y_micros",
                    "level_micros",
                    "trend_micros",
                    "seasonal_micros",
                ]
            )
        l7 = sum(ys[:7]) // 7  # first-week sums are positive
        ring = [y - l7 for y in ys[:7]]
        level, trend = l7, 0
        out = []
        for t, y in enumerate(ys[7:], start=8):
            s_old = ring[0]
            new_level = tdiv2((y - s_old) + (level + trend))
            trend = tdiv2(trend + (new_level - level))
            s_new = tdiv2((y - new_level) + s_old)
            level = new_level
            ring = ring[1:] + [s_new]
            out.append((t, y, level, trend, s_new))
        return pd.DataFrame(
            out,
            columns=[
                "day_idx",
                "y_micros",
                "level_micros",
                "trend_micros",
                "seasonal_micros",
            ],
        )

    return daily.withColumn("g", F.lit(1)).groupBy("g").applyInPandas(
        hw,
        "day_idx long, y_micros long, level_micros long, "
        "trend_micros long, seasonal_micros long",
    )


@query(
    "er_blocking_quality",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name, substring(c_name, 1, 16) AS blk
      FROM customer WHERE c_custkey % 4 = 0
    ),
    n AS (SELECT COUNT(*) AS n_records FROM c),
    blocks AS (
      SELECT blk, COUNT(*) AS k FROM c GROUP BY blk
    ),
    cand AS (SELECT SUM(k * (k - 1) // 2) AS n_candidates FROM blocks),
    truth AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb,
             a.blk = b.blk AS same_block
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    tstats AS (
      SELECT COUNT(*) AS n_true,
             SUM(CASE WHEN same_block THEN 1 ELSE 0 END) AS n_found
      FROM truth
    )
    SELECT n.n_records,
           n.n_records * (n.n_records - 1) // 2 AS n_all_pairs,
           CAST(cand.n_candidates AS BIGINT) AS n_candidates,
           tstats.n_true, CAST(tstats.n_found AS BIGINT) AS n_found,
           CAST(ROUND(CAST(1.0 - cand.n_candidates
                / CAST(n.n_records * (n.n_records - 1) // 2 AS DOUBLE)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS reduction_ratio,
           CAST(ROUND(CAST(tstats.n_found / CAST(tstats.n_true AS DOUBLE)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS pair_completeness
    FROM n, cand, tstats
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for the record-linkage pipeline: the
    two standard metrics — REDUCTION RATIO (1 − candidates/all-pairs,
    how much work blocking saves) and PAIR COMPLETENESS (what fraction
    of true matches survive the blocks) — for exactly the 16-char
    prefix blocking er_blocked_fuzzy_match uses, against exact
    distance-≤1 ground truth.

    No pair set is ever materialized on the Spark side: candidates
    count as Σ k(k−1)/2 over BLOCK SIZES (one aggregate), and ground
    truth comes from the SymSpell deletion-neighborhood equi-join
    (join_fuzzy_deletion's method — linear fan-out, no cartesian),
    with same-block membership read off each truth pair's own prefix
    columns.  The oracle replaces the truth side with the O(n²)
    theta-join it is provably equivalent to — so this query also
    re-certifies the SymSpell ≡ exhaustive equivalence on a second
    corpus.  All counts exact; ratios DECIMAL-quantized."""
    # guarded fan-out (round-12): the SymSpell deletion-neighborhood
    # explode (~25 interpreted substring concats per name) ran in ONE
    # task on the single-file filtered scan (stage-profiled 1.18 s
    # single-task = most of the query); no-op at real scale
    from guidewire_spark.plans.catalog import fan_out

    c = fan_out(
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 4 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.substring("c_name", 1, 16).alias("blk"),
        )
    )
    n = c.agg(F.count("*").alias("n_records"))
    cand = (
        c.groupBy("blk")
        .agg(F.count("*").alias("k"))
        .agg(F.sum(F.expr("k * (k - 1) div 2")).alias("n_candidates"))
    )
    variants = c.select(
        "c_custkey",
        "c_name",
        "blk",
        F.explode(
            F.array_union(
                F.array(F.col("c_name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("c_name")),
                    lambda i: F.concat(
                        F.col("c_name").substr(F.lit(1), i - 1),
                        F.col("c_name").substr(i + 1, F.length("c_name")),
                    ),
                ),
            )
        ).alias("variant"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    truth = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        .select(
            F.col("a.c_custkey").alias("ka"),
            F.col("b.c_custkey").alias("kb"),
            (F.col("a.blk") == F.col("b.blk")).alias("same_block"),
        )
        .distinct()
    )
    tstats = truth.agg(
        F.count("*").alias("n_true"),
        F.sum(F.when(F.col("same_block"), 1).otherwise(0)).alias("n_found"),
    )
    return (
        n.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tstats))
        .select(
            "n_records",
            F.expr("n_records * (n_records - 1) div 2").alias("n_all_pairs"),
            "n_candidates",
            "n_true",
            "n_found",
            _r(
                F.lit(1.0)
                - F.col("n_candidates")
                / F.expr("n_records * (n_records - 1) div 2").cast("double"),
                6,
            ).alias("reduction_ratio"),
            _r(
                F.col("n_found") / F.col("n_true").cast("double"), 6
            ).alias("pair_completeness"),
        )
    )


@query(
    "ts_pacf_lag2",
    oracle="""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0)
                  AS BIGINT) AS v
      FROM events
    ),
    lagged AS (
      SELECT user_id, v,
             LAG(v, 1) OVER w AS p1,
             LAG(v, 2) OVER w AS p2
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sums AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(v) AS sv, SUM(p1) AS sp1, SUM(p2) AS sp2,
             SUM(v * p1) AS svp1, SUM(v * p2) AS svp2,
             SUM(v * v) AS svv,
             SUM(p1 * p1) AS sp1p1, SUM(p2 * p2) AS sp2p2
      FROM lagged WHERE p2 IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) >= 10
    ),
    r AS (
      SELECT user_id, n_pairs,
             CAST(ROUND(CAST(
               CAST(n_pairs * svp1 - sv * sp1 AS DOUBLE)
               / sqrt(CAST(n_pairs * svv - sv * sv AS DOUBLE)
                      * CAST(n_pairs * sp1p1 - sp1 * sp1 AS DOUBLE))
             AS DECIMAL(24,10)), 5) AS DOUBLE) AS r1,
             CAST(ROUND(CAST(
               CAST(n_pairs * svp2 - sv * sp2 AS DOUBLE)
               / sqrt(CAST(n_pairs * svv - sv * sv AS DOUBLE)
                      * CAST(n_pairs * sp2p2 - sp2 * sp2 AS DOUBLE))
             AS DECIMAL(24,10)), 5) AS DOUBLE) AS r2
      FROM sums
      WHERE n_pairs * svv - sv * sv > 0
        AND n_pairs * sp1p1 - sp1 * sp1 > 0
        AND n_pairs * sp2p2 - sp2 * sp2 > 0
    )
    SELECT user_id, n_pairs, r1, r2,
           CAST(ROUND(CAST((r2 - r1 * r1)
                / NULLIF(1.0 - r1 * r1, 0.0)
                AS DECIMAL(24,10)), 5) AS DOUBLE) AS pacf2
    FROM r
    """,
)
def ts_pacf_lag2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lag 2 per user (Yule-Walker:
    φ₂₂ = (r₂ − r₁²)/(1 − r₁²)) — the ACF's companion every
    ARIMA-order diagnostic reads: ACF says how far correlation
    reaches, PACF says whether lag-2 adds anything once lag-1 is
    accounted for.  Completes the acf/pacf pair next to
    ts_autocorr_lag1.

    Cross-engine exactness (the ts_autocorrelation_function
    discipline, replacing the earlier F.corr/corr formulation whose
    float accumulation order could flip the 5th decimal near a
    rounding boundary): values quantize to exact int64 milli-units
    through the DECIMAL bridge, each r_k is Pearson over EXACT
    integer power sums — the only doubles are final divisions of
    identical int64s on both engines — and φ₂₂ derives from the
    already-quantized r₁, r₂.  The co-moment sums accumulate
    map-side over the same user_id exchange the LAG windows use
    (one shuffle total; int64 headroom: |v| ≤ ~1e6 milli-units and
    per-user runs are bounded, so n·Σv² stays far below 2^63); a
    unit-root r₁ = ±1 yields NULL via NULLIF rather than ±inf."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0)
        .cast("long")
        .alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (
        q.withColumn("p1", F.lag("v", 1).over(w))
        .withColumn("p2", F.lag("v", 2).over(w))
        .where(F.col("p2").isNotNull())
    )
    v, p1, p2 = F.col("v"), F.col("p1"), F.col("p2")
    sums = (
        lagged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(v).alias("sv"),
            F.sum(p1).alias("sp1"),
            F.sum(p2).alias("sp2"),
            F.sum(v * p1).alias("svp1"),
            F.sum(v * p2).alias("svp2"),
            F.sum(v * v).alias("svv"),
            F.sum(p1 * p1).alias("sp1p1"),
            F.sum(p2 * p2).alias("sp2p2"),
        )
        .where(F.col("n_pairs") >= 10)
    )
    n = F.col("n_pairs")
    sv, sp1, sp2 = F.col("sv"), F.col("sp1"), F.col("sp2")
    svp1, svp2 = F.col("svp1"), F.col("svp2")
    svv, sp1p1, sp2p2 = F.col("svv"), F.col("sp1p1"), F.col("sp2p2")
    var_v = n * svv - sv * sv
    var_1 = n * sp1p1 - sp1 * sp1
    var_2 = n * sp2p2 - sp2 * sp2
    r = sums.where((var_v > 0) & (var_1 > 0) & (var_2 > 0)).select(
        "user_id",
        "n_pairs",
        _r(
            (n * svp1 - sv * sp1).cast("double")
            / F.sqrt(var_v.cast("double") * var_1.cast("double")),
            5,
        ).alias("r1"),
        _r(
            (n * svp2 - sv * sp2).cast("double")
            / F.sqrt(var_v.cast("double") * var_2.cast("double")),
            5,
        ).alias("r2"),
    )
    return r.select(
        "user_id",
        "n_pairs",
        "r1",
        "r2",
        _r(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / F.nullif(F.lit(1.0) - F.col("r1") * F.col("r1"), F.lit(0.0)),
            5,
        ).alias("pacf2"),
    )


@query(
    "feature_scaling_suite",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    stats AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(cents) AS DOUBLE) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))
                      * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS ss,
             CAST(MIN(cents) AS DOUBLE) AS mn,
             CAST(MAX(cents) AS DOUBLE) AS mx,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.5) AS med,
             quantile_cont(cents, 0.75) AS q3
      FROM base GROUP BY o_orderpriority
    )
    SELECT b.o_orderkey, b.o_orderpriority, b.cents,
           CAST(ROUND(CAST((b.cents - s.s / s.n)
                / SQRT(s.ss / s.n - (s.s / s.n) * (s.s / s.n))
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS z,
           CAST(ROUND(CAST((b.cents - s.mn) / (s.mx - s.mn)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS mm,
           CAST(ROUND(CAST((b.cents - s.med) / (s.q3 - s.q1)
                AS DECIMAL(24,10)), 6) AS DOUBLE) AS robust
    FROM base b JOIN stats s USING (o_orderpriority)
    WHERE b.o_orderkey % 97 = 0
    """,
)
def feature_scaling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three standard feature scalers side by side, per order
    priority group: z-score ((x−μ)/σ_pop), min-max ((x−min)/range), and
    robust ((x−median)/IQR with exact interpolated quartiles) — the
    sklearn StandardScaler / MinMaxScaler / RobustScaler trio as one
    distributed pass.

    Group statistics come from ONE partial-aggregated groupBy whose
    sums are exact (cents as DECIMAL(38,0); sum-of-squares never
    touches float), so μ and σ are identical doubles on both engines;
    quartiles are exact type-7 interpolation (Spark percentile ≡
    DuckDB quantile_cont).  The group-stats table (5 rows) broadcasts
    back onto the fact — scaling 100 TB costs one aggregate pass plus
    one map-side join, the textbook two-pass scaler.  Output is a
    deterministic 1-in-97 key sample so the checked set stays bounded
    while the statistics cover every row."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    cd = F.col("cents").cast("decimal(38,0)")
    # one percentile buffer for all three quartiles (round-12, same
    # bit-equal array-form rewrite as agg_tukey_fences)
    qq = F.percentile("cents", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    stats = base.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("double").alias("s"),
        F.sum(cd * cd).cast("double").alias("ss"),
        F.min("cents").cast("double").alias("mn"),
        F.max("cents").cast("double").alias("mx"),
        qq[0].alias("q1"),
        qq[1].alias("med"),
        qq[2].alias("q3"),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return (
        base.filter(F.col("o_orderkey") % 97 == 0)
        .join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            _r((F.col("cents") - mean) / sd, 6).alias("z"),
            _r(
                (F.col("cents") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6
            ).alias("mm"),
            _r(
                (F.col("cents") - F.col("med")) / (F.col("q3") - F.col("q1")), 6
            ).alias("robust"),
        )
    )
