"""Join operators (SURVEY.md §2.4 "Joins").

Scale posture: dimension tables (region/nation/supplier/part/customer)
are broadcast explicitly with ``F.broadcast`` so the 100 TB fact side
(lineitem/orders) never shuffles for dimension joins; fact-to-fact
joins (lineitem ⋈ orders) shuffle on the join key and rely on AQE for
skew splitting. Semi/anti joins are expressed natively (left_semi /
left_anti) so Spark never materializes the probe side's payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "join_inner_fact_dim",
    oracle="""
    SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_fact_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain fact→dim→dim with aggregation.

    customer and nation are broadcast; orders never shuffles for the
    join (only for the final tiny groupBy on n_name).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every nation row survives, suppliers optional."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_nationkey", "n_name", "s_suppkey"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT k AS key, a.cnt AS cust_cnt, b.cnt AS supp_cnt
    FROM (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1) a
    FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS cnt FROM supplier GROUP BY 1) b
    USING (k)
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates on the same key."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("cust_cnt"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("supp_cnt"))
    )
    return c.join(s, "k", "full").select(
        F.col("k").alias("key"), "cust_cnt", "supp_cnt"
    )


@query(
    "join_broadcast_hint",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash-join hint (plan shows BroadcastHashJoin)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one large order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dimensions (125 rows)."""
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return r.crossJoin(n)


@query(
    "join_theta_range",
    oracle="""
    SELECT p_partkey, p_size, b.bucket_name
    FROM part,
         (SELECT * FROM (VALUES ('small', 1, 15), ('medium', 16, 35), ('large', 36, 50))
            AS t(bucket_name, lo, hi)) b
    WHERE p_size BETWEEN b.lo AND b.hi
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/interval) join: bucket parts by size range.

    The bucket table is tiny → Spark picks BroadcastNestedLoopJoin,
    which is the right physical plan for a non-equi join against a
    broadcastable side even at 100 TB of parts.
    """
    p = load_table(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("small", 1, 15), ("medium", 16, 35), ("large", 36, 50)],
        "bucket_name string, lo int, hi int",
    )
    return p.join(
        F.broadcast(buckets),
        (p.p_size >= buckets.lo) & (p.p_size <= buckets.hi),
    ).select("p_partkey", "p_size", "bucket_name")


@query(
    "join_self",
    oracle="""
    SELECT a.n_nationkey AS nation_a, b.n_nationkey AS nation_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join via aliases: unordered nation pairs within a region."""
    n = load_table(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").alias("nation_a"),
        F.col("b.n_nationkey").alias("nation_b"),
    )


def asof_merge(
    probe: DataFrame,
    event: DataFrame,
    probe_time: str,
    event_time: str,
    event_val: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Global (un-keyed) as-of merge: for every probe row, the value of
    the latest event at-or-before its timestamp.

    Spark lacks a native ASOF JOIN (reference: DuckDB-style ``ASOF JOIN
    ON e.ts <= p.ts``).  The scalable composition — neither side is
    broadcast, no O(n·m) range join — is a *bucketed union-and-window
    merge*:

    1. Tag both streams and union them on the time axis; bucket rows by
       a fixed time width, so the expensive sort is
       ``partitionBy(bucket)`` — parallel across buckets, never a
       global single-partition sort.
    2. Within each bucket, a running ``last(val, ignorenulls)`` ordered
       by (ts, is_probe) gives each probe the latest event in its own
       bucket (events sort before probes at equal ts, matching the
       inclusive ``<=`` bound).
    3. Probes whose bucket has no earlier event take the *carry-in*:
       the last event value of any previous bucket, computed on a
       bucket-count-sized aggregate (one row per bucket) and broadcast.

    At 100 TB this shuffles each row once (hash by bucket), runs a
    per-bucket local sort, and broadcasts only #buckets rows.
    ``bucket_seconds`` tunes skew resistance: the default day width
    suits sparse probes; drop to 3600 (or lower) when single days are
    hot — the algorithm is invariant to the width (locked by
    tests/test_joins_quality.py), only the shuffle fan-out changes.

    Returns the probe's non-time columns plus ``asof_<event_val>``;
    probes before the first event are dropped (inner ASOF semantics).
    """
    payload_cols = [c for c in probe.columns if c != probe_time]
    payload_type = probe.select(F.struct(*payload_cols)).schema[0].dataType
    val_type = event.schema[event_val].dataType

    tagged = event.select(
        F.col(event_time).alias("__ts"),
        F.col(event_val).alias("__val"),
        F.lit(None).cast(payload_type).alias("__payload"),
        F.lit(0).alias("__is_probe"),
    ).unionByName(
        probe.select(
            F.col(probe_time).alias("__ts"),
            F.lit(None).cast(val_type).alias("__val"),
            F.struct(*payload_cols).alias("__payload"),
            F.lit(1).alias("__is_probe"),
        )
    ).withColumn(
        "__bucket", F.floor(F.unix_timestamp("__ts") / F.lit(bucket_seconds))
    )

    # Carry-in table: one row per bucket — last event value of each
    # *earlier* bucket. A single aggregate pass produces both the bucket
    # roster (every bucket, probe-only ones included) and its last event
    # (lexicographic max of (ts, val) over event rows only; null where a
    # bucket has no events), so the union is read once here instead of
    # once for the roster and once for the per-bucket max.
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        tagged.groupBy("__bucket")
        .agg(
            F.max(
                F.when(F.col("__is_probe") == 0, F.struct("__ts", "__val"))
            ).alias("last_ev")
        )
        .withColumn(
            "carry_in",
            F.last(F.col("last_ev.__val"), ignorenulls=True).over(wb),
        )
        .select("__bucket", "carry_in")
    )

    w = (
        Window.partitionBy("__bucket")
        .orderBy(
            F.col("__ts").asc(), F.col("__is_probe").asc(), F.col("__val").asc()
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out_val = f"asof_{event_val}"
    return (
        tagged.withColumn("local_last", F.last("__val", ignorenulls=True).over(w))
        .where(F.col("__is_probe") == 1)
        .join(F.broadcast(carry), "__bucket", "left")
        .select(
            "__payload.*",
            F.coalesce("local_last", "carry_in").alias(out_val),
        )
        .where(F.col(out_val).isNotNull())
    )


@query(
    "join_asof",
    oracle="""
    SELECT o.o_orderkey, e.event_id AS asof_event_id
    FROM (SELECT o_orderkey,
                 TIMESTAMP '2024-01-01'
                   + to_seconds(CAST(o_orderkey % 2592000 AS BIGINT)) AS o_ts
          FROM orders WHERE o_orderkey % 97 = 0) o
    ASOF JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase') e
      ON e.ts <= o.o_ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest purchase event at-or-before each probe time.

    Delegates to :func:`asof_merge` (bucketed union-and-window merge)
    at the default day bucket width.
    """
    base_epoch = 1704067200  # 2024-01-01T00:00:00Z
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.timestamp_seconds(
                F.lit(base_epoch) + (F.col("o_orderkey") % 2592000)
            ).alias("o_ts"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "ts")
    )
    return asof_merge(o, e, "o_ts", "ts", "event_id")


@query(
    "join_asof_by_key",
    oracle="""
    SELECT l.event_id AS probe_id,
           l.user_id,
           r.event_id AS last_view_id
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') l
    ASOF JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
)
def join_asof_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed as-of join: for each purchase, the user's latest view
    event at-or-before it (the "attribute conversion to last touch"
    query).

    With an equality key the union-and-window merge needs NO time
    bucketing: tag both streams, union, and run ``last(...,
    ignorenulls)`` over a window partitioned by the key and ordered by
    (ts, is_probe). One shuffle hash-partitioned by user — the exact
    plan a 1000-executor cluster wants, with AQE handling hot keys.
    Inner semantics: purchases with no prior view are dropped
    (matching DuckDB ASOF JOIN).
    """
    e = load_table(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("probe_id")
    )
    tagged = views.select(
        "user_id",
        "ts",
        "view_id",
        F.lit(None).cast("long").alias("probe_id"),
        F.lit(0).alias("is_probe"),
    ).unionByName(
        purchases.select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("view_id"),
            "probe_id",
            F.lit(1).alias("is_probe"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_probe").asc(), F.col("view_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("last_view_id", F.last("view_id", ignorenulls=True).over(w))
        .where((F.col("is_probe") == 1) & F.col("last_view_id").isNotNull())
        .select("probe_id", "user_id", "last_view_id")
    )


@query(
    "join_fuzzy_deletion",
    oracle="""
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def join_fuzzy_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on edit distance ≤ 1 via DELETION NEIGHBORHOODS
    (the SymSpell/FastSS pattern): two strings are within one edit iff
    they share a member of (string ∪ its single-char deletions), so
    each row emits length+1 short variants, candidates pair by an
    EQUI-join on the variant, and only candidates pay the exact
    levenshtein verify.  The oracle is the O(n²) theta-join this
    replaces — same pairs, same distances.

    Scale: linear in rows × name length (each row fans out to |name|+1
    variant rows, each a ≤|name|-char string), one shuffle on the
    variant key; the quadratic blowup is confined to WITHIN a variant
    bucket, which holds only strings one deletion apart — bounded by
    alphabet × key density, not table size. A cross join never
    appears (plan-locked)."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    variants = s.select(
        "s_suppkey",
        "s_name",
        F.explode(
            F.array_union(
                F.array(F.col("s_name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("s_name")),
                    lambda i: F.concat(
                        F.col("s_name").substr(F.lit(1), i - 1),
                        F.col("s_name").substr(
                            i + 1, F.length("s_name")
                        ),
                    ),
                ),
            )
        ).alias("variant"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    dist = F.levenshtein(F.col("a.s_name"), F.col("b.s_name"))
    return (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .select(
            F.col("a.s_suppkey").alias("key_a"),
            F.col("b.s_suppkey").alias("key_b"),
            dist.cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 1)
        .distinct()
    )


@query(
    "er_fuzzy_canonical",
    oracle="""
    WITH RECURSIVE
    s AS (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 300),
    pairs AS (
      SELECT a.s_suppkey AS da, b.s_suppkey AS db
      FROM s a JOIN s b
        ON a.s_suppkey < b.s_suppkey
       AND levenshtein(a.s_name, b.s_name) <= 1
    ),
    und AS (SELECT da AS a, db AS b FROM pairs
            UNION SELECT db AS a, da AS b FROM pairs),
    reach AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (
      SELECT s.s_suppkey,
             CAST(LEAST(s.s_suppkey, COALESCE(MIN(r.b), s.s_suppkey))
                  AS BIGINT) AS canonical_id
      FROM s LEFT JOIN reach r ON r.a = s.s_suppkey
      GROUP BY s.s_suppkey
    )
    SELECT s_suppkey, canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT)
             AS cluster_size
    FROM comp
    """,
)
def er_fuzzy_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: fuzzy match → cluster →
    canonicalize. Edit-distance-≤1 name pairs come from the deletion-
    neighborhood equi-join (join_fuzzy_deletion's shape — never a
    cross join), transitive duplicates cluster by iterative min-label
    propagation (the dedup_connected_components loop on (node, label)
    longs, localCheckpoint-truncated), and every record is labeled
    with its cluster's smallest key as the canonical id plus the
    cluster size — the survivorship decision a downstream MERGE
    applies. The DuckDB oracle recomputes the same labels via a
    recursive-CTE transitive closure over the O(n²) theta edges this
    pipeline avoids."""
    s = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 300)
        .select("s_suppkey", "s_name")
    )
    variants = s.select(
        "s_suppkey",
        "s_name",
        F.explode(
            F.array_union(
                F.array(F.col("s_name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("s_name")),
                    lambda i: F.concat(
                        F.col("s_name").substr(F.lit(1), i - 1),
                        F.col("s_name").substr(i + 1, F.length("s_name")),
                    ),
                ),
            )
        ).alias("variant"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .where(F.levenshtein(F.col("a.s_name"), F.col("b.s_name")) <= 1)
        .select(
            F.col("a.s_suppkey").alias("da"), F.col("b.s_suppkey").alias("db")
        )
        .distinct()
    )
    und = pairs.union(pairs.select("db", "da")).toDF("src", "dst")
    labels = s.select(
        "s_suppkey", F.col("s_suppkey").alias("canonical_id")
    ).localCheckpoint(eager=True)
    und = und.localCheckpoint(eager=True)
    for _ in range(20):
        propagated = und.join(
            labels, und.src == labels.s_suppkey
        ).select(F.col("dst").alias("s_suppkey"), "canonical_id")
        new_labels = (
            labels.unionByName(propagated)
            .groupBy("s_suppkey")
            .agg(F.min("canonical_id").alias("canonical_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "s_suppkey")
            .where(F.col("n.canonical_id") < F.col("o.canonical_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    w = Window.partitionBy("canonical_id")
    return labels.select(
        "s_suppkey",
        "canonical_id",
        F.count("*").over(w).alias("cluster_size"),
    )


@query(
    "join_dynamic_file_pruning",
    oracle="""
    SELECT l.l_orderkey, l.l_suppkey,
           CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price,
           o.o_orderpriority
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 1500 AND o.o_orderstatus = 'F'
    """,
)
def join_dynamic_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic file pruning (the public Databricks scan optimization):
    a selective DIMENSION predicate prunes FACT files before the join
    ever runs.  The fact side lands as a Delta table clustered on the
    join key (OPTIMIZE ZORDER → tight per-file min/max), the filtered
    dim side's key bounds fold to one aggregate row, and those bounds
    prune the fact file list THROUGH THE LOG — at 100 TB the join
    reads the handful of files the dim's keys can touch instead of
    the whole fact table, then broadcasts the dim as usual.

    Pruning is asserted inline (most of the 16 clustered files must
    drop); correctness is prune-independent — stats pruning is sound
    and the equi-join re-applies the exact key match — so the oracle
    is the plain two-table join."""

    from guidewire_spark.sources.snapshot import load_snapshot, scan_live_files
    from guidewire_spark.sources.writer import optimize_table, write_delta

    fact = scratch_dir("gw_dfp_") + "/li"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice").cast("decimal(18,4)"), 2).alias(
            "price"
        ),
    )
    write_delta(li, fact, mode="append")
    optimize_table(spark, fact, target_files=16, zorder_by=["l_orderkey"])

    dim = (
        load_table(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") < 1500) & (F.col("o_orderstatus") == "F"))
        .select("o_orderkey", "o_orderpriority")
    )
    lo, hi = dim.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    snap = load_snapshot(fact)
    kept = snap.pruned_files("l_orderkey", lo, hi)
    # The skipping assertion only holds when the dim's key bounds are
    # actually SELECTIVE against the fact key span: at tiny scales
    # (sf0.001) the `o_orderkey < 1500` dim covers the whole key range
    # and no stats pruning is possible — correctness is unaffected
    # (the equi-join re-applies the exact match), so only the
    # efficiency claim is scale-gated.
    fact_lo, fact_hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    selective = (hi - lo) <= (fact_hi - fact_lo) // 2
    if selective and len(kept) >= snap.num_files // 2:
        raise AssertionError(
            f"dynamic file pruning kept {len(kept)}/{snap.num_files} files"
        )
    return (
        scan_live_files(spark, snap, kept)
        .join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        # Output-type contract: DECIMAL stays internal (exact rounding
        # above); the final select emits DOUBLE so the driver's pandas
        # canon sees '89158.0' on both sides, not '89158.00'.
        .select(
            "l_orderkey",
            "l_suppkey",
            F.col("price").cast("double").alias("price"),
            "o_orderpriority",
        )
    )


@query(
    "join_bloom_dynamic_pruning",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (7, 5007, 10007)
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def join_bloom_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic file pruning on an UNCLUSTERED key: the min/max
    variant (join_dynamic_file_pruning) needs ZORDER to tighten
    per-file bounds first — on a fact table whose layout scatters the
    join key, every file's range straddles every probe and stats
    pruning keeps everything (asserted inline).  The bloom index
    covers exactly this case: the probe-side keys (bounded — the
    same size class a broadcast join ships anyway) test each fact
    file's filter, and only files that may hold a key are opened
    before the broadcast join re-applies the exact match.

    orders is the fact (ONE row per key, so each probed key lives in
    exactly one of the 16 round-robin files — 3 keys must keep well
    under half at fpp=0.01); the probe side is the lineitem quantity
    roll-up for those keys.  Correctness is prune-independent —
    blooms have no false negatives and the equi-join re-matches
    exactly — so the oracle is the plain filtered join."""

    from guidewire_spark.sources.bloom import (
        bloom_kept_files,
        create_bloom_index,
    )
    from guidewire_spark.sources.snapshot import load_snapshot, scan_live_files
    from guidewire_spark.sources.writer import write_delta

    fact = scratch_dir("gw_bdfp_") + "/orders"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_delta(o.repartition(16), fact, mode="append")
    create_bloom_index(spark, fact, ["o_orderkey"], fpp=0.01)

    keys = [7, 5007, 10007]
    probe = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey").isin(keys))
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
    )
    snap = load_snapshot(fact)
    stats_kept = snap.pruned_files("o_orderkey", min(keys), max(keys))
    if len(stats_kept) < snap.num_files:
        raise AssertionError(
            "scattered layout must defeat min/max pruning "
            f"({len(stats_kept)}/{snap.num_files} kept) or the bloom "
            "adds nothing here"
        )
    kept = bloom_kept_files(spark, fact, "o_orderkey", keys, snap=snap)
    if len(kept) >= snap.num_files // 2:
        raise AssertionError(
            f"bloom DFP kept {len(kept)}/{snap.num_files} files"
        )
    return (
        scan_live_files(spark, snap, kept)
        .join(F.broadcast(probe), F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_orderstatus", "sum_qty")
    )


@query(
    "join_geo_grid_bucketed",
    oracle="""
    WITH pts AS (
      SELECT event_id AS u,
             (event_id * CAST(2654435761 AS BIGINT)) % 1000000 AS lat,
             (event_id * CAST(2246822519 AS BIGINT)) % 1000000 AS lon
      FROM events WHERE event_id % 100 = 0
    ),
    pairs AS (
      SELECT a.lat // 50000 AS cell_x, a.lon // 50000 AS cell_y,
             (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS d2
      FROM pts a JOIN pts b
        ON a.u < b.u
       AND (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon)
           <= CAST(900000000 AS BIGINT)
    )
    SELECT cell_x, cell_y, COUNT(*) AS n_pairs,
           CAST(SUM(d2) AS BIGINT) AS sum_d2
    FROM pairs GROUP BY cell_x, cell_y
    """,
)
def join_geo_grid_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join, grid-bucketed (the 100 TB proximity-join
    pattern): points land in 50k-unit grid cells, one side explodes
    its 3x3 cell neighborhood, and the equi-join on cell keys bounds
    candidates to adjacent cells — pairs within radius 30k NEVER span
    beyond a neighbor cell (radius < cell size), so the bucketing is
    lossless while the plan stays a plain shuffle join: no cross
    join, no theta join, candidate count ∝ local density, not n².

    Coordinates are synthesized as integer micro-units from event_id
    by Knuth multiplicative hashing, and proximity is squared
    Euclidean distance in EXACT int64 arithmetic (a flat-grid
    approximation, documented — the bucketing argument is identical
    for haversine with a latitude-corrected cell size), so the
    O(n²) DuckDB theta-join oracle matches hash-for-hash.  Pairs
    group to the smaller id's cell."""
    pts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 100 == 0)
        .select(
            F.col("event_id").alias("u"),
            ((F.col("event_id") * F.lit(2654435761)) % 1000000).alias("lat"),
            ((F.col("event_id") * F.lit(2246822519)) % 1000000).alias("lon"),
        )
    )
    cell = 50000
    a = pts.select(
        F.col("u").alias("ua"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        (F.col("lat") / cell).cast("long").alias("cx"),
        (F.col("lon") / cell).cast("long").alias("cy"),
    )
    # the probe side registers under its cell AND every neighbor cell:
    # 9 copies of the (small) key tuple, then a plain equi-join
    offsets = F.expr(
        "explode(array("
        + ",".join(f"struct({dx}L as dx, {dy}L as dy)"
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        + "))"
    )
    b = (
        pts.select(
            F.col("u").alias("ub"),
            F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"),
            (F.col("lat") / cell).cast("long").alias("bx"),
            (F.col("lon") / cell).cast("long").alias("by"),
            offsets.alias("o"),
        )
        .select(
            "ub", "lat_b", "lon_b",
            (F.col("bx") + F.col("o.dx")).alias("kx"),
            (F.col("by") + F.col("o.dy")).alias("ky"),
        )
    )
    d2 = (F.col("lat_a") - F.col("lat_b")) * (
        F.col("lat_a") - F.col("lat_b")
    ) + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b"))
    return (
        a.join(b, (F.col("cx") == F.col("kx")) & (F.col("cy") == F.col("ky")))
        .where((F.col("ua") < F.col("ub")) & (d2 <= 900000000))
        .groupBy(F.col("cx").alias("cell_x"), F.col("cy").alias("cell_y"))
        .agg(F.count("*").alias("n_pairs"), F.sum(d2).alias("sum_d2"))
    )


@query(
    "geo_cell_density_hotspots",
    oracle="""
    WITH pts AS (
      SELECT (event_id * CAST(2654435761 AS BIGINT)) % 1000000 AS lat,
             (event_id * CAST(2246822519 AS BIGINT)) % 1000000 AS lon
      FROM events WHERE event_id % 10 = 0
    ),
    cells AS (
      SELECT lat // 50000 AS cx, lon // 50000 AS cy, COUNT(*) AS n
      FROM pts GROUP BY lat // 50000, lon // 50000
    ),
    hood AS (
      SELECT a.cx, a.cy, a.n,
             CAST(SUM(b.n) AS BIGINT) AS hood_n, COUNT(*) AS hood_cells
      FROM cells a JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
      GROUP BY a.cx, a.cy, a.n
    )
    SELECT cx AS cell_x, cy AS cell_y, n, hood_n, hood_cells,
           CAST(ROUND(CAST(CAST(n AS DOUBLE) * hood_cells
                / CAST(hood_n AS DOUBLE) AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS density_ratio
    FROM hood
    """,
)
def geo_cell_density_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot score per grid cell (the Getis-Ord shape
    without the variance term): each cell's point count against its
    3x3 neighborhood's average — ratio > 1 marks local clustering.
    Two metadata-sized stages after the one point pass: points fold
    to per-cell counts (map-side combinable), then the CELL table —
    hundreds of rows regardless of point count — self-joins its
    neighborhood via the same explode-the-offsets equi-join as
    join_geo_grid_bucketed.  At 100 TB the heavy stage is the first
    aggregate; everything after runs on the grid, not the points.
    The ratio quantizes through the DECIMAL bridge; counts are exact
    ints."""
    pts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 10 == 0)
        .select(
            ((F.col("event_id") * F.lit(2654435761)) % 1000000).alias("lat"),
            ((F.col("event_id") * F.lit(2246822519)) % 1000000).alias("lon"),
        )
    )
    cell = 50000
    cells = (
        pts.groupBy(
            (F.col("lat") / cell).cast("long").alias("cx"),
            (F.col("lon") / cell).cast("long").alias("cy"),
        )
        .agg(F.count("*").alias("n"))
    )
    offsets = F.expr(
        "explode(array("
        + ",".join(f"struct({dx}L as dx, {dy}L as dy)"
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        + "))"
    )
    b = cells.select("cx", "cy", "n", offsets.alias("o")).select(
        F.col("n").alias("nb"),
        (F.col("cx") + F.col("o.dx")).alias("kx"),
        (F.col("cy") + F.col("o.dy")).alias("ky"),
    )
    from guidewire_spark.operators.analytics import _r

    hood = (
        cells.join(
            b, (F.col("cx") == F.col("kx")) & (F.col("cy") == F.col("ky"))
        )
        .groupBy("cx", "cy", "n")
        .agg(F.sum("nb").alias("hood_n"), F.count("*").alias("hood_cells"))
    )
    return hood.select(
        F.col("cx").alias("cell_x"),
        F.col("cy").alias("cell_y"),
        "n",
        "hood_n",
        "hood_cells",
        _r(
            F.col("n").cast("double")
            * F.col("hood_cells")
            / F.col("hood_n").cast("double"),
            4,
        ).alias("density_ratio"),
    )
