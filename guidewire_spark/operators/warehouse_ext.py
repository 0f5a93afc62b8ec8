"""Warehouse-grade operator additions: idempotent Delta writes
(SetTransaction protocol), null-safe join semantics, VWAP time-series
downsampling, Herfindahl-Hirschman market concentration with top-4
concentration ratio, and a Poisson-bootstrap confidence interval — the
scalable bootstrap (one pass, no resampled copies of the data).

Determinism strategy as elsewhere: monetary values move through exact
integer cents, shares through integer parts-per-million, and the
bootstrap's pseudo-randomness is an explicit integer hash both engines
compute identically — no engine RNG, no float accumulation order
anywhere a decision is made.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "delta_idempotent_writes",
    oracle="""
    SELECT r_regionkey, r_name, 'base' AS batch FROM region
    UNION ALL
    SELECT r_regionkey, r_name, 'b1' AS batch FROM region WHERE r_regionkey < 3
    UNION ALL
    SELECT r_regionkey, r_name, 'b2' AS batch FROM region WHERE r_regionkey >= 3
    """,
)
def delta_idempotent_writes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent Delta appends via SetTransaction (``txn``) actions:
    batch 1 is committed, RETRIED (the retry must be a no-op), then
    batch 2 commits at the next app version. Exactly-once sink
    semantics for an at-least-once upstream — the property the
    reference's checkpoint-driven re-index loop needs so a crashed-
    and-replayed batch never double-lands rows.

    The retry check reads only the JSON commit trail (metadata-sized),
    never data files. Cited: Delta protocol "Transaction Identifiers";
    reference parity: `/root/reference/README.md:39-43` (consumers
    re-run the index pipeline; its Delta writes must tolerate replay).
    """
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_txn_") + "/region_idem"
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = r.withColumn("batch", F.lit("base"))
    b1 = r.where(F.col("r_regionkey") < 3).withColumn("batch", F.lit("b1"))
    b2 = r.where(F.col("r_regionkey") >= 3).withColumn("batch", F.lit("b2"))
    write_delta(base, table, mode="append")
    write_delta(b1, table, mode="append", txn_app_id="loader", txn_version=1)
    # upstream retry of the SAME batch: must not append a second copy
    write_delta(b1, table, mode="append", txn_app_id="loader", txn_version=1)
    write_delta(b2, table, mode="append", txn_app_id="loader", txn_version=2)
    return read_delta(spark, table)


@query(
    "join_null_safe_equality",
    oracle="""
    WITH c AS (SELECT NULLIF(c_nationkey, 13) AS nk FROM customer),
    n AS (SELECT NULLIF(n_nationkey, 13) AS nnk FROM nation)
    SELECT
      (SELECT COUNT(*) FROM c JOIN n ON nk = nnk)  AS n_eq_matches,
      (SELECT COUNT(*) FROM c JOIN n
        ON nk IS NOT DISTINCT FROM nnk)            AS n_nullsafe_matches,
      (SELECT COUNT(*) FROM c WHERE nk IS NULL)    AS n_null_left
    """,
)
def join_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) vs
    plain ``=``: nation 13 is nulled on both sides, so the plain
    equi-join drops those rows while the null-safe join pairs them —
    the NOT IN / NOT EXISTS null-trap made measurable. Both forms
    remain hash joins (null-safe equality is still an equi-key for
    partitioning: NULL hashes to one bucket)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(13)).alias("nk")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(13)).alias("nnk")
    )
    eq = c.join(F.broadcast(n), c.nk == n.nnk).agg(
        F.count("*").alias("n_eq_matches")
    )
    nse = c.join(F.broadcast(n), c.nk.eqNullSafe(n.nnk)).agg(
        F.count("*").alias("n_nullsafe_matches")
    )
    nulls = c.where(F.col("nk").isNull()).agg(F.count("*").alias("n_null_left"))
    return eq.crossJoin(nse).crossJoin(nulls)


@query(
    "ts_tumbling_vwap",
    oracle="""
    SELECT l_returnflag, strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DOUBLE)
             / 100.0 / SUM(CAST(ROUND(l_quantity, 0) AS BIGINT))
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS vwap,
           CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS volume
    FROM lineitem
    GROUP BY l_returnflag, date_trunc('month', l_shipdate)
    """,
)
def ts_tumbling_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (series, month bucket) — the
    canonical finance downsample next to OHLC (ts_ohlc_bars). Price
    mass is summed in exact integer cents and volume in exact integer
    units; the single division to double happens per GROUP, not per
    row, so the result is order-independent. One partial+final hash
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
    qty = F.round("l_quantity", 0).cast("long")
    return li.groupBy(
        "l_returnflag",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(
        _r(
            F.sum(cents).cast("double") / 100.0 / F.sum(qty),
            4,
        ).alias("vwap"),
        F.sum(qty).alias("volume"),
    )


@query(
    "agg_herfindahl_index",
    oracle="""
    WITH cust AS (
      SELECT o_orderpriority, o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS c_cents
      FROM orders GROUP BY o_orderpriority, o_custkey
    ),
    tot AS (
      SELECT o_orderpriority, SUM(c_cents) AS t_cents,
             COUNT(*) AS n_customers
      FROM cust GROUP BY o_orderpriority
    ),
    shares AS (
      SELECT c.o_orderpriority, n_customers,
             (c_cents * 1000000) // t_cents AS s_ppm,
             ROW_NUMBER() OVER (PARTITION BY c.o_orderpriority
                                ORDER BY c_cents DESC, o_custkey ASC) AS rnk
      FROM cust c JOIN tot t ON c.o_orderpriority = t.o_orderpriority
    )
    SELECT o_orderpriority, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(ROUND(CAST(CAST(SUM(s_ppm * s_ppm) AS DOUBLE) / 1e12
                           AS DECIMAL(24,12)), 6) AS DOUBLE) AS hhi,
           CAST(ROUND(CAST(CAST(SUM(CASE WHEN rnk <= 4 THEN s_ppm ELSE 0 END)
                                AS DOUBLE) / 1e6
                           AS DECIMAL(24,12)), 6) AS DOUBLE) AS cr4
    FROM shares GROUP BY o_orderpriority, n_customers
    """,
)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index + CR4 (top-4 share)
    per market segment — who dominates order value within each
    priority class. Customer shares are integer parts-per-million of
    exact cent totals, so the sum of squared shares is exact int64 and
    engine-order-proof; HHI lands in [0, 1] after one double division
    per group. Shuffles: customer-level aggregate, then a group-sized
    window for the concentration rank — the squared-share sum never
    sees raw orders."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    cust = o.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(cents).alias("c_cents")
    )
    tot = cust.groupBy("o_orderpriority").agg(
        F.sum("c_cents").alias("t_cents"), F.count("*").alias("n_customers")
    )
    rnk = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(
            F.col("c_cents").desc(), F.col("o_custkey").asc()
        )
    )
    shares = (
        cust.join(F.broadcast(tot), "o_orderpriority")
        .withColumn("s_ppm", F.expr("(c_cents * 1000000) div t_cents"))
        .withColumn("rnk", rnk)
    )
    return shares.groupBy("o_orderpriority", "n_customers").agg(
        _r(
            F.sum(F.col("s_ppm") * F.col("s_ppm")).cast("double") / 1e12,
            6,
            "decimal(24,12)",
        )
        .alias("hhi"),
        _r(
            F.sum(F.when(F.col("rnk") <= 4, F.col("s_ppm")).otherwise(0)).cast("double")
            / 1e6,
            6,
            "decimal(24,12)",
        )
        .alias("cr4"),
    )


@query(
    "agg_poisson_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT CAST(range AS BIGINT) AS r FROM range(0, 64)),
    weighted AS (
      SELECT r,
             (o_orderkey * 2654435761 + r * 40503) % 1000000 AS h,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      FROM orders, reps
    ),
    w AS (
      SELECT r, cents,
             CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
                  WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
                  WHEN h < 996340 THEN 4 ELSE 5 END AS wt
      FROM weighted
    ),
    means AS (
      SELECT r, CAST(SUM(wt * cents) AS DOUBLE) / 100.0 / SUM(wt) AS m
      FROM w GROUP BY r HAVING SUM(wt) > 0
    ),
    pt AS (
      SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS mean_est,
             COUNT(*) AS n
      FROM orders
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(mean_est AS DECIMAL(24,10)), 4) AS DOUBLE) AS mean_est,
           CAST(ROUND(CAST(quantile_cont(m, 0.025) AS DECIMAL(24,10)), 4) AS DOUBLE) AS ci_lo,
           CAST(ROUND(CAST(quantile_cont(m, 0.975) AS DECIMAL(24,10)), 4) AS DOUBLE) AS ci_hi
    FROM means, pt GROUP BY n, mean_est
    """,
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean order
    value — THE bootstrap that works at 100 TB: instead of
    materializing B resampled copies, each row draws an independent
    Poisson(1) replication weight per replica, so one pass computes
    all 64 replica means (Kleiner et al.'s scalable bootstrap
    family). The 64× generator expansion combines map-side into
    per-replica partial sums — the shuffle carries 64 rows of two
    int64s regardless of table size.

    The Poisson draw is an explicit integer congruential hash of
    (row key, replica) against the Poisson(1) CDF in parts-per-
    million — both engines compute it bit-identically (engine RNGs
    never agree); replica sums are exact integer cents, so the only
    doubles are 64 final divisions and the interpolated percentile
    over 64 points."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    reps = o.select(
        F.col("o_orderkey"),
        cents.alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("r"),
    )
    h = (F.col("o_orderkey") * 2654435761 + F.col("r") * 40503) % 1000000
    wt = (
        F.when(h < 367879, 0)
        .when(h < 735759, 1)
        .when(h < 919699, 2)
        .when(h < 981012, 3)
        .when(h < 996340, 4)
        .otherwise(5)
    )
    means = (
        reps.withColumn("wt", wt)
        .groupBy("r")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            (F.col("swx").cast("double") / 100.0 / F.col("sw")).alias("m")
        )
    )
    pt = o.agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 100.0 / F.count("*")).alias("mean_est"),
    )
    # one percentile buffer for both CI cut points (round-12, same
    # bit-equal array-form rewrite as agg_tukey_fences)
    _ci = F.percentile("m", F.array(F.lit(0.025), F.lit(0.975)))
    ci = means.agg(_ci[0].alias("lo"), _ci[1].alias("hi"))
    return pt.crossJoin(F.broadcast(ci)).select(
        "n",
        _r(F.col("mean_est"), 4).alias("mean_est"),
        _r(F.col("lo"), 4).alias("ci_lo"),
        _r(F.col("hi"), 4).alias("ci_hi"),
    )


@query(
    "warehouse_result_cache",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2)) * 100) AS BIGINT)
             AS bal_cents
    FROM customer GROUP BY c_nationkey
    """,
)
def warehouse_result_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-version-aware result caching (plans/result_cache.py):
    the dashboard economics — repeated aggregates over tables that
    change far less often than they're read — made SAFE by the log's
    version counter: a hit is one metadata stat per input table, and
    any commit invalidates exactly the fingerprints that read it.
    The query drives the full lifecycle inline: miss → hit (same
    rows, zero recompute) → append commit → miss (fresh rows) — each
    transition asserted — and returns the post-append aggregate,
    which must equal the plain full-table oracle (a stale cache hit
    after the append would fail the hash)."""
    from guidewire_spark.plans.result_cache import cached_query
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    root = scratch_dir("gw_rescache_")
    table, cache = root + "/cust", root + "/cache"
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    write_delta(c.where("c_custkey % 2 = 0"), table, mode="append")

    def compute(s):
        return (
            read_delta(s, table)
            .groupBy("c_nationkey")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("c_acctbal").cast("decimal(14,2)") * 100)
                .cast("long")
                .alias("bal_cents"),
            )
        )

    _, hit = cached_query(spark, cache, "by nation", [table], compute)
    if hit:
        raise AssertionError("first probe must miss")
    _, hit = cached_query(spark, cache, "by nation", [table], compute)
    if not hit:
        raise AssertionError("unchanged inputs must hit")
    write_delta(c.where("c_custkey % 2 = 1"), table, mode="append")
    result, hit = cached_query(spark, cache, "by nation", [table], compute)
    if hit:
        raise AssertionError("a new commit must invalidate the entry")
    return result
