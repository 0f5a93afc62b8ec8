"""Model-evaluation and table-maintenance tail: Tukey-fence outlier
audit, decile lift/gains table, expected calibration error, and Delta
deep clone.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Tukey fences
# ---------------------------------------------------------------------------


@query(
    "agg_tukey_fences",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM lineitem
    ),
    q AS (
      SELECT l_returnflag, COUNT(*) AS n,
             quantile_cont(c, 0.25) AS q1, quantile_cont(c, 0.75) AS q3
      FROM cents GROUP BY l_returnflag
    )
    SELECT q.l_returnflag, CAST(q.n AS BIGINT) AS n,
           CAST(ROUND(CAST(q.q1 / 100.0 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS q1,
           CAST(ROUND(CAST(q.q3 / 100.0 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS q3,
           CAST(SUM(CASE WHEN c.c < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN c.c > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM cents c JOIN q USING (l_returnflag)
    GROUP BY q.l_returnflag, q.n, q.q1, q.q3
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per return flag: counts outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the boxplot rule, the
    distribution-free cousin of ts_rolling_zscore for batch columns
    (no normality assumption, quartiles can't be dragged by the
    outliers they flag).  Quartiles interpolate exact int64 cents
    (percentile ≡ quantile_cont, the window_rolling_median
    equivalence), the fences are doubles derived identically in both
    engines, and the count compare is int-vs-double — deterministic.
    Two passes over the flag-partitioned cents: the quartile aggregate
    (group-cardinality output, broadcast back) and the fence count."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long").alias("c"),
    )
    # ONE percentile buffer for both quartiles (round-12): two scalar
    # F.percentile calls each build and merge their own per-group
    # value buffer — the whole cost of this query (stage-profiled
    # ~1.9 s CPU per pass at sf0.1).  The array form computes both
    # cut points from a single buffer with identical interpolation,
    # so the values are bit-equal and the agg state halves.
    qq = F.percentile("c", F.array(F.lit(0.25), F.lit(0.75)))
    q = cents.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        qq[0].alias("q1"),
        qq[1].alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    joined = cents.join(F.broadcast(q), "l_returnflag")
    return joined.groupBy("l_returnflag", "n", "q1", "q3").agg(
        F.sum(
            F.when(F.col("c") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
        ).cast("long").alias("n_low"),
        F.sum(
            F.when(F.col("c") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
        ).cast("long").alias("n_high"),
    ).select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        _r(F.col("q1") / 100.0, 4).alias("q1"),
        _r(F.col("q3") / 100.0, 4).alias("q3"),
        "n_low",
        "n_high",
    )


# ---------------------------------------------------------------------------
# Lift / gains table
# ---------------------------------------------------------------------------


@query(
    "agg_lift_gains_table",
    oracle="""
    WITH ranked AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
             NTILE(10) OVER (
               ORDER BY CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) DESC,
                        o_orderkey ASC) AS decile
      FROM orders
    ),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(cents) AS revenue_cents
      FROM ranked GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(revenue_cents / 100.0 AS DECIMAL(24,10)), 2)
                AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(
             CAST(SUM(revenue_cents) OVER (ORDER BY decile) AS DOUBLE)
             / SUM(revenue_cents) OVER ()
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS cum_revenue_share
    FROM per
    """,
)
def agg_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table over order value: rank orders by price,
    cut into 10 equal buckets, report per-decile revenue and the
    cumulative share curve — the standard model-targeting readout
    ("the top decile holds X% of revenue"), the tabular form of
    window_pareto_8020's single point.  NTILE semantics (equal
    buckets, remainder to the leading buckets) are identical in both
    engines given the fully deterministic (cents DESC, orderkey ASC)
    order.  Scale shape: the global rank is computed TWO-PHASE
    (range-partition, partition-local row_number, partition-count
    prefix offsets broadcast back — the skyline_pareto_frontier
    pattern), and the NTILE bucket is derived from the rank by the
    remainder-to-leading-buckets arithmetic — no single-partition
    window over the data anywhere; revenue accumulates as exact
    int64 cents, and the cumulative windows run over the 10-row
    decile table."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    order_cols = [F.desc("cents"), F.asc("o_orderkey")]
    parts = (
        o.select(cents.alias("cents"), "o_orderkey")
        .repartitionByRange(16, *order_cols)
        .withColumn("pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("pid").orderBy(*order_cols)
    local = parts.withColumn("local_rn", F.row_number().over(w_local))
    per_pid = local.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_prefix = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_pid.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_prefix), F.lit(0)).alias("offset"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"),
    )
    ranked = local.join(F.broadcast(offsets), "pid").withColumn(
        "rnk", F.col("offset") + F.col("local_rn")
    )
    # NTILE(10) from the global rank: q = n div 10, r = n % 10; the
    # first r buckets hold q+1 rows, the rest hold q
    q = F.expr("n_total div 10")
    r = F.col("n_total") % 10
    big = r * (q + 1)
    decile = F.when(
        F.col("rnk") <= big, F.expr("(rnk - 1) div (n_total div 10 + 1) + 1")
    ).otherwise(
        r + F.expr("(rnk - (n_total % 10) * (n_total div 10 + 1) - 1) div (n_total div 10)") + 1
    )
    per = ranked.withColumn("decile", decile).groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("cents").alias("revenue_cents")
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return per.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
        _r(
            F.sum("revenue_cents").over(wcum).cast("double")
            / F.sum("revenue_cents").over(wall),
            6,
        ).alias("cum_revenue_share"),
    )


# ---------------------------------------------------------------------------
# Expected calibration error
# ---------------------------------------------------------------------------


@query(
    "agg_expected_calibration_error",
    oracle="""
    WITH scored AS (
      SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bin,
             CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) AS milli,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n, SUM(milli) AS sm, SUM(hit) AS conv,
             SUM(COUNT(*)) OVER () AS total
      FROM scored GROUP BY bin
    ),
    terms AS (
      SELECT bin, n, conv,
             CAST(ROUND(CAST(
               CAST(n AS DOUBLE) / total
               * abs(CAST(conv AS DOUBLE) / n
                     - CAST(sm AS DOUBLE) / n / 500000.0)
             AS DECIMAL(20,12)), 12) AS DECIMAL(20,12)) AS term
      FROM bins
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(ROUND(CAST(SUM(term) AS DECIMAL(20,12)), 6) AS DOUBLE)
             AS ece
    FROM terms
    """,
)
def agg_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected calibration error of the value signal as a purchase
    predictor: scores normalized to [0,1] (value/500), cut into 10
    fixed-width bins, ECE = Σ (nᵇ/N)·|accuracyᵇ − confidenceᵇ| — the
    audit run on every LLM-judge or quality-scorer column before its
    scores gate a filter (a scorer can rank well — see
    agg_spearman_rank_corr — and still be wildly mis-calibrated).
    One partial-aggregated pass reduces each bin to exact int64
    (n, Σmilli, conversions); per-bin terms are decimal-rounded
    before the cross-bin sum (order-free), and the bin table is
    10 rows."""
    e = load_table(spark, sf_dir, "events")
    # explicit FLOOR on both sides: a bare double→long CAST truncates
    # in Spark but rounds in DuckDB
    scored = e.select(
        F.least(
            F.floor(F.col("value") / 50).cast("long"), F.lit(9).cast("long")
        ).alias("bin"),
        F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long").alias("milli"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    wall = Window.partitionBy()
    bins = (
        scored.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("milli").alias("sm"),
            F.sum("hit").alias("conv"),
        )
        .withColumn("total", F.sum("n").over(wall))
    )
    conf = F.col("sm").cast("double") / F.col("n") / F.lit(500000.0)
    acc = F.col("conv").cast("double") / F.col("n")
    term = F.round(
        (F.col("n").cast("double") / F.col("total") * F.abs(acc - conf)).cast(
            "decimal(20,12)"
        ),
        12,
    ).cast("decimal(20,12)")
    return bins.select(term.alias("term")).agg(
        F.count("*").cast("long").alias("n_bins"),
        _r(F.sum("term"), 6, "decimal(20,12)")
        .alias("ece"),
    )


# ---------------------------------------------------------------------------
# Delta deep clone
# ---------------------------------------------------------------------------


@query(
    "delta_deep_clone",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal FROM supplier
    """,
)
def delta_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE ... DEEP CLONE: an independent physical copy —
    data files are copied into the clone and a fresh log written, so
    (unlike delta_shallow_clone, whose add paths point into the
    source) VACUUM or a destructive rewrite on the source can never
    break the clone.  The copy is file-level (parquet bytes, never
    decoded — at 100 TB this is a distributed object-store copy, no
    compute), the clone's log is version 0 with fresh stats, and the
    clone reads back byte-identical rows.  Parity: Delta's CLONE DEEP
    (reference README.md exposes its output as standard Delta
    tables; cloning is a consumer-side maintenance op)."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import deep_clone, write_delta

    src = scratch_dir("gw_ddcs_") + "/supplier_delta"
    dst = scratch_dir("gw_ddcd_") + "/supplier_clone"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, src, mode="append")
    deep_clone(spark, src, dst)
    return read_delta(spark, dst)


# ---------------------------------------------------------------------------
# Symlink format manifest
# ---------------------------------------------------------------------------


@query(
    "delta_symlink_manifest",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents
    """,
)
def delta_symlink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATE symlink_format_manifest: export the current snapshot
    as a Hive-style ``_symlink_format_manifest`` tree (one manifest
    text file per partition listing absolute parquet paths) — the
    interop bridge that lets Presto/Trino/Athena/Hive query the Delta
    table without a Delta reader.  This query closes the loop the way
    an external engine would: it reads the manifest FILES (not the
    log), loads exactly the listed parquet paths per partition, and
    rematerializes the partition column from the manifest directory
    name — row-identical to the table (the oracle scans the source).
    Manifest generation is metadata-scale; the staleness caveat
    (regenerate after each commit) is the same one Delta documents."""
    import os

    from functools import reduce

    from guidewire_spark.sources.writer import (
        generate_symlink_manifest,
        write_delta,
    )

    table = scratch_dir("gw_dsym_") + "/docs_delta"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    write_delta(d, table, mode="append", partition_by=["lang"])
    manifests = generate_symlink_manifest(table)
    parts = []
    for m in manifests:
        lang = os.path.basename(os.path.dirname(m)).split("=", 1)[1]
        with open(m, encoding="utf-8") as fh:
            paths = [p for p in fh.read().splitlines() if p]
        parts.append(
            spark.read.parquet(*paths).withColumn("lang", F.lit(lang))
        )
    out = reduce(DataFrame.unionByName, parts)
    return out.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
