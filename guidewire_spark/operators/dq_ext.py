"""Data-quality and numeric-robustness operators: a declarative
expectations runner (Deequ/DLT-expectations shape: many rules, ONE
pass, long-format report), geometric and harmonic means with
decimal-exact cross-row reductions, Luhn checksum validation, and
runtime Bloom-filter join pruning (Spark's automatic semi-join
reduction, surfaced and plan-locked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.registry import query


@query(
    "dq_expectations_report",
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) FILTER (WHERE n_chars IS NOT NULL) AS nn_chars,
             COUNT(*) FILTER (WHERE n_chars BETWEEN 1 AND 100000) AS in_range,
             COUNT(*) FILTER (WHERE lang IN ('en','es','fr','de','zh')) AS lang_ok,
             COUNT(DISTINCT doc_id) AS distinct_ids
      FROM documents
    )
    SELECT * FROM (
      SELECT 'not_null(n_chars)' AS expectation,
             CAST(n_rows - nn_chars AS BIGINT) AS n_violations,
             nn_chars = n_rows AS passed FROM agg
      UNION ALL
      SELECT 'range(n_chars, 1, 100000)', CAST(n_rows - in_range AS BIGINT),
             in_range = n_rows FROM agg
      UNION ALL
      SELECT 'in_set(lang)', CAST(n_rows - lang_ok AS BIGINT),
             lang_ok = n_rows FROM agg
      UNION ALL
      SELECT 'unique(doc_id)', CAST(n_rows - distinct_ids AS BIGINT),
             distinct_ids = n_rows FROM agg
    )
    """,
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ / DLT
    expectations shape): not-null, range, value-set, and uniqueness
    rules evaluated in ONE aggregate pass over the table, reported as
    one long-format row per expectation with its violation count —
    N rules never cost N scans, the property that makes a DQ gate
    affordable in front of every 100 TB ingest. Adding a rule adds an
    aggregate expression, not a job."""
    d = load_table(spark, sf_dir, "documents")
    agg = d.agg(
        F.count("*").alias("n_rows"),
        F.count("n_chars").alias("nn_chars"),
        F.count_if(F.col("n_chars").between(1, 100000)).alias("in_range"),
        F.count_if(
            F.col("lang").isin("en", "es", "fr", "de", "zh")
        ).alias("lang_ok"),
        F.count_distinct("doc_id").alias("distinct_ids"),
    )
    rules = [
        ("not_null(n_chars)", F.col("n_rows") - F.col("nn_chars")),
        ("range(n_chars, 1, 100000)", F.col("n_rows") - F.col("in_range")),
        ("in_set(lang)", F.col("n_rows") - F.col("lang_ok")),
        ("unique(doc_id)", F.col("n_rows") - F.col("distinct_ids")),
    ]
    reports = [
        agg.select(
            F.lit(name).alias("expectation"),
            viol.cast("long").alias("n_violations"),
            (viol == 0).alias("passed"),
        )
        for name, viol in rules
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@query(
    "agg_geo_harmonic_means",
    oracle="""
    WITH terms AS (
      SELECT l_returnflag,
             CAST(ROUND(CAST(ln(l_extendedprice) AS DECIMAL(20,12)), 12)
                  AS DECIMAL(20,12)) AS ln_p,
             CAST(ROUND(CAST(1.0 / l_extendedprice AS DECIMAL(20,16)), 16)
                  AS DECIMAL(20,16)) AS inv_p
      FROM lineitem WHERE l_extendedprice > 0
    )
    SELECT l_returnflag,
           CAST(ROUND(CAST(exp(CAST(SUM(ln_p) AS DOUBLE) / COUNT(*))
                           AS DECIMAL(24,10)), 2) AS DOUBLE) AS geo_mean,
           CAST(ROUND(CAST(COUNT(*) / CAST(SUM(inv_p) AS DOUBLE)
                           AS DECIMAL(24,10)), 2) AS DOUBLE) AS harmonic_mean
    FROM terms GROUP BY l_returnflag
    """,
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group — the right averages for
    ratios and rates respectively (arithmetic means of either are
    biased). Each row's ln(x) / 1/x term is DECIMAL-rounded before the
    cross-row sum, so the reduction is an exact decimal sum (order-
    free) and 1-ulp libm differences cannot surface — the same
    discipline as agg_mutual_information; exp/division run once per
    group on identical inputs."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 0
    )
    ln_p = F.round(
        F.log(F.col("l_extendedprice")).cast("decimal(20,12)"), 12
    ).cast("decimal(20,12)")
    inv_p = F.round(
        (F.lit(1.0) / F.col("l_extendedprice")).cast("decimal(20,16)"), 16
    ).cast("decimal(20,16)")
    terms = li.select("l_returnflag", ln_p.alias("ln_p"), inv_p.alias("inv_p"))
    return terms.groupBy("l_returnflag").agg(
        _r(
            F.exp(F.sum("ln_p").cast("double") / F.count(F.lit(1))), 2
        ).alias("geo_mean"),
        _r(
            F.count(F.lit(1)) / F.sum("inv_p").cast("double"), 2
        ).alias("harmonic_mean"),
    )


@query(
    "func_luhn_checksum",
    oracle="""
    WITH nums AS (
      SELECT o_orderkey,
             lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS acct
      FROM orders WHERE o_orderkey % 40 = 0
    ),
    pos AS (SELECT CAST(range AS INT) AS i FROM range(1, 11)),
    digits AS (
      SELECT o_orderkey, acct, i,
             CAST(substring(acct, i, 1) AS INT) AS d,
             (10 - i) % 2 = 1 AS doubled  -- every 2nd digit from the right
      FROM nums, pos
    ),
    sums AS (
      SELECT o_orderkey, acct,
             SUM(CASE WHEN doubled
                      THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                      ELSE d END) AS s
      FROM digits GROUP BY o_orderkey, acct
    )
    SELECT o_orderkey, acct, s % 10 = 0 AS luhn_valid
    FROM sums
    """,
)
def func_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum validation (luhn_check, Spark 3.5+) over
    synthetic zero-padded account numbers — the credit-card/IMEI
    check-digit screen PII scrubbing pipelines run to decide whether a
    digit run is a real card number or noise. The oracle implements
    the Luhn algorithm digit-by-digit in SQL, so the builtin is
    verified against the specification, not against itself."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 40 == 0)
    acct = F.lpad(F.col("o_orderkey").cast("string"), 10, "0")
    return o.select(
        "o_orderkey",
        acct.alias("acct"),
        F.expr("luhn_check(lpad(CAST(o_orderkey AS STRING), 10, '0'))").alias(
            "luhn_valid"
        ),
    )


@query(
    "join_runtime_bloom_filter",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY l_returnflag
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: Spark builds a Bloom filter
    over the SELECTIVE build side (high-value orders) and injects a
    might_contain() predicate into the fact scan, so most lineitem
    rows die before the shuffle — the automatic semi-join reduction
    that cuts shuffle volume by the build side's selectivity at 100 TB.
    Thresholds are lowered for the demonstration (test scale is below
    the defaults); the result is strategy-independent (plain-join
    oracle) and the injected filter is plan-locked in
    tests/test_plans.py."""
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        out = _bloom_join(spark, sf_dir)
        # force execution under these confs (the bloom-pruned run);
        # re-planning later under restored confs is semantics-equal
        out.collect()
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join shape join_runtime_bloom_filter runs; factored out so
    the plan test can build it under the same confs and assert the
    injected might_contain predicate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 400000
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
