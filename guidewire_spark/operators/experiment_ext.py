"""Experimentation and remaining-surface operators: CUPED variance
reduction for A/B metrics (exact integer power sums end-to-end), the
two-argument comparator lambda form of array_sort, and generated-
partition pruning surfaced as a driver-verified query.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.functions import text as T
from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "agg_ab_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 = 0 AS treated,
             SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16'
                      THEN CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    moments AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT n, sx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS th
      FROM moments
    ),
    adjusted AS (
      SELECT treated,
             y - th * (x - CAST(sx AS DOUBLE) / n) AS y_adj,
             CAST(y AS DOUBLE) AS y_raw
      FROM per_user, theta
    )
    SELECT treated, COUNT(*) AS n_users,
           CAST(ROUND(CAST(AVG(y_raw) / 1000.0 AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS mean_raw,
           CAST(ROUND(CAST(AVG(y_adj) / 1000.0 AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS mean_cuped
    FROM adjusted GROUP BY treated
    """,
)
def agg_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction: the experiment metric Y is adjusted
    by the pre-period covariate X — Y' = Y − θ(X − E[X]) with
    θ = cov(X,Y)/var(X) — shrinking variance by the X-Y correlation²
    and cutting required A/B sample sizes accordingly (the standard
    technique in modern experimentation platforms). Per-user pre/post
    sums and all four cross-moments are exact int64, so θ is one
    double from exact integers; the adjusted means average per-row
    doubles computed from identical inputs (AVG of a few thousand
    identically-valued doubles agrees across engines at the 4dp
    output rounding)."""
    e = load_table(spark, sf_dir, "events")
    q = F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, q).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, q).otherwise(0)).alias("y"),
    ).select(
        (F.col("user_id") % 2 == 0).alias("treated"), "x", "y"
    )
    moments = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    theta = moments.select(
        "n",
        "sx",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("th"),
    )
    adjusted = per_user.crossJoin(F.broadcast(theta)).select(
        "treated",
        F.col("y").cast("double").alias("y_raw"),
        (
            F.col("y")
            - F.col("th")
            * (F.col("x") - F.col("sx").cast("double") / F.col("n"))
        ).alias("y_adj"),
    )
    return adjusted.groupBy("treated").agg(
        F.count("*").alias("n_users"),
        _r(F.avg("y_raw") / 1000.0, 4).alias("mean_raw"),
        _r(F.avg("y_adj") / 1000.0, 4).alias("mean_cuped"),
    )


@query(
    "func_array_sort_comparator",
    oracle="""
    SELECT doc_id,
           array_to_string(list_transform(
             list_sort(list_transform(
               list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
               w -> lpad(CAST(1000 - length(w) AS VARCHAR), 4, '0') || w),
               'ASC'),
             s -> substring(s, 5)
           )[1:5], ' ') AS top_words
    FROM documents WHERE doc_id % 100 = 0
    """,
)
def func_array_sort_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_sort with a TWO-ARGUMENT comparator lambda: words sorted
    by length descending, ties alphabetically — the custom-ordering
    HOF the simple ascending array_sort can't express. Sorting happens
    inside the row (array-local, no shuffle). The oracle encodes the
    same order into a sortable key string (inverted zero-padded length
    + word) because DuckDB's list_sort takes no comparator — the
    equivalence of the two encodings is the point of the test."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 100 == 0)
    words = T.words(F.col("text"))
    cmp = lambda l, r: (  # noqa: E731 — comparator: length desc, word asc
        F.when(F.length(l) > F.length(r), -1)
        .when(F.length(l) < F.length(r), 1)
        .when(l < r, -1)
        .when(l > r, 1)
        .otherwise(0)
    )
    # Output-type contract: the sorted array leaves the query as a
    # space-joined string (tokens are whitespace-split, so the
    # separator cannot occur inside one).
    return d.select(
        "doc_id",
        F.array_join(F.slice(F.array_sort(words, cmp), 1, 5), " ").alias(
            "top_words"
        ),
    )


@query(
    "delta_generated_partition_prune",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od
    FROM orders
    WHERE date_part('year', o_orderdate) = 1995 AND o_orderkey % 5 = 0
    """,
)
def delta_generated_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-partition pruning end to end: the partition column is
    DECLARED as an expression (year(o_orderdate)) — the writer
    materializes it, every later write validates it, and a read
    filtered on the generated column prunes partitions from the LOG
    before Spark sees a path (Delta's generated-partition pattern: the
    user filters on the business column's derivation, storage prunes
    on the partition). One year's files are read; the rest never
    open."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_genp_") + "/orders_part"
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0)
    src = o.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("od")
    )
    write_delta(
        src,
        table,
        mode="append",
        partition_by=["order_year"],
        generated_columns={"order_year": "substring(od, 1, 4)"},
    )
    return read_delta(
        spark, table, partition_filter={"order_year": "1995"}
    ).select("o_orderkey", "od")
