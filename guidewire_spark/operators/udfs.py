"""UDF / UDAF / UDTF surface (SURVEY.md §2.4 "UDF / UDAF / UDTF").

Policy: the engine's hot paths never use row-at-a-time Python UDFs —
these queries exist to cover the API surface, and each one's oracle
re-expresses the logic in SQL. The vectorized (Arrow) variants are
the ones recommended for real pipelines.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table, sized_group_partitions
from guidewire_spark.registry import query


@query(
    "udf_scalar_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, covered for parity)."""

    def band(price: float) -> str:
        if price >= 200000:
            return "high"
        if price >= 100000:
            return "mid"
        return "low"

    band_udf = F.udf(band, "string")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    return o.select("o_orderkey", band_udf("o_totalprice").alias("price_band"))


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS total_charge
    FROM lineitem WHERE l_orderkey % 40 = 0
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized @pandas_udf scalar (Arrow batches, ~10-100× the
    row-at-a-time path)."""

    import numpy as np

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        raw = price * (1 - disc) * (1 + tax)
        # round-half-up to match SQL ROUND (pandas .round is half-even)
        return np.floor(raw * 100 + 0.5) / 100

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 40 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("total_charge"),
    )


@query(
    "udaf_grouped_agg_pandas",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice * o_totalprice) / SUM(o_totalprice), 4)
             AS self_weighted_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def udaf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF: price-weighted mean price per priority."""

    @pandas_udf("double")
    def wmean(price: pd.Series) -> float:
        return float((price * price).sum() / price.sum())

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(wmean("o_totalprice"), 4).alias("self_weighted_price")
    )


@query(
    "udaf_apply_in_pandas",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(c) AS BIGINT) AS sum_cents,
           CAST(SUM(c) // COUNT(*) AS BIGINT) AS avg_cents,
           CAST(MAX(c) - MIN(c) AS BIGINT) AS range_cents
    FROM (SELECT o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
          FROM orders)
    GROUP BY o_custkey
    """,
)
def udaf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: one pandas frame per customer group.

    The group key (o_custkey) has bounded fan-in, so per-group frames
    stay small no matter the total scale — the correct applyInPandas
    safety argument at 100 TB.

    Stats are computed in exact integer cents: Python ``round`` is
    banker's while DuckDB ROUND is half-away-from-zero, so any float
    avg landing on a half-way point (sum/8 does, often) would diverge.
    """

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = pdf["o_totalprice"].mul(100).round().astype("int64")
        total = int(cents.sum())
        return pd.DataFrame(
            {
                "o_custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "sum_cents": [total],
                "avg_cents": [total // len(pdf)],
                "range_cents": [int(cents.max() - cents.min())],
            }
        )

    # Round-12 (supersedes the round-11 negative result below): the
    # stage's cost is per-GROUP Python invocation, so the fix is to
    # SIZE the grouped-map shuffle from the group count and pin it
    # with an explicit numbered repartition on the key — AQE never
    # coalesces a user-numbered repartition, and FlatMapGroupsInPandas
    # reuses its hash partitioning (ClusteredDistribution satisfied),
    # so the Python stage keeps ceil(groups/256) tasks at every scale.
    # With the parallelism pinned, the §4.1 projection (ship 2 of 9
    # columns) is a pure win again.  Same-session interleaved A/B ×3:
    # 13.2-19.0 s (old shape) → 2.3-2.6 s; results identical
    # (set-compare over all 14,999 groups).
    #
    # Round-11 measured NEGATIVE result on the projection ALONE: an
    # explicit .select("o_custkey", "o_totalprice") before the
    # groupBy (guide §4.1 — applyInPandas is opaque, so it ships all
    # nine columns) was tried and REJECTED: the projected shuffle
    # falls under AQE's coalesce floor, the post-shuffle Python stage
    # collapses to 1-2 tasks, and the run got ~45% SLOWER (same-
    # session interleaved A/B, 3 rounds: 13.0-15.5 s all-columns vs
    # 18.5-21.6 s projected) — this stage's cost is per-GROUP Python
    # invocation, not bytes, so parallelism beats projection at bench
    # scale.  At 100 TB the projection is right (the shuffle is far
    # above any coalesce floor, so it only sheds bytes); re-add it if
    # the group cardinality per partition ever grows past what AQE
    # leaves parallel.
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n_parts = sized_group_partitions(o, "o_custkey")
    return (
        o.repartition(n_parts, "o_custkey")
        .groupBy("o_custkey")
        .applyInPandas(
            summarize,
            "o_custkey long, n_orders long, sum_cents long, avg_cents long, range_cents long",
        )
    )


@query(
    "udtf_map_in_pandas",
    oracle="""
    SELECT doc_id, 'char' AS unit, CAST(LENGTH(text) AS BIGINT) AS n
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id, 'word' AS unit,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
                AS BIGINT) AS n
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas as a table function: each input row yields multiple
    metric rows (char count + word count)."""

    def expand(batches):
        for pdf in batches:
            n_words = pdf["text"].str.split().str.len()
            yield pd.DataFrame(
                {
                    "doc_id": pd.concat([pdf["doc_id"], pdf["doc_id"]]),
                    "unit": ["char"] * len(pdf) + ["word"] * len(pdf),
                    "n": pd.concat([pdf["text"].str.len(), n_words]).astype("int64"),
                }
            )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return d.select("doc_id", "text").mapInPandas(
        expand, "doc_id long, unit string, n long"
    )


@query(
    "udtf_map_in_arrow",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS price_cents
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def udtf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy sibling of mapInPandas — the UDF sees
    raw ``pyarrow.RecordBatch``es, so columnar data never converts to
    pandas at all. Here: price scaled to exact integer cents with
    pyarrow compute kernels only."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def scale(batches):
        for batch in batches:
            cents = pc.cast(
                pc.round(pc.multiply(batch.column("o_totalprice"), 100.0)),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("o_orderkey"), cents],
                ["o_orderkey", "price_cents"],
            )

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    return o.select("o_orderkey", "o_totalprice").mapInArrow(
        scale, "o_orderkey long, price_cents long"
    )


@query(
    "udf_pandas_iterator",
    oracle="""
    SELECT event_id,
           CAST(ROUND(CAST(ln(1 + value) * 100 AS DECIMAL(24,10)), 4)
                AS DOUBLE) AS scored
    FROM events WHERE event_id % 25 = 0
    """,
)
def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF: the Arrow batch stream flows
    through one generator per task, so expensive per-task setup (model
    load, tokenizer init — here a stand-in constant) is paid ONCE per
    executor task instead of once per batch. This is the recommended
    shape for ML scoring UDFs at 100 TB; the scalar form re-enters
    Python per batch with no init amortization."""
    import numpy as np

    @pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scale = 100.0  # per-task init happens here, before the loop
        for values in batches:
            yield pd.Series(np.log1p(values.to_numpy()) * scale)

    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 25 == 0)
    return e.select(
        "event_id",
        stable_round(score("value"), 4)
        .alias("scored"),
    )


@query(
    "udaf_apply_in_arrow",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(CAST(SUM(value) AS DECIMAL(24,8)), 2) AS DOUBLE)
             AS total_value
    FROM events WHERE user_id % 4 = 0 GROUP BY event_type
    """,
)
def udaf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over raw Arrow tables (applyInArrow): the zero-copy
    sibling of applyInPandas — no pandas materialization, each group
    arrives as a pyarrow.Table and returns one. The right boundary for
    columnar native libs (polars, numpy-on-arrow) in a 100 TB
    pipeline; per-group state is one record batch, never the corpus."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def summarize(table: pa.Table) -> pa.Table:
        total = pc.sum(table.column("value")).as_py() or 0.0
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": [table.num_rows],
                "total_value": [total],
            }
        )

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 4 == 0)
    out = e.select("event_type", "value").groupBy("event_type").applyInArrow(
        summarize, schema="event_type string, n long, total_value double"
    )
    return out.select(
        "event_type",
        "n",
        stable_round(F.col("total_value"), 2, "decimal(24,8)")
        .alias("total_value"),
    )


@query(
    "udtf_python_class",
    oracle="""
    SELECT doc_id, ws[t.i] AS word, CAST(t.i - 1 AS INTEGER) AS pos
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      FROM documents WHERE doc_id % 25 = 0
    ), UNNEST(range(1, len(ws) + 1)) AS t(i)
    """,
)
def udtf_python_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 @udtf class API): a user-defined TABLE
    function invoked in the FROM clause with LATERAL correlation —
    each input row fans out to (word, position) rows via the class's
    ``eval`` generator. This is the SQL-surface sibling of
    mapInPandas-as-UDTF (udtf_map_in_pandas): callable from pure SQL,
    registered in the session catalog, composable with joins. Python
    executes row-at-a-time here (the API's contract), so real
    pipelines keep heavy fan-outs on the Arrow paths — this covers
    the interface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("gw_split_words", SplitWords)
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    d.createOrReplaceTempView("gw_udtf_docs")
    return spark.sql(
        """
        SELECT doc_id, s.word, s.pos
        FROM gw_udtf_docs, LATERAL gw_split_words(text) s
        """
    )


@query(
    "udf_sql_registered_python",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(18,4)), 2)
                AS DOUBLE) AS taxed
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def udf_sql_registered_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Python (pandas, Arrow-vectorized) UDF REGISTERED into the SQL
    function catalog and invoked from a SQL string — the path that
    lets SQL-only consumers (BI tools, sql() scripts, the reference's
    downstream SELECT users) call Python logic without touching the
    DataFrame API.  Registration uses the vectorized form, so the SQL
    call sites get Arrow batches, not row-at-a-time pickling; the
    DECIMAL bridge inside the UDF mirrors the oracle's rounding
    exactly (the scan_filter_project per-row-rounding rule)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from guidewire_spark.plans.catalog import register_views

    @pandas_udf("double")
    def gw_taxed(price: pd.Series) -> pd.Series:
        return price * 1.07

    spark.udf.register("gw_taxed", gw_taxed)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(ROUND(CAST(gw_taxed(o_totalprice) AS DECIMAL(18,4)), 2)
                    AS DOUBLE) AS taxed
        FROM orders WHERE o_orderkey % 40 = 0
        """
    )


@query(
    "udf_arrow_optimized_python",
    oracle="""
    SELECT o_orderkey,
           CAST(length(o_orderpriority) + o_orderkey % 7 AS BIGINT)
             AS mixed_score
    FROM orders WHERE o_orderkey % 50 = 0
    """,
)
def udf_arrow_optimized_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 3.5+/4 ARROW-OPTIMIZED scalar Python UDF
    (``@udf(useArrow=True)``): keeps the familiar one-value-at-a-time
    Python signature but transports batches over Arrow instead of
    pickled rows — the drop-in accelerator for the legacy
    ``udf_scalar_python`` path (same semantics, ~2-5× serialization
    win) when a team can't rewrite to the pandas-Series form.
    Completes the UDF transport matrix: pickled scalar, Arrow scalar
    (this), pandas Series, iterator-of-series, grouped pandas/Arrow,
    UDTF."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def mixed_score(priority: str, key: int) -> int:
        return len(priority) + key % 7

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        mixed_score(F.col("o_orderpriority"), F.col("o_orderkey")).alias(
            "mixed_score"
        ),
    )


@query(
    "udtf_table_argument",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE(...) argument WITH PARTITION BY
    (Spark 3.5+): the engine partitions the input by the key, streams
    each partition's rows through ``eval``, and ``terminate`` emits
    the per-partition summary — the SQL-surface form of
    applyInPandas-style grouped processing, callable by pure-SQL
    consumers.  The accumulate/terminate pair here reproduces a
    GROUP BY exactly, so the oracle is the plain aggregate; real uses
    put non-SQL per-group logic (sessionizers, parsers, model
    scoring) in the same shape."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="source: string, n_docs: bigint, total_chars: bigint")
    class PerSourceStats:
        def __init__(self):
            self._source = None
            self._n = 0
            self._chars = 0

        def eval(self, row):
            self._source = row["source"]
            self._n += 1
            self._chars += row["n_chars"]

        def terminate(self):
            if self._source is not None:
                yield self._source, self._n, self._chars

    spark.udtf.register("gw_per_source_stats", PerSourceStats)
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("gw_udtf_tablearg_docs")
    return spark.sql(
        """
        SELECT * FROM gw_per_source_stats(
          TABLE(gw_udtf_tablearg_docs) PARTITION BY source
        )
        """
    )
