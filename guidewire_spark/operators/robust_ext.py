"""Robustness and composition operators: the range() generator
source, PERMISSIVE-mode corrupt-record JSON scanning, whale
concentration (top-1% revenue share), the temporal dimension join
(facts AS-OF an SCD2 validity window), and an exactly-once streaming
Delta sink that rides foreachBatch on the writer's SetTransaction
support — replayed micro-batches commit nothing twice.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.operators.twophase import two_phase_ordered
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


@query(
    "range_source_generate",
    oracle="""
    SELECT CAST(range AS BIGINT) AS id,
           CAST(range * range AS BIGINT) AS sq,
           CAST(range % 7 AS BIGINT) AS bucket
    FROM range(0, 10000) WHERE range % 3 = 0
    """,
)
def range_source_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range() generator source: rows synthesized on executors
    with no input files at all — the idiom for dimension scaffolds,
    date spines, and load generators. spark.range partitions the
    interval across the cluster, so a trillion-row spine is generated
    in parallel with zero I/O; the filter is evaluated inside the
    generating stage (no scan to push to, nothing shuffles)."""
    return (
        spark.range(0, 10000)
        .where(F.col("id") % 3 == 0)
        .select(
            "id",
            (F.col("id") * F.col("id")).alias("sq"),
            (F.col("id") % 7).alias("bucket"),
        )
    )


@query(
    "json_corrupt_records_scan",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS n_valid,
           CAST(COUNT(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
             AS valid_chars
    FROM documents
    """,
)
def json_corrupt_records_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON scanning with a _corrupt_record column:
    malformed lines (here: every 7th document's JSON is truncated
    before writing) surface as rows with the raw text in the corrupt
    column instead of failing the job — the ingest posture for
    crawled/third-party feeds where a poison line must not kill a
    100 TB batch. The query accounts valid vs corrupt rows and the
    surviving payload mass; the oracle knows the corruption rule."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.when(
        F.col("doc_id") % 7 == 0,
        # truncated JSON: opening brace, no close — unparseable
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
    ).otherwise(F.to_json(F.struct("doc_id", "n_chars")))
    root = scratch_dir("gw_json_")
    d.select(line.alias("value")).write.text(f"{root}/src")
    parsed = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{root}/src")
    )
    # corrupt rows: _corrupt_record set and payload fields null
    is_corrupt = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count_if(~is_corrupt).alias("n_valid"),
        F.count_if(is_corrupt).alias("n_corrupt"),
        F.sum(F.when(~is_corrupt, F.col("n_chars")).otherwise(0)).alias(
            "valid_chars"
        ),
    )


@query(
    "agg_top1pct_revenue_share",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS total
      FROM cust
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX((n + 99) // 100) AS BIGINT) AS n_top,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN rnk <= (n + 99) // 100 THEN cents ELSE 0 END)
                  * 1000000 // MAX(total) AS DOUBLE) / 1e6
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS top1pct_share
    FROM ranked
    """,
)
def agg_top1pct_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale concentration: the share of total order revenue held by
    the top 1% of customers (ceil(n/100), deterministic key
    tie-break) — the number every marketplace health dashboard leads
    with. Ranking and share arithmetic run on exact integer cents over
    the CUSTOMER-sized aggregate; the ordered pass never touches raw
    orders — and since customer cardinality grows with the data, the
    rank itself is TWO-PHASE (twophase.two_phase_ordered: parallel
    range-partitions, broadcast prefix offsets), with COUNT/SUM OVER()
    folded into the same parts-row broadcast summary."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = two_phase_ordered(
        cust,
        [F.desc("cents"), F.asc("o_custkey")],
        rank_name="rnk",
        total_name="n",
        sum_totals={"total": "cents"},
    ).select("cents", "rnk", "n", "total")
    n_top = F.expr("(n + 99) div 100")
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.max(n_top).alias("n_top"),
        _r(
            F.expr(
                "CAST(SUM(CASE WHEN rnk <= (n + 99) div 100 THEN cents ELSE 0 END)"
                " * 1000000 div MAX(total) AS DOUBLE)"
            )
            / 1e6,
            6,
        ).alias("top1pct_share"),
    )


@query(
    "join_dim_asof_scd2",
    oracle="""
    WITH hist AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1992-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '1997-01-01' END
               AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'UPGRADED', TIMESTAMP '1997-01-01', NULL
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT segment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    GROUP BY segment
    """,
)
def join_dim_asof_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join: each fact row joins the SCD2 history
    version that was CURRENT on the fact's date (validity-window
    predicate) — the consumer side of delta_scd2_merge, and the join
    every warehouse with versioned dimensions runs on every query.

    The equi-key (custkey) drives the hash join; the validity window
    is a residual predicate evaluated inside the matched bucket, so
    the join stays an ordinary shuffled/broadcast hash join — never a
    range-only theta join. Each fact matches exactly one version
    (windows partition time), which the oracle's row count would
    expose if violated."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 10 == 0,
            F.lit("1997-01-01").cast("timestamp"),
        ).alias("valid_to"),
    )
    upgraded = c.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit("1997-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    hist = base.unionByName(upgraded)
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    joined = o.join(
        F.broadcast(hist),
        (o.o_custkey == hist.c_custkey)
        & (o.o_orderdate >= hist.valid_from)
        & (hist.valid_to.isNull() | (o.o_orderdate < hist.valid_to)),
    )
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_orders"), F.sum(cents).alias("cents")
    )


@query(
    "stream_idempotent_foreachbatch",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,10)), 4) AS DOUBLE) AS value
    FROM events WHERE event_id % 25 = 0
    """,
)
def stream_idempotent_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming Delta sink: foreachBatch appends with a
    SetTransaction id of (query-scoped appId, batchId), then a
    REPLAYED batch — the failure mode foreachBatch explicitly warns
    about, simulated here by re-invoking the batch function with an
    already-committed batchId — commits nothing. This is the
    composition of streaming/jobs.py's CDC sink with the writer's
    idempotent-write protocol (writer.py::write_delta txn support):
    end-to-end exactly-once without a transactional sink API, the way
    production Delta streaming sinks actually do it."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    root = scratch_dir("gw_sidem_")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 25 == 0)
        .select("event_id", "event_type", _r(F.col("value"), 4).alias("value"))
    )
    e.write.parquet(f"{root}/src")
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(f"{root}/src")
    table = f"{root}/delta_sink"
    seen_batches = []

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen_batches.append(batch_id)
        write_delta(
            batch_df,
            table,
            mode="append",
            txn_app_id="stream_idem",
            txn_version=int(batch_id) + 1,
        )

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # simulate the replay foreachBatch documents: same batch delivered
    # again after a recovery — the txn guard must make it a no-op
    replay_df = spark.read.schema(
        "event_id long, event_type string, value double"
    ).parquet(f"{root}/src")
    for bid in seen_batches:
        write_delta(
            replay_df,
            table,
            mode="append",
            txn_app_id="stream_idem",
            txn_version=int(bid) + 1,
        )
    return read_delta(spark, table)


@query(
    "delta_replace_where",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
    UNION ALL
    SELECT doc_id, lang, n_chars + 1000000 AS n_chars
    FROM documents WHERE lang = 'en'
    """,
)
def delta_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere — selective overwrite in ONE atomic commit: the
    English slice of the corpus is reprocessed (lengths shifted by
    1e6 to make replacement visible) and swapped in while every other
    language's rows stay untouched; readers can never observe the
    deleted-but-not-yet-reinserted state a delete+append pair
    exposes. Incoming rows violating the predicate are rejected
    (Delta's replaceWhere contract — tests/test_warehouse_ext.py)."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import replace_where, write_delta

    table = scratch_dir("gw_rw_") + "/docs"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_delta(d, table, mode="append")
    reprocessed = d.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1000000
    )
    replace_where(spark, table, "lang = 'en'", reprocessed)
    return read_delta(spark, table)
