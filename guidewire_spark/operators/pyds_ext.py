"""Spark 4 Python DataSource API coverage, local-maxima peak
detection, and the two-proportion z-test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round as _r
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query


# ---------------------------------------------------------------------------
# Python DataSource API
# ---------------------------------------------------------------------------


def _register_squares_source(spark: SparkSession) -> None:
    """Register the deterministic partitioned Python data source
    (idempotent per session)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 10000))
            self.parts = int(options.get("partitions", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            # each partition generates its residue class — embarrassingly
            # parallel, no driver materialization
            p, step = partition.value, self.parts
            for i in range(p, self.n, step):
                yield (
                    i,
                    i % 100,
                    (i * 2654435761) % 100000,
                    i % 30,
                )

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "gw_synth"

        def schema(self):
            return "i bigint, user_id bigint, amount_cents bigint, day bigint"

        def reader(self, schema):
            return SynthReader(self.options)

    spark.dataSource.register(SynthSource)  # re-registering replaces


@query(
    "pyds_partitioned_source",
    oracle="""
    SELECT CAST(i % 100 % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((i * 2654435761) % 100000) AS BIGINT) AS sum_cents
    FROM range(0, 10000) t(i)
    GROUP BY i % 100 % 10
    """,
)
def pyds_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (Spark 4 `pyspark.sql.datasource`):
    a deterministic synthetic-rows source exposing schema() +
    partitions() + per-partition read() — the pure-Python way to
    plug a bespoke system (an internal REST feed, a proprietary
    format) into the engine as a first-class `spark.read.format(...)`
    table, WITHOUT a JVM connector jar.  Each InputPartition
    generates its residue class independently (nothing flows through
    the driver; Arrow-batched rows per executor), so the source
    scales horizontally like any file scan.  Aggregation on top
    proves it composes with the optimizer like a native relation.
    The DuckDB oracle regenerates the same rows from the same
    integer arithmetic."""
    _register_squares_source(spark)
    df = (
        spark.read.format("gw_synth")
        .option("n", "10000")
        .option("partitions", "8")
        .load()
    )
    return df.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("amount_cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Peak detection
# ---------------------------------------------------------------------------


@query(
    "ts_peak_detection",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS x,
             SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) // COUNT(*) AS y
      FROM events GROUP BY date_trunc('day', ts)
    ),
    nbr AS (
      SELECT x, y,
             LAG(y) OVER (ORDER BY x) AS prev,
             LEAD(y) OVER (ORDER BY x) AS nxt
      FROM daily
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(y - GREATEST(prev, nxt) AS BIGINT) AS prominence
    FROM nbr
    WHERE prev IS NOT NULL AND nxt IS NOT NULL
      AND y > prev AND y > nxt
      AND y - GREATEST(prev, nxt) >= 2000
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection on the daily mean series: a day is
    a peak when it strictly exceeds both neighbors AND clears them by
    a 2000-milli prominence floor (the guard that separates real
    spikes from sawtooth noise — plain `y > neighbors` fires on every
    wiggle).  The complementary shape to ts_changepoint_meanshift
    (level SHIFTS) and ts_burst_windows (count bursts): this finds
    VALUE spikes.  Pure lag/lead over the calendar-bounded daily
    aggregate, all-integer comparisons."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "sum(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) div count(*)"
        ).alias("y")
    ).select(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias("x"),
        "y",
    )
    w = Window.orderBy("x")
    nbr = daily.select(
        "x",
        "y",
        F.lag("y").over(w).alias("prev"),
        F.lead("y").over(w).alias("nxt"),
    )
    prom = F.col("y") - F.greatest("prev", "nxt")
    return nbr.where(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("y") > F.col("prev"))
        & (F.col("y") > F.col("nxt"))
        & (prom >= 2000)
    ).select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        prom.cast("long").alias("prominence"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test
# ---------------------------------------------------------------------------


@query(
    "agg_two_proportion_z",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id % 2
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN conv END) AS c1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
           CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           CAST(ROUND(CAST(
             (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1))
           AS DECIMAL(24,10)), 6) AS DOUBLE) AS z
    FROM w
    """,
)
def agg_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion rates between the parity
    cohorts: z = (p₀−p₁)/√(p̂(1−p̂)(1/n₀+1/n₁)) with the pooled p̂ —
    the binary-outcome member of the experiment family
    (agg_ab_welch_t tests means, ts_poisson_rate_test tests counts,
    this tests RATES of a yes/no action — the most common A/B
    readout of all).  One partial-aggregated pass to four integers;
    the statistic is scalar arithmetic."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = arms.agg(
        pick(0, "n").alias("n0"),
        pick(0, "conv").alias("c0"),
        pick(1, "n").alias("n1"),
        pick(1, "conv").alias("c1"),
    )
    n0, c0 = F.col("n0"), F.col("c0")
    n1, c1 = F.col("n1"), F.col("c1")
    pooled = (c0 + c1).cast("double") / (n0 + n1)
    z = (c0.cast("double") / n0 - c1.cast("double") / n1) / F.sqrt(
        pooled * (1 - pooled) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    return w.select(
        n0.cast("long").alias("n0"),
        c0.cast("long").alias("c0"),
        n1.cast("long").alias("n1"),
        c1.cast("long").alias("c1"),
        _r(z, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Python DataSource WRITER (the other half of the Spark 4 API)
# ---------------------------------------------------------------------------


@query(
    "pyds_partitioned_sink",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(24,10)) * 1000, 0) AS BIGINT)) AS BIGINT)
             AS milli_total
    FROM events WHERE user_id % 40 = 0 GROUP BY user_id
    """,
)
def pyds_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Spark 4 Python DataSource API
    (pyds_partitioned_source covers the read half): a custom sink
    whose per-partition ``write(iterator)`` runs ON THE EXECUTORS
    (each emits its own file + a WriterCommitMessage) and whose
    ``commit(messages)`` finalizes on the driver — the two-phase
    commit contract every production sink (JDBC, search index,
    feature store) builds on.  The query writes a per-user aggregate
    through the sink as CSV, reads the files back, and must
    round-trip exactly (the oracle recomputes from source) — proving
    executor-side writes, message collection, and commit all fire."""

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = scratch_dir("gw_pyds_sink_")

    class CsvWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            rows = 0
            tmp = os.path.join(self.path, f"part-{pid:05d}.csv")
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(f"{row.user_id},{row.n},{row.milli_total}\n")
                    rows += 1
            return WriterCommitMessage()

        def commit(self, messages):
            import os

            with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
                fh.write(f"{len(messages)} tasks\n")

        def abort(self, messages):
            pass

    class CsvSink(DataSource):
        @classmethod
        def name(cls):
            return "gw_csv_sink"

        def writer(self, schema, overwrite):
            return CsvWriter(self.options)

    spark.dataSource.register(CsvSink)  # re-registering replaces

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 40 == 0)
    agg = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value").cast("decimal(24,10)") * 1000, 0).cast("long")).alias(
            "milli_total"
        ),
    )
    agg.write.format("gw_csv_sink").option("path", out_dir).mode(
        "append"
    ).save()
    back = spark.read.schema("user_id long, n long, milli_total long").csv(
        out_dir
    )
    return back


@query(
    "pyds_cda_pushdown",
    oracle="""
    SELECT p_partkey, p_type, CAST(1700000000001 AS BIGINT) AS commit_ts
    FROM part WHERE p_partkey % 3 = 1
    UNION ALL
    SELECT p_partkey, p_type, CAST(1700000000002 AS BIGINT) AS commit_ts
    FROM part WHERE p_partkey % 3 = 2
    """,
)
def pyds_cda_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter PUSHDOWN through the Python DataSource API (Spark 4.1
    `pushFilters`): the CDA batch source exposes each row's commit
    timestamp as a `commit_ts` column, and a range predicate on it is
    handed to the source at planning time, which prunes whole commit
    FOLDERS before any parquet file is opened — Delta's metadata-only
    partition pruning, re-expressed at the Python-source layer.  Three
    staged commits, a `commit_ts >=` predicate, only two folders read
    (partition-count proof in tests/test_streaming.py)."""
    import os
    import shutil

    from guidewire_spark.streaming.cda_source import register_cda_batch_source

    register_cda_batch_source(spark)
    root = scratch_dir("gw_cdapush_")
    fp = f"{root}/part_cda/fp001"
    os.makedirs(fp)
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    base = 1700000000000
    # one scan + one bucket-keyed shuffle stages all three commit
    # slices (round-11, guide §1.2; was one full scan + coalesce(1)
    # per slice); partitionBy keeps the bucket out of the data files
    # and repartition("bucket") yields one parquet part per folder
    stage = f"{root}/stage"
    (
        p.withColumn("bucket", F.col("p_partkey") % 3)
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(stage)
    )
    for i in range(3):
        dst = f"{fp}/{base + i}"
        os.makedirs(dst)
        for f in os.listdir(f"{stage}/bucket={i}"):
            if f.endswith(".parquet"):
                shutil.move(f"{stage}/bucket={i}/{f}", f"{dst}/{f}")
    return (
        spark.read.format("gw_cda")
        .option("path", fp)
        .load()
        .where(F.col("commit_ts") >= base + 1)
        .select("p_partkey", "p_type", "commit_ts")
    )
