"""Catalog of the driver-provided test tables (TESTDATA.md).

``load_table`` is the single scan entry point used by every operator:
a plain declarative ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # generations and TIMESTAMP(MICROS) in others, so adapt to the
        # stored type instead of assuming one:
        #   * NANOS — Spark rejects by default; nanosAsLong is a
        #     runtime-settable SQL conf (set here rather than relying on
        #     whoever built the SparkSession — an external driver harness
        #     builds its own), then the long nanos convert losslessly to a
        #     microsecond timestamp with exact integer division.
        #   * MICROS — arrives as TIMESTAMP_NTZ; cast to TimestampType so
        #     downstream operators see one type either way (under the
        #     engine's UTC session timezone the instants are identical).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Same defensive posture for the session timezone: the
        # TIMESTAMP_NTZ→TimestampType cast below and every downstream
        # calendar-bucketed operator (window(), date_format, weekly
        # cohorts) interpret wall clocks in spark.sql.session.timeZone.
        # An external harness-built session may not be UTC; pin it here
        # so epoch math matches the UTC-based DuckDB oracles.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(d: DataFrame) -> DataFrame:
    """Guarded pre-compute fan-out for CPU-heavy per-row stages
    (tokenize/shingle/hash): when the scan has fewer files than cores
    (the sf test tables are single parquet files = one scan
    partition), repartition so the expensive projection uses every
    core.  At real scale the scan already carries ≥ cores partitions
    and this is a no-op — no gratuitous full shuffle of raw text.

    The guard reads the frame's ACTUAL partition count
    (``rdd.getNumPartitions()``), not the input-file count: Spark
    packs small files into fewer splits (maxPartitionBytes/
    openCostInBytes), so a 40-file scan can open as 20 tasks —
    round-12 measured the file-count guard leaving the tokenize stage
    at 20/32 width on a multi-file 10× fixture (46 s of CPU over 20
    tasks).  On a scan-backed frame (every current caller) ``.rdd`` is
    a driver-side plan materialization with no job.  It is NOT free on
    other frames: under AQE, ``.rdd`` on a plan with exchanges
    (unions of shuffled inputs, post-aggregation or post-join results)
    runs the upstream query stages to size them, so wrapping such a
    frame pays real jobs inside this width probe.  Wrap scan-backed
    frames only."""
    parallelism = d.sparkSession.sparkContext.defaultParallelism
    width = d.rdd.getNumPartitions()
    if width < parallelism:
        d = d.repartition(parallelism)
    return d


def sized_group_partitions(
    d: DataFrame, *key_cols: str, groups_per_task: int = 256, cap: int = 65536
) -> int:
    """Data-derived partition count for a per-GROUP Python stage
    (``groupBy(k).applyInPandas``).

    A grouped-map stage's cost is per-group, not per-byte: every group
    pays a pandas-frame construction + Arrow round-trip (~1.3 ms
    measured on udaf_apply_in_pandas), so the right partition count
    scales with GROUP COUNT — one task per ~``groups_per_task`` groups
    keeps tasks ~0.3 s of Python regardless of scale.  Byte-based
    sizing (AQE's coalescing, or the streaming sized_state_partitions
    rule) undersizes it badly: the shuffle under a grouped-map over a
    narrow key is tiny, AQE coalesces it to 1-6 partitions, and the
    Python stage serializes (round-11 measured the §4.1 projection
    making this query 45% SLOWER for exactly this reason — fewer bytes
    meant fewer post-AQE tasks).

    The estimate is one ``approx_count_distinct`` aggregate — a
    partial-agg job with a 1-row result, cheap at any scale and
    core-count-independent, so the driver's reduced-core bench stays
    comparable.  The cap bounds the shuffle block count (guide §2.2)
    once group counts reach the hundreds of millions; past it each
    task simply holds more groups.
    """
    from pyspark.sql import functions as F

    n_groups = d.select(
        F.approx_count_distinct(F.struct(*key_cols)).alias("n")
    ).first()["n"]
    return max(1, min(cap, -(-int(n_groups) // groups_per_task)))


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """k-sized driver-local table → DataFrame as a JVM LocalTableScan.

    ``spark.createDataFrame(list)`` parallelizes the pickled rows over
    ``defaultParallelism`` slices and executes them through Python
    workers (``applySchemaToPythonRDD``): every downstream aggregate or
    broadcast over an 8-row centroid/codebook table then spawns a
    32-task micro-stage whose per-task cost is a Python worker
    round-trip, not compute (stage-profiled at ~250 ms/task; a
    coalesce(1) of that RDD serializes the SAME round-trips into one
    ~7 s task).  Routing the rows through a pandas frame makes the
    Arrow path build the relation JVM-side: the plan is a
    LocalTableScan — zero scan tasks, zero Python in the executed plan
    — and doubles cross Arrow bit-exactly."""
    import pandas as pd
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).fieldNames()
    pdf = pd.DataFrame({n: [r[i] for r in rows] for i, n in enumerate(names)})
    return spark.createDataFrame(pdf, schema=schema)


_REGISTERED: set[tuple[int, str]] = set()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql queries.

    Cached per (session, sf_dir): sql_suite queries call this on every
    invocation, and re-reading + re-registering 10 parquet tables each
    time is pure overhead in a long-lived session.  Temp views are
    session-scoped, so the key includes the session identity."""
    key = (id(spark), sf_dir)
    if key in _REGISTERED:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED.add(key)
