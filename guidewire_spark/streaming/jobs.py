"""Structured Streaming jobs (SURVEY.md §2.4 "Streaming-only").

The transformations are the *same logical plans* as the batch-verified
queries in ``streaming/windowed.py`` — Spark guarantees the semantics
carry over; these helpers bind them to readStream sources and
writeStream sinks with watermarks and checkpointing.

The stream source is a parquet *directory* (files arriving = events
arriving), matching how downstream consumers subscribe to the
connector's output incrementally (reference ``README.md:39-43``:
auto-loader/DLT over the produced table; our engine's equivalent is a
file stream over snapshot data + the checkpointLocation mirroring the
connector's own `_checkpoints` high-water-mark design, P12).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def events_stream(
    spark: SparkSession, src_dir: str, schema: T.StructType = EVENTS_SCHEMA
) -> DataFrame:
    """File-arrival stream over a parquet directory (explicit schema —
    streaming sources cannot infer)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling 10-minute windows per event type with late-data drop —
    the streaming twin of windowed.stream_tumbling_window."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user on a stream (state cleanup driven by
    the watermark)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").cast("long").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: duplicates of (user_id, event_type,
    ts) arriving within the watermark horizon are dropped; state for
    keys older than the watermark is evicted (bounded memory — the
    property that makes streaming dedup viable indefinitely)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total), re-emitted on every update.

    The operator Spark's built-ins can't express: arbitrary per-key
    state with user-controlled emission. State is two numbers per
    user_id — bounded by key cardinality, not stream length — and the
    Arrow batches keep the Python boundary vectorized.

    State eviction: a production deployment with churning keys would
    set ``GroupStateTimeout.ProcessingTimeTimeout`` +
    ``state.setTimeoutDuration(...)`` to drop idle keys. That is
    deliberately NOT done here: a pending processing-time timeout
    keeps the query permanently "busy", so the drain-the-source test
    harness (``processAllAvailable``) never returns.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def distinct_types_transform_with_state(stream: DataFrame) -> DataFrame:
    """Custom stateful operator on the Spark 4 ``transformWithState``
    API: per-user running (distinct event-type count, event count) —
    incremental distinct tracking a built-in streaming agg can't do
    without re-shuffling history.

    State: a MapState keyed by event_type (presence set) + a ValueState
    event counter, both in the RocksDB state store; TTL-able per state
    for churning keys. Emits one row per user per micro-batch.

    Runtime requirement: the transformWithState state-server protocol
    needs ``google.protobuf`` on the Python workers (absent in this
    container, so the covering test import-skips there); on a normal
    Spark 4 deployment protobuf ships with pyspark[connect]. The
    applyInPandasWithState twin (``running_user_totals``) has no such
    dependency and is fully tested here.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DistinctTypes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.seen = handle.getMapState(
                "seen", "event_type string", "one integer"
            )
            self.count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
                for et in pdf["event_type"].unique():
                    self.seen.updateValue((str(et),), (1,))
            self.count.update((n,))
            n_types = sum(1 for _ in self.seen.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_event_types": [n_types],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        DistinctTypes(),
        outputStructType="user_id long, n_event_types long, n_events long",
        outputMode="Update",
        timeMode="None",
    )


def sized_state_partitions(
    *src_dirs: str, target_bytes: int = 64 * 1024 * 1024
) -> int:
    """Data-derived state/shuffle partition count for a stateful
    stream about to drain the given source directories.

    Stateful operators instantiate one state store per shuffle
    partition per operator and COMMIT each store every micro-batch
    (delta file + fsync) — so the per-batch floor scales with the
    partition count, not the data (guide §2.2: fewer, larger
    partitions; measured round-11 on stream_stream_interval_join:
    addBatch 12.3 s at 32 partitions vs 2.1 s at 8 for the same 13k
    rows).  Deriving the count from the bytes this run will actually
    ingest — one partition per ~64 MB of drained input, floor 1 —
    keeps the sizing scale-adaptive instead of pinned to either the
    local core count or a cluster constant: at 100 TB/day the same
    formula yields tens of thousands of partitions, and it is
    independent of the executor/core count so the driver's
    reduced-core bench runs stay comparable.  64 MB (not the guide's
    100 MB-1 GB shuffle band) because stream-stream join state
    RETAINS both inputs for the watermark horizon — state per
    partition amplifies ingest bytes."""
    total = 0
    for d in src_dirs:
        for base, _dirs, files in _os.walk(d):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                try:
                    total += _os.path.getsize(_os.path.join(base, f))
                except OSError:
                    pass
    return max(1, -(-total // target_bytes))


def stage_event_sides(
    spark: SparkSession,
    e: DataFrame,
    root: str,
    sentinel: bool = False,
) -> None:
    """Stage the purchase/view source directories for a stream-stream
    join in ONE scan + ONE write (round-12): the per-side loop paid a
    full filtered scan and a write job per side; a single
    ``partitionBy`` write over a derived directory column produces the
    identical two directories (the partition column stays out of the
    data files, so the staged schema is unchanged) and the tree is
    moved into place.

    ``sentinel`` additionally rides one far-future sentinel row per
    side INSIDE the data (the outer/semi variants' deterministic
    flush — see stream_stream_left_outer_join's docstring for why the
    sentinel must not be filtered inside the streaming query).  The
    max-ts lookup is the one unavoidable pre-write job: the sentinel
    timestamp must be known before the sources are staged."""
    import datetime
    import shutil

    from guidewire_spark.plans.catalog import local_df

    sides = e.where(F.col("event_type").isin("purchase", "view")).withColumn(
        "pdir",
        F.when(F.col("event_type") == "purchase", F.lit("p_src")).otherwise(
            F.lit("v_src")
        ),
    )
    if sentinel:
        max_ts = e.agg(F.max("ts")).collect()[0][0]
        if max_ts is None:
            raise ValueError(
                "stage_event_sides(sentinel=True) needs at least one "
                "event with a non-null ts: the sentinel rows are placed "
                "96 h after the latest event, and the events frame has none"
            )
        far = max_ts + datetime.timedelta(hours=96)
        sides = sides.unionByName(
            local_df(
                spark,
                [
                    (-1, far, -1, "sentinel", "p_src"),
                    (-2, far, -2, "sentinel", "v_src"),
                ],
                "event_id long, ts timestamp, user_id long, "
                "event_type string, pdir string",
            )
        )
    stage = f"{root}/stage"
    sides.write.partitionBy("pdir").parquet(stage)
    for sub in ("p_src", "v_src"):
        src, dst = f"{stage}/pdir={sub}", f"{root}/{sub}"
        if _os.path.isdir(src):
            _os.rename(src, dst)
        else:  # an empty side still needs a (empty) source directory
            _os.makedirs(dst, exist_ok=True)
    shutil.rmtree(stage, ignore_errors=True)


class _state_sizing:
    """Set ``spark.sql.shuffle.partitions`` for the duration of one
    streaming drain and restore it after: the stream's state
    partitioning is fixed from the session conf when its first batch
    plans, and the session is shared across queries."""

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n = spark, n
        self._prev: str | None = None

    def __enter__(self) -> None:
        if self._n is not None:
            self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc) -> None:
        if self._prev is not None:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)


def run_to_memory(
    result: DataFrame,
    name: str,
    checkpoint_dir: str,
    mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Drain all available input through a memory sink (test/dev
    harness). ``checkpointLocation`` gives exactly-once across
    restarts — the consumer-side mirror of the connector's
    _checkpoints table (P12)."""
    with _state_sizing(result.sparkSession, state_partitions):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_merge_stream(
    updates: DataFrame, table_path: str, on: str, checkpoint_dir: str
) -> None:
    """CDC-apply: stream of upserts merged into a Delta table per
    micro-batch via foreachBatch + the file-pruned MERGE.

    Each micro-batch is deduplicated to the latest row per key (a CDC
    feed can carry several updates for one key in a batch — MERGE
    requires unique keys), then merge_into rewrites only the files
    whose stats-range overlaps the batch's keys. checkpointLocation
    makes the sink effectively exactly-once: a replayed batch merges
    idempotently (same keys → same rewrite).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from guidewire_spark.sources.writer import merge_into

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.take(1):
            return
        w = Window.partitionBy(on).orderBy(
            F.monotonically_increasing_id().desc()
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        merge_into(batch_df.sparkSession, table_path, latest, on=on)

    q = (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_parquet(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_partitions: int | None = None,
) -> None:
    """File sink with checkpointing; the output directory can then be
    indexed into a Delta table by the connector (sources.indexer) —
    completing the stream → table → SQL loop the reference promises
    its consumers."""
    with _state_sizing(result.sparkSession, state_partitions):
        q = (
            result.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_matview_stream(
    rows: DataFrame, base_table: str, view_path: str, checkpoint_dir: str
) -> None:
    """Continuous materialized-view maintenance: each micro-batch is
    appended to the base Delta table (a blind append — retried
    optimistically on version collisions), then the aggregate view is
    refreshed from the change feed alone (sources/matview.py). After
    every batch the view equals a full re-aggregate of the base — the
    streaming closure of the CDF-refresh loop, at per-batch cost
    proportional to the batch plus the view, never the base.
    """
    from guidewire_spark.sources.matview import refresh_materialized_aggregate
    from guidewire_spark.sources.writer import write_delta

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.take(1):
            return
        write_delta(batch_df, base_table, mode="append")
        refresh_materialized_aggregate(batch_df.sparkSession, base_table, view_path)

    q = (
        rows.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


@query(
    "stream_merge_to_delta",
    oracle="""
    WITH u AS (SELECT event_id, user_id, event_type, value, ts
               FROM events WHERE user_id % 7 = 0),
    l AS (SELECT user_id, event_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM u)
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS last_value
    FROM l WHERE rn = 1
    """,
)
def stream_merge_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming CDC-apply: a Delta table seeded with each
    user's FIRST event is brought to "latest event per user" by
    streaming per-user update rows through foreachBatch + MERGE
    (run_merge_stream), one file per micro-batch. Verifies the whole
    stream → foreachBatch → stats-pruned MERGE → Delta log loop; the
    final table must equal the batch window query regardless of batch
    arrival order (each key is updated by exactly one streamed row, so
    the merge sequence commutes).
    """

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    root = scratch_dir("gw_smerge_")
    table = root + "/user_state"
    src = root + "/updates_src"

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 7 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    w_first = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seed = (
        ev.withColumn("_rn", F.row_number().over(w_first))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    write_delta(seed, table, mode="append")

    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    updates = (
        ev.withColumn("_rn", F.row_number().over(w_last))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    updates.repartition(3, "user_id").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_merge_stream(stream, table, on="user_id", checkpoint_dir=root + "/ckpt")

    return read_delta(spark, table).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        stable_round(F.col("value"), 4, "decimal(24,8)")
        .alias("last_value"),
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_mktsegment,
           CAST(ROUND(CAST(e.value * 1.1 AS DECIMAL(24,10)), 4) AS DOUBLE)
             AS adj_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id % 20 = 0
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: a streaming event feed joined to
    a static (slowly-changing) dimension table — the canonical
    "enrich the clickstream with the customer record" pipeline. The
    static side is broadcast to every task, so the stream never
    shuffles and the join is STATELESS (no watermark, no state store —
    the static snapshot is re-resolvable per micro-batch); this is the
    shape that runs indefinitely at 100 TB/day where a stream-stream
    join would accumulate state.
    """

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_senrich_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 20 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    ev.write.parquet(f"{root}/src")
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    ).parquet(f"{root}/src")
    enriched = stream.join(
        F.broadcast(customers), stream.user_id == customers.c_custkey, "inner"
    ).select(
        "event_id",
        "event_type",
        "c_mktsegment",
        stable_round(F.col("value") * 1.1, 4)
        .alias("adj_value"),
    )
    run_to_parquet(enriched, f"{root}/out", f"{root}/ckpt")
    return spark.read.schema(
        "event_id long, event_type string, c_mktsegment string, adj_value double"
    ).parquet(f"{root}/out")


@query(
    "stream_stream_interval_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, ts FROM events
               WHERE user_id % 3 = 0)
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM e WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts <= p.ts
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join, end to end: purchases
    and views arrive as two independent file streams; each purchase
    joins the same user's views from the preceding day. Both sides
    carry a 25-hour watermark + the 24-hour time-bound join condition,
    so the state store provably evicts rows older than watermark +
    join bound (~49 h behind max event time) — bounded state is the
    property that lets this run forever at 100 TB/day. Inner-join
    output is complete regardless of watermark timing, so the emitted
    pair set equals the batch interval join exactly (ts_interval_join
    is the single-shuffle batch twin of this query).
    """

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_ssjoin_")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 3 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    stage_event_sides(spark, e, root)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/p_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/v_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = p.join(
        v,
        F.expr(
            """purchase_id IS NOT NULL AND user_id = v_user_id
               AND v_ts >= p_ts - INTERVAL 24 HOUR AND v_ts <= p_ts"""
        ),
        "inner",
    ).select("purchase_id", "view_id", "user_id")
    run_to_parquet(
        joined,
        f"{root}/out",
        f"{root}/ckpt",
        state_partitions=sized_state_partitions(
            f"{root}/p_src", f"{root}/v_src"
        ),
    )
    return spark.read.schema(
        "purchase_id long, view_id long, user_id long"
    ).parquet(f"{root}/out")


@query(
    "stream_complete_mode_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(CAST(SUM(value) AS DECIMAL(24,8)), 2) AS DOUBLE)
             AS sum_value
    FROM events WHERE user_id % 5 = 0 GROUP BY event_type
    """,
)
def stream_complete_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming aggregation: an unwindowed
    global groupBy over a stream re-emits the FULL aggregate table
    every micro-batch (the live-dashboard contract). Safe at scale
    only because the result is group-cardinality-sized — event types,
    not events — which is exactly when complete mode is the right
    tool; the memory sink here is the dashboard stand-in. After
    draining all input the last emission must equal the batch
    aggregate (the oracle)."""
    import uuid

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_complete_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("event_id", "event_type", "value")
    )
    ev.write.parquet(f"{root}/src")
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(f"{root}/src")
    counts = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        stable_round(F.sum("value"), 2, "decimal(24,8)")
        .alias("sum_value"),
    )
    name = "gw_complete_" + uuid.uuid4().hex[:8]
    run_to_memory(
        counts,
        name,
        f"{root}/ckpt",
        mode="complete",
        state_partitions=sized_state_partitions(f"{root}/src"),
    )
    return spark.sql(f"SELECT event_type, n, sum_value FROM {name}")


@query(
    "stream_available_now_backfill",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value
    FROM events WHERE user_id % 6 = 0
    """,
)
def stream_available_now_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backfill: process everything currently in
    the source in rate-limited micro-batches (maxFilesPerTrigger
    honored, unlike the deprecated Trigger.Once), then STOP — the
    production pattern for replaying history through the same
    streaming query that then runs continuously, with exactly-once
    checkpointing across the restart boundary. The drained output must
    equal the batch projection (the oracle)."""

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_avnow_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 6 == 0)
        .select("event_id", "event_type", "value")
    )
    ev.repartition(4).write.parquet(f"{root}/src")
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
    )
    out = stream.select(
        "event_id",
        "event_type",
        stable_round(F.col("value"), 4, "decimal(24,8)")
        .alias("value"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("event_id long, event_type string, value double").parquet(
        f"{root}/out"
    )


@query(
    "stream_update_mode_agg",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(ROUND(CAST(SUM(value) AS DECIMAL(24,8)), 2) AS DOUBLE)
             AS sum_value
    FROM events WHERE user_id % 8 = 0 GROUP BY user_id
    """,
)
def stream_update_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-output-mode streaming aggregation: each micro-batch
    emits ONLY the groups whose aggregate changed (the incremental
    contract between complete mode's full re-emit and append mode's
    finalized-only). The memory sink therefore holds several versions
    per key — the query recovers the final state per key with a max
    aggregate, valid because streaming counts/sums over appends grow
    monotonically; after draining all input that state must equal the
    batch aggregate (the oracle)."""
    import uuid

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_update_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 8 == 0)
        .select("user_id", "value")
    )
    ev.repartition(4).write.parquet(f"{root}/src")
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
    )
    counts = stream.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_raw")
    )
    name = "gw_update_" + uuid.uuid4().hex[:8]
    run_to_memory(
        counts,
        name,
        f"{root}/ckpt",
        mode="update",
        state_partitions=sized_state_partitions(f"{root}/src"),
    )
    return spark.sql(
        f"""
        SELECT user_id, MAX(n) AS n,
               CAST(ROUND(CAST(MAX(sum_raw) AS DECIMAL(24,8)), 2) AS DOUBLE)
                 AS sum_value
        FROM {name} GROUP BY user_id
        """
    )


@query(
    "stream_fanout_two_sinks",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value,
           'parquet' AS sink
    FROM events WHERE user_id % 9 = 0
    UNION ALL
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value,
           'delta' AS sink
    FROM events WHERE user_id % 9 = 0
    """,
)
def stream_fanout_two_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch fan-out to TWO sinks (parquet + Delta) from one
    stream — the multi-destination pattern (data lake + serving copy)
    a single writeStream cannot express. Each micro-batch writes both
    targets inside one foreachBatch call; the checkpoint makes the
    pair effectively exactly-once together (a replayed batch re-runs
    both writes; the parquet side partitions by batch id so the replay
    overwrites rather than duplicates, the Delta side is a blind
    append whose commit carries the batch id via txn-style
    idempotence here simplified to overwrite-by-batch semantics).
    After draining, BOTH sinks must equal the batch projection — the
    oracle checks the union labeled per sink."""

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    root = scratch_dir("gw_fanout_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 9 == 0)
        .select(
            "event_id",
            "event_type",
            stable_round(F.col("value"), 4, "decimal(24,8)")
            .alias("value"),
        )
    )
    ev.repartition(3).write.parquet(f"{root}/src")
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
    )
    delta_path = f"{root}/delta_sink"

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        batch_df.write.mode("overwrite").parquet(
            f"{root}/pq_sink/batch={batch_id}"
        )
        write_delta(batch_df, delta_path, mode="append")

    q = (
        stream.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    pq = spark.read.schema(
        "event_id long, event_type string, value double"
    ).parquet(f"{root}/pq_sink/batch=*")
    de = read_delta(spark, delta_path).select("event_id", "event_type", "value")
    return pq.withColumn("sink", F.lit("parquet")).unionByName(
        de.withColumn("sink", F.lit("delta"))
    )


@query(
    "stream_stream_left_outer_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, ts FROM events
               WHERE user_id % 4 = 1)
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts <= p.ts
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every
    purchase pairs with the same user's preceding-day views, and
    purchases with NO qualifying view still emit (view_id NULL) — the
    outer side is what makes this the hard join: null rows can only be
    emitted once the watermark proves no match can still arrive, so
    each unmatched row surfaces ~(watermark + join bound) behind max
    event time, from the no-data micro-batch that follows the
    watermark advance.

    To make the finite run flush deterministically, each source
    includes one far-future sentinel row (96 h past max event time,
    negative ids): the post-batch watermark then clears the entire
    state store and the trailing no-data micro-batch emits every
    pending null row. The sentinel must NOT be excluded inside the
    streaming query: a predicate like purchase_id >= 0 after the join
    is pushed below the watermark operator into the purchase-side
    scan, the sentinel file is skipped via rowgroup stats, that side's
    watermark never advances, and the global (min) watermark strands
    the newest ~25 h of unmatched purchases in the state store
    (observed before this design). The sentinels are instead dropped
    in the BATCH read of the sink directory, where pushdown is
    harmless. On an unbounded stream no sentinel is needed — live
    traffic advances the watermark continuously. State is bounded at
    ~49 h of both streams, same as the inner variant
    (stream_stream_interval_join)."""

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_ssloj_")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 1)
        .select("event_id", "ts", "user_id", "event_type")
    )
    stage_event_sides(spark, e, root, sentinel=True)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/p_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/v_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = (
        p.join(
            v,
            F.expr(
                """user_id = v_user_id
                   AND v_ts >= p_ts - INTERVAL 24 HOUR AND v_ts <= p_ts"""
            ),
            "left_outer",
        )
        .select("purchase_id", "view_id", "user_id")
    )
    run_to_parquet(
        joined,
        f"{root}/out",
        f"{root}/ckpt",
        state_partitions=sized_state_partitions(
            f"{root}/p_src", f"{root}/v_src"
        ),
    )
    return (
        spark.read.schema("purchase_id long, view_id long, user_id long")
        .parquet(f"{root}/out")
        .where(F.col("purchase_id") >= 0)  # drop sentinels post-stream
    )


@query(
    "stream_full_outer_interval_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, ts FROM events
               WHERE user_id % 4 = 2)
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           COALESCE(p.user_id, v.user_id) AS user_id
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM e WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts <= p.ts
    """,
)
def stream_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join: matched
    purchase/view pairs plus null-extended rows on BOTH sides —
    purchases with no preceding-day view AND views that preceded no
    purchase. State eviction is two-sided: a purchase evicts (and
    null-emits) once the view watermark passes its timestamp, a view
    once the purchase watermark passes its timestamp + 24 h.

    Flush discipline is identical to the left-outer variant
    (stream_stream_left_outer_join): far-future sentinels ride INSIDE
    the source data and are filtered only in the batch read of the
    sink — any sentinel-excluding predicate inside the streaming query
    would push below the watermark operator and starve the flush."""

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_ssfoj_")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 2)
        .select("event_id", "ts", "user_id", "event_type")
    )
    stage_event_sides(spark, e, root, sentinel=True)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/p_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/v_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = p.join(
        v,
        F.expr(
            """p_user_id = v_user_id
               AND v_ts >= p_ts - INTERVAL 24 HOUR AND v_ts <= p_ts"""
        ),
        "full_outer",
    ).select(
        "purchase_id",
        "view_id",
        F.coalesce("p_user_id", "v_user_id").alias("user_id"),
    )
    run_to_parquet(
        joined,
        f"{root}/out",
        f"{root}/ckpt",
        state_partitions=sized_state_partitions(
            f"{root}/p_src", f"{root}/v_src"
        ),
    )
    return (
        spark.read.schema("purchase_id long, view_id long, user_id long")
        .parquet(f"{root}/out")
        .where(
            (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
            & (F.coalesce(F.col("view_id"), F.lit(0)) >= 0)
        )  # drop sentinel rows post-stream (see docstring)
    )


def buffered_earliest_k(stream: DataFrame, k: int = 3) -> DataFrame:
    """Stateful earliest-k buffer via ``applyInPandasWithState``: per
    (user, 6-hour bucket), keep only the k EARLIEST events by
    (epoch-µs, event_id) — the deterministic stream sampler whose
    final answer is arrival-order-INDEPENDENT (late or reordered
    batches merge into the sorted buffer and fall out again if they
    are not among the k earliest), unlike first-k-seen throttles.

    State per key is the k-row buffer (bounded regardless of stream
    length); every update re-emits the current buffer with a
    per-key ``update_seq`` so a sink reader can select each key's
    LATEST snapshot — which, once the source is drained, equals the
    batch twin ``stream_buffered_earliest_k`` exactly (asserted in
    tests/test_streamstate_ext.py).  NoTimeout for the same
    processAllAvailable-harness reason as running_user_totals.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            seq, pairs = state.get
            buf = list(zip(*[iter(pairs)] * 2)) if pairs else []
        else:
            seq, buf = 0, []
        for pdf in pdfs:
            us = (pdf["ts"].astype("int64") // 1000).tolist()
            buf.extend(zip(us, pdf["event_id"].tolist()))
        buf = sorted(buf)[:k]
        seq += 1
        state.update((seq, [x for pair in buf for x in pair]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(buf),
                "bucket": [key[1]] * len(buf),
                "ts_us": [p[0] for p in buf],
                "event_id": [p[1] for p in buf],
                "update_seq": [seq] * len(buf),
            }
        )

    keyed = stream.select(
        "user_id",
        F.expr("unix_micros(ts) div 21600000000").alias("bucket"),
        "ts",
        "event_id",
    )
    return keyed.groupBy("user_id", "bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, bucket long, ts_us long, event_id long, "
            "update_seq long"
        ),
        stateStructType="seq long, pairs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_timeout_summaries(
    stream: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """Per-user session summaries emitted by STATE TIMEOUT — the one
    stateful surface nothing else in the repo exercises:
    ``GroupStateTimeout.EventTimeTimeout`` + ``state.hasTimedOut`` +
    ``setTimeoutTimestamp``.  A session closes two ways: (a) a later
    event from the same user arrives beyond the gap (emitted inline by
    the update function), or (b) no event ever arrives and the
    WATERMARK passes session-end + gap — then Spark invokes the
    function with ``hasTimedOut`` and the summary flushes WITHOUT any
    new input for that key.  (b) is what ``session_window``
    aggregations give for free but custom session state (per-session
    payloads, side effects) cannot get any other way.

    Within a batch, sorted timestamps split into gap-separated runs;
    completed runs emit immediately, the trailing run merges into (or
    replaces, emitting) the carried state.  Converges to the batch
    gap-sessionization twin (``stream_session_timeout_summary``) when
    files arrive in event-time order — asserted against a real
    multi-micro-batch stream in tests/test_streamstate_ext.py.  State
    per key is one (start, end, n) triple: bounded however long the
    stream.

    Flush contract (standard watermark semantics, same as
    ``session_window`` aggregations in append mode): a session only
    emits once the WATERMARK passes its end + gap.  On a bounded
    source that simply drains, the watermark stops at the max event
    time, so each user's LAST open session stays in state — emitting
    it would be premature (a restart with more data could extend it).
    Consumers that want a hard flush append a watermark-advancing
    sentinel (what the test does) or read the final state directly.
    ``watermark`` sets the lateness tolerance; events older than the
    current watermark are dropped by Spark before reaching the state
    function, so out-of-order sources need a non-zero delay."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        out: list[tuple[int, int, int, int]] = []
        if state.hasTimedOut:
            s, e, n = state.get
            out.append((key[0], s, e, n))
            state.remove()
        else:
            ts: list[int] = []
            for pdf in pdfs:
                col = pdf["ts"].dropna()  # a NULL event time is no event
                ts.extend((col.astype("int64") // 1000).tolist())
            ts.sort()
            runs: list[list[int]] = []
            for t in ts:
                if runs and t - runs[-1][1] <= gap_us:
                    runs[-1][1] = t
                    runs[-1][2] += 1
                else:
                    runs.append([t, t, 1])
            if runs:
                if state.exists:
                    s, e, n = state.get
                    # merge only when the batch's first run genuinely
                    # touches the stored session (within gap of either
                    # end) — an event far BEFORE the stored start must
                    # not swallow it (reachable once `watermark` allows
                    # lateness; fail-safe as two sessions, like the
                    # batch twin)
                    if (
                        runs[0][0] - e <= gap_us
                        and runs[0][1] >= s - gap_us
                    ):
                        runs[0] = [
                            min(s, runs[0][0]),
                            max(e, runs[0][1]),
                            n + runs[0][2],
                        ]
                    else:
                        out.append((key[0], s, e, n))
                for s0, e0, n0 in runs[:-1]:
                    out.append((key[0], s0, e0, n0))
                s, e, n = runs[-1]
                state.update((s, e, n))
                # fire once the watermark clears session-end + gap; the
                # timestamp must stay ahead of the current watermark
                # (late-arriving keys would otherwise throw)
                state.setTimeoutTimestamp(
                    max((e + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
                )
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in out], dtype="int64"),
                "start_us": pd.Series([r[1] for r in out], dtype="int64"),
                "end_us": pd.Series([r[2] for r in out], dtype="int64"),
                "n_events": pd.Series([r[3] for r in out], dtype="int64"),
            }
        )

    keyed = stream.select("user_id", "ts").where(F.col("ts").isNotNull())
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, start_us long, end_us long, n_events long"
            ),
            stateStructType="s long, e long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "stream_session_timeout_summary",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us
      FROM events WHERE user_id % 20 = 0
    ),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER w > CAST(1800000000 AS BIGINT)
                  OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) AS BIGINT) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_timeout_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of :func:`session_timeout_summaries`: classic
    lag-gap-flag → running-sum session ids → per-session summary
    (30-minute gap, users % 20).  One user-partitioned shuffle; the
    session id derivation and both summaries ride the same exchange.
    The streaming form — including its watermark-TIMEOUT flush path —
    must converge to exactly these rows once the watermark passes every
    session (tests/test_streamstate_ext.py drives that with a sentinel).
    The lag-gap-cumsum derivation is intentionally self-contained per
    registered query (each carries its own oracle); the session-gap
    siblings are streaming/windowed.py and session_ext.py."""
    from guidewire_spark.plans.catalog import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 20 == 0)
        .select("user_id", F.unix_micros("ts").alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gap_us = 1_800_000_000
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.col("us") - F.lag("us").over(w) > gap_us, 1
        ).when(F.lag("us").over(w).isNull(), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("us").cast("long").alias("start_us"),
        F.max("us").cast("long").alias("end_us"),
        F.count("*").alias("n_events"),
    ).drop("sid")


@query(
    "stream_cdf_rowid_replay",
    oracle="""
    WITH b AS (
      SELECT s_suppkey, s_name,
             row_number() OVER (ORDER BY s_suppkey) - 1 AS row_id
      FROM supplier
    )
    SELECT row_id, s_suppkey,
           CASE WHEN s_suppkey % 4 = 1 THEN upper(s_name)
                ELSE s_name END AS s_name
    FROM b WHERE s_suppkey % 4 <> 0
    """,
)
def stream_cdf_rowid_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-safe incremental consumption, end to end: a row-tracked
    Delta table's change feed (WITH stable row ids) is exported TWICE
    — a full at-least-once replay — streamed file-per-microbatch, and
    applied to a downstream state table KEYED ON _row_id.  Because
    the id is stable across MOR UPDATE (the delete/insert pair shares
    one id), the apply is a pure keyed upsert/delete and the duplicate
    delivery changes nothing: the final state equals the direct table
    read.  This is the contract the reference's subscribe workflow
    needs from consumers (README.md:39-43), made testable.

    The per-batch apply is fully distributed: last change per row_id
    via a keyed window ('insert' sorts after 'delete', so an update's
    pair nets to its insert), then state := (state ANTI-JOIN deletes)
    ∪ upserts — no driver-side row loops, state rewritten per batch
    (at 100 TB you swap the rewrite for a MERGE on the same keys; the
    dedup logic is unchanged)."""
    import os
    import shutil

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import (
        read_delta,
        read_delta_changes,
    )
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_row_tracking,
        update_table_mor,
        write_delta,
    )

    root = scratch_dir("gw_cdfreplay_")
    table = root + "/src_table"
    src = root + "/changes"
    state = root + "/state"

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(
        s.repartition(1).sortWithinPartitions("s_suppkey"),
        table,
        mode="append",
    )
    enable_row_tracking(table)                                     # v1
    delete_from_mor(spark, table, "s_suppkey % 4 = 0")             # v2
    update_table_mor(                                              # v3
        spark, table, "s_suppkey % 4 = 1", {"s_name": "upper(s_name)"}
    )
    changes = read_delta_changes(
        spark, table, from_version=1, with_row_ids=True
    ).select("_row_id", "s_suppkey", "s_name", "_change_type",
             "_commit_version")
    # export the SAME window twice — an at-least-once replay.  The
    # duplicate delivery is a byte-exact COPY of the first export
    # (round-11, guide §1.2: one CDF read instead of two; a redelivery
    # IS the same bytes arriving again, and maxFilesPerTrigger=1 still
    # delivers it as its own micro-batch)
    changes.coalesce(1).write.mode("append").parquet(src)
    [first] = [f for f in os.listdir(src) if f.endswith(".parquet")]
    shutil.copyfile(
        os.path.join(src, first), os.path.join(src, "replay-" + first)
    )

    # seed the state with the pre-change snapshot (version 1, with ids)
    seed = read_delta(spark, table, version=1, with_row_ids=True).select(
        F.col("_row_id"), "s_suppkey", "s_name"
    )
    write_delta(seed, state, mode="append")

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        w = Window.partitionBy("_row_id").orderBy(
            F.col("_commit_version").desc(), F.col("_change_type").desc()
        )
        last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
        cur = read_delta(sess, state)
        survived = cur.join(
            last.select("_row_id"), "_row_id", "left_anti"
        )
        upserts = last.where(F.col("_change_type") == "insert").select(
            "_row_id", "s_suppkey", "s_name"
        )
        write_delta(survived.unionByName(upserts), state, mode="overwrite")

    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root + "/ckpt")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    return read_delta(spark, state).select(
        F.col("_row_id").alias("row_id"), "s_suppkey", "s_name"
    )


@query(
    "stream_substring_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words
      FROM documents
    ),
    occ AS (
      SELECT doc_id, doc_id % 3 AS batch, i - 1 AS start,
             array_to_string(words[i : i + 4], ' ') AS shingle
      FROM toks, UNNEST(range(1, len(words) - 3)) AS t(i)
      WHERE len(words) >= 5
    ),
    ranked AS (
      SELECT doc_id, batch, start,
             ROW_NUMBER() OVER (PARTITION BY shingle
                                ORDER BY batch, doc_id, start) AS rn
      FROM occ
    ),
    hits AS (SELECT doc_id, batch, start FROM ranked WHERE rn > 1),
    isl AS (
      SELECT doc_id, batch, start,
             SUM(CASE WHEN prev_max_end IS NULL OR start > prev_max_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT doc_id, batch, start,
               MAX(start + 5) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max_end
        FROM hits)
    ),
    spans AS (
      SELECT doc_id, ANY_VALUE(batch) AS batch, island,
             MIN(start) AS s, MAX(start) + 5 AS e
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id, CAST(batch AS BIGINT) AS batch,
           COUNT(*) AS n_spans, CAST(SUM(e - s) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id, batch
    """,
)
def stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of dedup_incremental_substring: document
    batches arrive file-per-microbatch (mtime-pinned arrival order),
    a ``foreachBatch`` sink runs the identical shingle-store body —
    occurrences, within-batch keeper, store check, span merge, store
    extension — and the drained decision log must equal the batch
    twin's oracle exactly.  This PROVES the incremental operator's
    claim that its loop body is a valid ``foreachBatch``: same code
    shape, now under Structured Streaming's checkpointed exactly-once
    delivery instead of a driver loop."""
    import os as _os

    from guidewire_spark.operators.llm import (
        SUBSTRING_K,
        merge_cut_spans,
        substring_occurrences,
    )
    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    k = SUBSTRING_K
    root = scratch_dir("gw_strsub_")
    src, store, out_dir = root + "/src", root + "/shingles", root + "/out"

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("long").alias("batch")
    )
    _os.makedirs(src)
    # one scan + one batch-keyed shuffle stages all three chunk files
    # (round-11, guide §1.2; was one full scan + coalesce(1) per
    # chunk); partitionBy("pbatch") keeps the original columns — incl.
    # the duplicated `batch` — in the data files, and the per-value
    # repartition lands each chunk in one task → one parquet part.
    # Batch processing is row-order-insensitive (keep-first is keyed
    # on (doc_id, start), not file position).
    stage = root + "/stage"
    (
        d.withColumn("pbatch", F.col("batch"))
        .repartition("pbatch")
        .write.partitionBy("pbatch")
        .parquet(stage)
    )
    for chunk in range(3):
        part = f"{stage}/pbatch={chunk}"
        [pq_file] = [
            f for f in _os.listdir(part) if f.endswith(".parquet")
        ]
        target = _os.path.join(src, f"batch-{chunk}.parquet")
        _os.rename(_os.path.join(part, pq_file), target)
        # pin arrival order: FileStreamSource orders by (mtime, path)
        _os.utime(target, (1_000_000 + chunk, 1_000_000 + chunk))

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        _, occ = substring_occurrences(batch_df, k)
        occ = occ.withColumn(
            "okey", F.col("doc_id").cast("bigint") * 100000 + F.col("start")
        )
        # Pin the tokenize+shingle pass once per batch: occ feeds the
        # keeper aggregate, the scored join probe AND (via keeper) the
        # fresh-shingle store append — three actions that would each
        # re-run the batch's whole CPU cost without the checkpoint
        # (guide §5; same pin the incremental dedup family carries).
        # occ is batch-sized (one row per k-token window), never
        # store-sized.
        occ = occ.localCheckpoint(eager=True)
        keeper = occ.groupBy("shingle").agg(F.min("okey").alias("batch_keep"))
        try:
            st = read_delta(sess, store).withColumn("in_store", F.lit(True))
        except FileNotFoundError:
            st = None
        scored = occ.join(keeper, "shingle")
        if st is not None:
            scored = scored.join(st, "shingle", "left")
        else:
            scored = scored.withColumn("in_store", F.lit(None).cast("boolean"))
        cut = F.coalesce("in_store", F.lit(False)) | (
            F.col("okey") != F.col("batch_keep")
        )
        hits = scored.where(cut).select("doc_id", "start")
        stats = (
            merge_cut_spans(hits, k)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
            )
            .join(batch_df.select("doc_id", "batch"), "doc_id")
            .select("doc_id", "batch", "n_spans", "dup_tokens")
        )
        stats.write.mode("append").parquet(out_dir)
        fresh = keeper.select("shingle")
        if st is not None:
            fresh = fresh.join(st.select("shingle"), "shingle", "left_anti")
        write_delta(fresh, store, mode="append")

    stream = (
        spark.readStream.schema("doc_id long, text string, batch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root + "/ckpt")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.schema(
        "doc_id long, batch long, n_spans long, dup_tokens long"
    ).parquet(out_dir)


@query(
    "stream_cda_pyds_subscribe",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value
    FROM events WHERE user_id % 5 = 0
    """,
)
def stream_cda_pyds_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDA commit folders consumed as a NATIVE streaming source
    (Spark 4 Python DataSourceStreamReader, streaming/cda_source.py):
    offsets are the commit timestamps, partitions are the commits'
    parquet files, and Spark's offset checkpoint gives exactly-once
    across restarts.  Three commits drain in the first run; a FOURTH
    commit staged afterwards is picked up by a second run on the SAME
    checkpoint — if the restart re-processed already-consumed folders
    the output would hold duplicates and fail the oracle's row count."""
    import os
    import shutil

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import (
        register_cda_stream_source,
    )

    register_cda_stream_source(spark)
    root = scratch_dir("gw_cdastream_")
    fp_dir = f"{root}/events_cda/fp001"
    os.makedirs(fp_dir)
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("event_id", "event_type", "value")
    )
    base_ts = 1700000000000
    # stage all four commit slices in ONE scan + one bucket-keyed
    # shuffle (guide §1.2; was one full scan + coalesce(1) per slice):
    # partitionBy keeps the bucket column out of the data files, and
    # repartition("bucket") lands each slice in one task → exactly one
    # parquet part per commit folder, as before.  The fourth slice
    # stays staged until after the first drain (the restart contract).
    stage = f"{root}/stage"
    (
        ev.withColumn("bucket", F.col("event_id") % 4)
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(stage)
    )

    def publish(i: int) -> None:
        src_dir = f"{stage}/bucket={i}"
        dst = f"{fp_dir}/{base_ts + i}"
        os.makedirs(dst)
        for f in os.listdir(src_dir):
            if f.endswith(".parquet"):
                shutil.move(f"{src_dir}/{f}", f"{dst}/{f}")

    for i in range(3):
        publish(i)

    def drain() -> None:
        q = (
            spark.readStream.format("gw_cda_stream")
            .option("path", fp_dir)
            .load()
            .select(
                "event_id",
                "event_type",
                stable_round(F.col("value"), 4, "decimal(24,8)")
                .alias("value"),
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # late commit → second run, same checkpoint: only the new folder
    publish(3)
    drain()
    return spark.read.schema(
        "event_id long, event_type string, value double"
    ).parquet(f"{root}/out")


@query(
    "stream_cda_sink_roundtrip",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value
    FROM events WHERE user_id % 7 = 0
    """,
)
def stream_cda_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine PRODUCES the CDA layout as a streaming sink
    (Python DataSourceStreamArrowWriter, streaming/cda_source.py):
    each micro-batch publishes one commit folder via executor-staged
    parquet + driver commit (two-phase, retry republishes instead of
    duplicating), and the result reads back through the gw_cda batch
    source — stream in, reference-contract folders out, round-trip
    exact."""

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import (
        register_cda_batch_source,
        register_cda_stream_sink,
    )

    register_cda_stream_sink(spark)
    register_cda_batch_source(spark)
    root = scratch_dir("gw_cdasink_")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 7 == 0)
        .select(
            "event_id",
            "event_type",
            stable_round(F.col("value"), 4, "decimal(24,8)")
            .alias("value"),
        )
    )
    ev.repartition(3).write.parquet(f"{root}/src")
    fp = f"{root}/events_out/fp001"
    q = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
        .writeStream.format("gw_cda_sink")
        .option("path", fp)
        .option("base_ts", "1800000000000")
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.format("gw_cda")
        .option("path", fp)
        .load()
        .select("event_id", "event_type", "value")
    )


@query(
    "stream_cdc_apply_deletes",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS k, n_name || '_v2' AS v
    FROM nation WHERE n_nationkey % 5 <> 0
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT) AS k, n_name AS v
    FROM nation
    """,
)
def stream_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply WITH DELETES: a change feed carrying upserts AND
    tombstones (op = 'U' / 'D') streams through foreachBatch into the
    full-clause MERGE — matched 'D' rows delete, matched 'U' rows
    update, unmatched 'U' rows insert (the source's op column never
    reaches the target schema).  The feed is key-partitioned so each
    key arrives in exactly one micro-batch and the apply sequence
    commutes; the final table equals the relational reconstruction
    regardless of batch order.  This is the consumer loop the
    reference's CDA feed exists to drive (README.md:39-43), deletes
    included."""

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import merge_clauses, write_delta

    root = scratch_dir("gw_cdcdel_")
    table = root + "/state"
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n, table, mode="append")

    feed = (
        n.where(F.col("k") % 5 == 0)
        .select("k", "v", F.lit("D").alias("op"))
        .unionByName(
            n.where(F.col("k") % 5 != 0).select(
                "k", F.concat(F.col("v"), F.lit("_v2")).alias("v"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            n.select((F.col("k") + 100).alias("k"), "v", F.lit("U").alias("op"))
        )
    )
    feed.repartition(3, "k").write.mode("overwrite").parquet(root + "/feed")

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        merge_clauses(
            batch_df.sparkSession,
            table,
            batch_df,
            "k",
            [
                {"when": "matched", "condition": "s.op = 'D'", "delete": True},
                {
                    "when": "matched",
                    "condition": "s.op = 'U'",
                    "update": {"v": "s.v"},
                },
                {
                    "when": "not_matched",
                    "condition": "s.op = 'U'",
                    "insert": {"k": "s.k", "v": "s.v"},
                },
            ],
        )

    q = (
        spark.readStream.schema("k long, v string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/feed")
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_delta(spark, table)


@query(
    "stream_stream_left_semi_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, ts FROM events
               WHERE user_id % 4 = 2)
    SELECT p.event_id AS purchase_id, p.user_id
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    WHERE EXISTS (
      SELECT 1 FROM (SELECT * FROM e WHERE event_type = 'view') v
      WHERE v.user_id = p.user_id
        AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts <= p.ts
    )
    """,
)
def stream_stream_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI interval join: a purchase
    emits ONCE if any same-user view preceded it within a day —
    existence, not pairing, so the output never multiplies by match
    count (the dedup-on-emit is the state-store's job).  Same bounded
    ~49 h state and sentinel-flush design as the outer variant
    (stream_stream_left_outer_join's docstring carries the full
    watermark-pushdown caveat)."""

    from guidewire_spark.plans.catalog import load_table

    root = scratch_dir("gw_sssemi_")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 2)
        .select("event_id", "ts", "user_id", "event_type")
    )
    stage_event_sides(spark, e, root, sentinel=True)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/p_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        spark.readStream.schema(schema)
        .parquet(f"{root}/v_src")
        .withWatermark("ts", "25 hours")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = p.join(
        v,
        F.expr(
            """user_id = v_user_id
               AND v_ts >= p_ts - INTERVAL 24 HOUR AND v_ts <= p_ts"""
        ),
        "left_semi",
    ).select("purchase_id", "user_id")
    run_to_parquet(
        joined,
        f"{root}/out",
        f"{root}/ckpt",
        state_partitions=sized_state_partitions(
            f"{root}/p_src", f"{root}/v_src"
        ),
    )
    return (
        spark.read.schema("purchase_id long, user_id long")
        .parquet(f"{root}/out")
        .where(F.col("purchase_id") >= 0)
    )


@query(
    "stream_psi_monitor",
    oracle="""
    WITH ev AS (
      SELECT (epoch_us(ts) // CAST(86400000000 AS BIGINT)) // 10 AS chunk,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
      FROM events
    ),
    mn AS (SELECT MIN(chunk) AS m FROM ev),
    edges AS (
      SELECT UNNEST(quantile_cont(y,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS edge
      FROM ev, mn WHERE chunk = m
    ),
    binned AS (
      SELECT chunk,
             (SELECT COUNT(*) FROM edges e WHERE b.y > e.edge) AS bin
      FROM ev b
    ),
    base AS (
      SELECT bin, COUNT(*) AS nb FROM binned, mn
      WHERE chunk = m GROUP BY bin
    ),
    base_total AS (SELECT SUM(nb) AS tb FROM base),
    grid AS (
      SELECT c.chunk, r.range AS bin
      FROM (SELECT DISTINCT chunk FROM ev, mn WHERE chunk > m) c,
           range(10) r
    ),
    cur AS (
      SELECT chunk, bin, COUNT(*) AS nc FROM binned, mn
      WHERE chunk > m GROUP BY chunk, bin
    ),
    filled AS (
      SELECT g.chunk, g.bin,
             COALESCE(c.nc, 0) AS n_cur,
             COALESCE(b.nb, 0) AS n_base
      FROM grid g
      LEFT JOIN cur c ON c.chunk = g.chunk AND c.bin = g.bin
      LEFT JOIN base b ON b.bin = g.bin
    ),
    cur_totals AS (
      SELECT chunk, SUM(n_cur) AS tc FROM filled GROUP BY chunk
    ),
    terms AS (
      SELECT f.chunk, f.bin, f.n_cur, f.n_base,
             (f.n_cur + 0.5) / (t.tc + 5.0) AS pc,
             (f.n_base + 0.5) / (bt.tb + 5.0) AS pb,
             CAST(ROUND(CAST(LN(((f.n_cur + 0.5) * (bt.tb + 5.0))
                               / ((f.n_base + 0.5) * (t.tc + 5.0)))
                  AS DECIMAL(24,10)), 6) AS DOUBLE) AS ln_ratio
      FROM filled f
      JOIN cur_totals t ON t.chunk = f.chunk
      CROSS JOIN base_total bt
    )
    SELECT chunk, CAST(bin AS BIGINT) AS bin, n_cur,
           CAST(ROUND(CAST((pc - pb) * ln_ratio AS DECIMAL(24,10)), 6)
                AS DOUBLE) AS psi_term
    FROM terms
    """,
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitoring as a STREAMING job: the first micro-batch
    (the earliest 10-day chunk of the event stream, mtime-pinned)
    freezes baseline decile edges + bin counts into a state store;
    every later micro-batch bins itself against those FROZEN edges and
    appends its per-bin PSI contribution — the production shape of
    dq_psi_drift, where the baseline is yesterday's saved state, not
    a same-query subaggregate.

    Each batch's work is one percentile aggregate (baseline) or one
    literal-edges bin fold + 10-key count (monitors); state is 9
    edges + 10 baseline counts — O(1) regardless of stream volume.
    Batch→chunk identity comes from the DATA (min chunk key in the
    batch), not the batch counter, so replays land on the same output
    keys.  The oracle recomputes the whole monitored series
    relationally; exactness inherits dq_psi_drift's micro-unit /
    quantized-log-ratio doctrine.

    Round-11 shape (guide §1.2 remove work, §2.4 share the scan): the
    feed is staged in ONE partitioned write (one events scan + one
    chunk-keyed shuffle) instead of a full scan + repartition(1) per
    chunk, and each micro-batch runs exactly one aggregate job over
    its file — the 10-bin histogram (+ per-bin min chunk) is COLLECTED
    and the PSI expressions run over a 10-row LocalTableScan with the
    SAME literal doubles the broadcast-join shape carried (collect
    round-trips binary64 exactly; the fold compares identical values),
    so every row is bit-identical while the 32-task join micro-stages
    and the three extra batch scans disappear."""
    import os
    import shutil

    from guidewire_spark.plans.catalog import load_table, local_df

    root = scratch_dir("gw_psimon_")
    feed = root + "/feed"
    state = root + "/state"
    results = root + "/results"
    os.makedirs(feed)

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("(unix_micros(ts) div 86400000000) div 10").alias("chunk"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("y"),
    )
    # one scan + one chunk-keyed shuffle stages every chunk file; each
    # chunk's rows land in one task, so each pchunk=… dir holds exactly
    # one parquet part carrying (chunk, y) — the same per-chunk single
    # files the old per-chunk repartition(1) loop produced, minus the
    # N_chunks extra full scans.  Batch math is order-insensitive
    # (percentile + counts), so within-file row order is free.
    tmp = f"{root}/stage"
    (
        ev.withColumn("pchunk", F.col("chunk"))
        .repartition("pchunk")
        .write.partitionBy("pchunk")
        .parquet(tmp)
    )
    chunks = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(tmp)
        if d.startswith("pchunk=")
    )
    for i, c in enumerate(chunks):
        part = next(
            f for f in os.listdir(f"{tmp}/pchunk={c}")
            if f.endswith(".parquet")
        )
        dst = f"{feed}/chunk_{c}.parquet"
        shutil.move(f"{tmp}/pchunk={c}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(tmp)

    def bin_col(edges: list) -> F.Column:
        # identical fold the broadcast-edges shape ran, with the col-
        # lected doubles re-lit verbatim (binary64-exact round trip)
        return F.aggregate(
            F.array(*[F.lit(float(e)) for e in edges]),
            F.lit(0).cast("long"),
            lambda acc, e: acc
            + F.when(F.col("y") > e, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        )

    def apply_batch(batch_df, batch_id):
        sess = batch_df.sparkSession
        if not os.path.exists(state):
            es = batch_df.agg(
                F.percentile(
                    "y", F.array(*[F.lit(p / 10.0) for p in range(1, 10)])
                ).alias("es")
            ).collect()[0]["es"]
            if es is None:  # empty first batch: no baseline yet
                return
            hist = (
                batch_df.select(bin_col(es).alias("bin"))
                .groupBy("bin")
                .agg(F.count("*").alias("nb"))
                .collect()
            )
            nb = {r["bin"]: r["nb"] for r in hist}
            local_df(
                sess,
                [(b, nb.get(b, 0), [float(e) for e in es]) for b in range(10)],
                "bin long, nb long, es array<double>",
            ).write.parquet(state)
            return
        st_rows = sess.read.parquet(state).collect()
        if not st_rows:
            return
        edges = list(st_rows[0]["es"])
        tb = sum(r["nb"] for r in st_rows)
        nb = {r["bin"]: r["nb"] for r in st_rows}
        hist = (
            batch_df.select("chunk", bin_col(edges).alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("nc"), F.min("chunk").alias("mc"))
            .collect()
        )
        if not hist:  # empty monitor batch: nothing to score
            return
        chunk_id = min(r["mc"] for r in hist)
        nc = {r["bin"]: r["nc"] for r in hist}
        tc = sum(nc.values())
        filled = local_df(
            sess,
            [(b, nc.get(b, 0), nb.get(b, 0)) for b in range(10)],
            "bin long, nc long, nb long",
        )
        ln_ratio = F.log(
            ((F.col("nc") + 0.5) * F.lit(float(tb) + 5.0))
            / ((F.col("nb") + 0.5) * F.lit(float(tc) + 5.0))
        )
        pc = (F.col("nc") + 0.5) / F.lit(float(tc) + 5.0)
        pb = (F.col("nb") + 0.5) / F.lit(float(tb) + 5.0)
        out = (
            filled.select(
                F.lit(chunk_id).cast("long").alias("chunk"),
                "bin",
                F.col("nc").alias("n_cur"),
                stable_round(ln_ratio, 6)
                .alias("lr"),
                pc.alias("pc"),
                pb.alias("pb"),
            )
            .select(
                "chunk",
                "bin",
                "n_cur",
                stable_round((F.col("pc") - F.col("pb")) * F.col("lr"), 6)
                .alias("psi_term"),
            )
        )
        # idempotent per-chunk sink: a retried batch REPLACES its
        # chunk directory instead of appending duplicate rows
        out.write.mode("overwrite").parquet(f"{results}/chunk_{chunk_id}")

    q = (
        spark.readStream.schema("chunk long, y long")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(
        "chunk long, bin long, n_cur long, psi_term double"
    ).parquet(results + "/chunk_*")


@query(
    "stream_auto_compact_ingest",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST(value AS DECIMAL(24,8)), 4) AS DOUBLE) AS value
    FROM events WHERE user_id % 9 = 0
    """,
)
def stream_auto_compact_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest WITH its maintenance story: a stream lands in
    a Delta table through foreachBatch appends — one small file per
    micro-batch, the classic streaming small-files pathology — while
    ``delta.autoOptimize.autoCompact`` bin-packs the tail inline, so
    the table stays readable with NO separate maintenance job.  The
    invariant asserted is auto-compact's contract: after the stream
    drains, fewer than minNumFiles small live files remain, while
    every streamed row survives byte-exact (the oracle re-derives the
    full result relationally).  At 100 TB this is the shape that keeps
    a 24/7 ingest pipeline from degrading into millions of slivers:
    each micro-batch pays an append plus, occasionally, a bin-pack of
    the recent tail — never a full-table rewrite."""

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import (
        set_table_properties,
        write_delta,
    )

    root = scratch_dir("gw_acing_")
    table = f"{root}/events_delta"
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 9 == 0)
        .select(
            "event_id",
            "event_type",
            stable_round(F.col("value"), 4, "decimal(24,8)")
            .alias("value"),
        )
    )
    # seed so table properties exist before the stream's first batch
    write_delta(ev.limit(0), table, mode="append")
    set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "4",
        },
    )
    ev.repartition(6).write.parquet(f"{root}/src")  # 6 micro-batches

    def apply_batch(batch_df, batch_id):
        write_delta(batch_df, table, mode="append")

    q = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = load_snapshot(table)
    small = [
        p for p in snap.files if snap.adds[p].get("size", 0) < 16 * 1024 * 1024
    ]
    if len(small) >= 4:
        raise AssertionError(
            f"auto compaction left {len(small)} small files after ingest"
        )
    return read_delta(spark, table)
