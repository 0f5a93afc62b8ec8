"""Structured Streaming tests: the streaming plans must produce the
same results as their batch-verified twins once all input is drained,
plus watermark/dedup state semantics and the stream→parquet→Delta
round trip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.streaming import jobs


@pytest.fixture(scope="module")
def staged_events(tmp_path_factory, request):
    """Stage the events table as several parquet files in a directory
    (simulating file-by-file arrival) plus the batch frame to compare
    against."""
    spark = request.getfixturevalue("spark")
    src = str(tmp_path_factory.mktemp("events_src"))
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    e.repartition(8).write.mode("overwrite").parquet(src)
    return spark, src, e


def test_tumbling_stream_equals_batch(staged_events, tmp_path):
    spark, src, batch = staged_events
    stream = jobs.events_stream(spark, src)
    assert stream.isStreaming
    result = jobs.tumbling_counts(stream)
    jobs.run_to_memory(result, "tumbling_t", str(tmp_path / "ckpt"))
    got = {
        tuple(r) for r in spark.table("tumbling_t").collect()
    }
    expected = {
        tuple(r)
        for r in (
            batch.groupBy(F.window("ts", "10 minutes"), "event_type")
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
            .collect()
        )
    }
    # With watermarking, only windows the watermark has passed are
    # emitted in append mode; drained-and-stopped → all but the tail.
    assert got <= expected
    assert len(got) >= len(expected) - 40  # tail windows withheld at stop


def test_streaming_dedup_drops_dupes(staged_events, tmp_path):
    spark, src, batch = staged_events
    # Duplicate every file's rows by staging the directory twice over.
    dup_src = str(tmp_path / "dup_src")
    batch.repartition(4).write.mode("overwrite").parquet(dup_src)
    batch.repartition(4).write.mode("append").parquet(dup_src)
    stream = jobs.events_stream(spark, dup_src)
    deduped = jobs.dedup_within_watermark(stream)
    jobs.run_to_memory(deduped, "dedup_t", str(tmp_path / "ckpt2"))
    n = spark.table("dedup_t").count()
    assert n == batch.count()  # every duplicate dropped


def test_stream_to_parquet_to_delta(staged_events, tmp_path):
    """Close the loop: stream → parquet sink → CDA index → Delta scan."""
    import json

    from guidewire_spark.sources.indexer import index
    from guidewire_spark.sources.snapshot import read_delta

    spark, src, batch = staged_events
    out = str(tmp_path / "stream_out" / "fp001" / "1700000000000")
    stream = jobs.events_stream(spark, src)
    filtered = stream.where(F.col("event_type") == "purchase")
    jobs.run_to_parquet(filtered, out, str(tmp_path / "ckpt3"))

    manifest = {
        "events_streamed": {
            "lastSuccessfulWriteTimestamp": "1700000000000",
            "totalProcessedRecordsCount": 0,
            "dataFilesPath": str(tmp_path / "stream_out"),
            "schemaHistory": {"fp001": "1700000000000"},
        }
    }
    mpath = str(tmp_path / "manifest.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    db = str(tmp_path / "db")
    index(mpath, db, save_mode="overwrite")
    got = read_delta(spark, os.path.join(db, "events_streamed"))
    expected = batch.where(F.col("event_type") == "purchase")
    assert got.count() == expected.count()
    assert {r.event_id for r in got.select("event_id").collect()} == {
        r.event_id for r in expected.select("event_id").collect()
    }


def test_stateful_running_totals(staged_events, tmp_path):
    """applyInPandasWithState: after draining the stream, the latest
    emission per user must equal the batch per-user aggregate."""
    spark, src, batch = staged_events
    stream = jobs.events_stream(spark, src)
    result = jobs.running_user_totals(stream)
    jobs.run_to_memory(
        result, "running_totals_t", str(tmp_path / "ckpt5"), mode="update"
    )
    # n_events is monotone per user; struct-max picks the latest
    # emission (value sums may be negative, so max(total_value) won't).
    final = (
        spark.table("running_totals_t")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("last"))
        .select("user_id", "last.n_events", "last.total_value")
    )
    expected = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_session_stream_runs(staged_events, tmp_path):
    spark, src, _ = staged_events
    stream = jobs.events_stream(spark, src)
    result = jobs.sessionized(stream)
    jobs.run_to_memory(result, "sessions_t", str(tmp_path / "ckpt4"))
    # Append-mode session output only includes watermark-closed
    # sessions; the harness just asserts the pipeline runs and emits
    # a sane subset.
    rows = spark.table("sessions_t").collect()
    assert all(r.n_events >= 1 for r in rows)


def test_transform_with_state_distinct_types(staged_events, tmp_path):
    """transformWithState (Spark 4 API): after draining, the latest
    per-user emission equals the batch distinct-type/event counts.
    Skipped where google.protobuf is unavailable (the state-server
    protocol requires it on Python workers)."""
    pytest.importorskip("google.protobuf")
    spark, src, batch = staged_events
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, src)
        result = jobs.distinct_types_transform_with_state(stream)
        jobs.run_to_memory(
            result, "tws_t", str(tmp_path / "ckpt6"), mode="update"
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final = (
        spark.table("tws_t")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "n_event_types")).alias("last"))
        .select("user_id", "last.n_event_types", "last.n_events")
    )
    expected = batch.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_event_types"),
        F.count("*").alias("n_events"),
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_merge_stream_cdc_apply(staged_events, tmp_path):
    """foreachBatch CDC-apply: a stream of per-user updates merged into
    a Delta base table; the final table equals base upserted with the
    latest update per key."""
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    spark, src, batch = staged_events
    table = str(tmp_path / "cdc_base")
    base = batch.groupBy("user_id").agg(
        F.count("*").alias("n"), F.lit("base").alias("origin")
    )
    write_delta(base, table, mode="append")

    # Updates: half the users get a new row (plus some brand-new keys).
    updates = base.where(F.col("user_id") % 2 == 0).select(
        "user_id", (F.col("n") * 10).alias("n"), F.lit("upd").alias("origin")
    ).unionByName(
        base.select(
            (F.col("user_id") + 100000).alias("user_id"),
            F.lit(1).alias("n"),
            F.lit("new").alias("origin"),
        ).limit(3)
    )
    upd_src = str(tmp_path / "upd_src")
    updates.repartition(2).write.parquet(upd_src)
    stream = (
        spark.readStream.schema("user_id long, n long, origin string")
        .option("maxFilesPerTrigger", 1)
        .parquet(upd_src)
    )
    jobs.run_merge_stream(stream, table, on="user_id", checkpoint_dir=str(tmp_path / "ckpt7"))

    got = read_delta(spark, table)
    n_base = base.count()
    assert got.count() == n_base + 3
    # every even user got the update, odd users kept base rows
    assert got.where((F.col("user_id") % 2 == 0) & (F.col("user_id") < 100000)
                     & (F.col("origin") != "upd")).count() == 0
    assert got.where((F.col("user_id") % 2 == 1) & (F.col("user_id") < 100000)
                     & (F.col("origin") != "base")).count() == 0
    assert got.where(F.col("origin") == "new").count() == 3


def test_matview_stream_refresh(staged_events, tmp_path):
    """Streaming matview maintenance: events arrive file-by-file, each
    micro-batch appends to the base and refreshes the aggregate view
    from the change feed; the drained view equals a full aggregate."""
    from guidewire_spark.sources.matview import (
        create_materialized_aggregate,
        read_materialized_aggregate,
    )
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import write_delta

    spark, src, batch = staged_events
    base = str(tmp_path / "mv_base")
    view = str(tmp_path / "mv_view")
    rows = batch.select("user_id", "value")
    seed = rows.limit(50)
    write_delta(seed, base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["user_id"], sum_cols=["value"]
    )

    # the rest of the rows stream in, 1 file per micro-batch
    rest_src = str(tmp_path / "mv_src")
    rows.subtract(seed).repartition(3).write.parquet(rest_src)
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(rest_src)
    )
    jobs.run_matview_stream(stream, base, view, str(tmp_path / "ckpt"))

    expected = {
        (r.user_id, r.view_count, round(r.sum_value, 4))
        for r in read_delta(spark, base)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("view_count"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    got = {
        (r.user_id, r.view_count, round(r.sum_value, 4))
        for r in read_materialized_aggregate(spark, view).collect()
    }
    assert got == expected


def test_streaming_query_listener_observes_progress(spark, sf_dir):
    """StreamingQueryListener coverage: a registered listener must
    receive started/progress/terminated callbacks with real row
    counts — the hook production monitoring attaches to every
    streaming job."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from guidewire_spark.plans.catalog import load_table

    events = {"started": 0, "progress_rows": [], "terminated": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress_rows"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    spark.streams.addListener(listener := Capture())
    try:
        root = tempfile.mkdtemp(prefix="gw_listen_")
        src = load_table(spark, sf_dir, "events").limit(500)
        src.write.parquet(f"{root}/src")
        stream = spark.readStream.schema(src.schema).parquet(f"{root}/src")
        q = (
            stream.select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener callbacks are async; give the bus a moment
        deadline = _time.time() + 10
        while _time.time() < deadline and (
            events["terminated"] == 0 or not events["progress_rows"]
        ):
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert events["started"] == 1
    assert events["terminated"] == 1
    assert sum(events["progress_rows"]) == 500


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Stop/restart recovery: drain half the input, stop, add the
    rest, restart on the SAME checkpoint — the final aggregate equals
    the full batch answer exactly (nothing double-counted on replay,
    nothing lost at the stop): the consumer-side exactly-once story
    the checkpointLocation contract promises."""
    import shutil

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    stage = str(tmp_path / "restart_stage")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch.repartition(8).write.mode("overwrite").parquet(stage)
    files = sorted(
        f for f in __import__("os").listdir(stage) if f.endswith(".parquet")
    )
    assert len(files) == 8
    __import__("os").makedirs(src)
    for f in files[:4]:  # phase 1: half the input
        shutil.copy(f"{stage}/{f}", f"{src}/{f}")

    def counts_stream():
        return (
            jobs.events_stream(spark, src)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    jobs.run_to_memory(counts_stream(), "restart_t1", ckpt, mode="complete")
    partial = {
        r["event_type"]: r["n"] for r in spark.table("restart_t1").collect()
    }
    assert sum(partial.values()) < batch.count()  # genuinely partial

    for f in files[4:]:  # phase 2: the rest arrives while stopped
        shutil.copy(f"{stage}/{f}", f"{src}/{f}")
    jobs.run_to_memory(counts_stream(), "restart_t2", ckpt, mode="complete")
    got = {
        r["event_type"]: r["n"] for r in spark.table("restart_t2").collect()
    }
    expected = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_cda_stream_reader_offsets_and_partitions(spark, sf_dir, tmp_path):
    """Offset mechanics of the CDA streaming data source: latestOffset
    tracks the newest commit folder, partitions() selects (start, end]
    at file granularity, dot/underscore/empty files are ignored."""
    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import (
        _CdaStreamReader,
        _list_commit_ts,
    )

    fp = str(tmp_path / "fp001")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n.coalesce(1).write.parquet(f"{fp}/1000")
    n.repartition(2).write.parquet(f"{fp}/2000")
    # noise the listing rules must skip
    (tmp_path / "fp001" / "3000").mkdir()
    (tmp_path / "fp001" / "3000" / ".hidden.parquet").write_bytes(b"x")
    (tmp_path / "fp001" / "3000" / "empty.parquet").write_bytes(b"")
    (tmp_path / "fp001" / "notdigit").mkdir()

    assert _list_commit_ts(fp) == [1000, 2000, 3000]
    r = _CdaStreamReader(fp, ["n_nationkey", "n_name"])
    assert r.initialOffset() == {"ts": -1}
    assert r.latestOffset() == {"ts": 3000}
    p_all = r.partitions({"ts": -1}, {"ts": 3000})
    assert len(p_all) == 3  # 1 file + 2 files + 0 (noise skipped)
    p_tail = r.partitions({"ts": 1000}, {"ts": 3000})
    assert len(p_tail) == 2  # only the 2000 commit's files
    # read() streams arrow batches with pruned columns
    batches = list(r.read(p_all[0]))
    assert sum(b.num_rows for b in batches) == 25
    assert batches[0].schema.names == ["n_nationkey", "n_name"]


def test_cda_batch_reader_pushdown_prunes_folders(spark, sf_dir, tmp_path):
    """pushFilters on commit_ts prunes whole commit folders: bounds
    tighten across filters, unsupported filters are handed back, and
    partitions() lists only surviving folders' files."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThanOrEqual,
    )

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import _CdaBatchReader

    fp = str(tmp_path / "fp001")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for t in (1000, 2000, 3000):
        n.coalesce(1).write.parquet(f"{fp}/{t}")

    r = _CdaBatchReader(fp, ["n_nationkey", "n_name"])
    leftover = list(
        r.pushFilters(
            [
                GreaterThan(("commit_ts",), 1000),
                LessThanOrEqual(("commit_ts",), 2500),
                EqualTo(("n_nationkey",), 3),  # not ours: returned
            ]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], EqualTo)
    assert (r.lo, r.hi) == (1001, 2500)
    parts = r.partitions()
    assert [p.commit_ts for p in parts] == [2000]
    # read() appends the folder timestamp as commit_ts
    b = next(iter(r.read(parts[0])))
    assert b.schema.names == ["n_nationkey", "n_name", "commit_ts"]
    assert b.column("commit_ts")[0].as_py() == 2000

    # equality pushes an exact [v, v] window
    r2 = _CdaBatchReader(fp, ["n_nationkey", "n_name"])
    assert list(r2.pushFilters([EqualTo(("commit_ts",), 3000)])) == []
    assert [p.commit_ts for p in r2.partitions()] == [3000]

    # end-to-end through the session (pushdown conf is on engine-wide):
    # predicate result equals the unpushed logical answer
    from guidewire_spark.streaming.cda_source import register_cda_batch_source

    register_cda_batch_source(spark)
    df = (
        spark.read.format("gw_cda")
        .option("path", fp)
        .load()
        .where("commit_ts > 1000")
    )
    assert df.count() == 50  # two surviving folders x 25 rows


def test_cda_sink_commit_is_retry_idempotent(spark, sf_dir, tmp_path):
    """A retried micro-batch commit republishes the SAME folder
    (replace, not append) — the exactly-once half the sink owns; and
    a full availableNow drain produces one commit folder per
    micro-batch that the streaming source can consume back."""
    import pyarrow as pa

    from guidewire_spark.streaming.cda_source import (
        _CdaSinkMessage,
        _CdaStreamArrowWriter,
        _list_commit_ts,
        _list_parquet,
    )

    root = str(tmp_path / "fp001")
    w = _CdaStreamArrowWriter(root, 5000)

    def _stage(vals):
        b = pa.RecordBatch.from_pydict({"k": vals})
        return w.write(iter([b]))

    m1 = _stage([1, 2, 3])
    w.commit([m1, None], batchId=0)
    assert _list_commit_ts(root) == [5000]
    assert len(_list_parquet(f"{root}/5000")) == 1

    # retry of batch 0 with fresh staging must REPLACE, not duplicate
    m2 = _stage([1, 2, 3])
    w.commit([m2], batchId=0)
    files = _list_parquet(f"{root}/5000")
    assert len(files) == 1
    import pyarrow.parquet as pq

    assert pq.read_table(files[0]).num_rows == 3

    # abort removes staged leftovers
    m3 = _stage([9])
    w.abort([m3, None], batchId=1)
    import os

    assert not os.path.exists(m3.staged)
    assert isinstance(m3, _CdaSinkMessage)


def test_cda_source_review_hardening(spark, sf_dir, tmp_path):
    """Round-7 review fixes pinned: (a) a filter pruning every folder
    returns 0 rows instead of crashing on Spark's [None] placeholder
    partition; (b) schema inference skips data-less leading commit
    folders; (c) the sink publishes a complete folder via one atomic
    rename (temp name is non-digit, invisible to the commit listing)."""
    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import (
        _CdaStreamArrowWriter,
        _list_commit_ts,
        register_cda_batch_source,
    )

    fp = str(tmp_path / "fp001")
    # (b) leading folder with no readable parquet
    (tmp_path / "fp001" / "500").mkdir(parents=True)
    (tmp_path / "fp001" / "500" / "_marker").write_bytes(b"x")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n.coalesce(1).write.parquet(f"{fp}/1000")

    register_cda_batch_source(spark)
    df = spark.read.format("gw_cda").option("path", fp).load()
    assert df.count() == 25  # schema inferred despite the empty folder

    # (a) all folders pruned → empty result, no crash
    assert df.where("commit_ts > 999999").count() == 0

    # (c) no transient digit folder is ever listable mid-publish: the
    # temp assembly dir is non-digit, and a finished publish is one
    # rename — verify the published folder appears fully formed
    import pyarrow as pa

    w = _CdaStreamArrowWriter(fp, 2000)
    m = w.write(iter([pa.RecordBatch.from_pydict({"x": [1, 2]})]))
    w.commit([m], batchId=0)
    assert 2000 in _list_commit_ts(fp)
    leftovers = [d for d in (tmp_path / "fp001").iterdir() if "tmp" in d.name]
    assert not leftovers


def test_cda_readers_gate_on_sink_marker_manifest(spark, sf_dir, tmp_path):
    """Reader half of the marker-last publish protocol (round-10): when
    a table-level ``manifest.json`` sits next to the fingerprint dir,
    the gw_cda/gw_cda_stream commit listing treats folders with
    ts > lastSuccessfulWriteTimestamp as IN-FLIGHT publishes, not
    commits — the same gate the reference's readers apply
    (Guidewire.scala:133-137).  Marker-less trees (the POSIX sink's
    rename-published folders) and foreign/corrupt manifests list
    ungated."""
    import json as _json

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.cda_source import (
        _list_commit_ts,
        register_cda_batch_source,
    )

    table_dir = tmp_path / "events_out"
    fp = table_dir / "fpX"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    for ts in (1000, 2000, 3000):
        n.coalesce(1).write.parquet(str(fp / str(ts)))

    # no marker: ungated
    assert _list_commit_ts(str(fp)) == [1000, 2000, 3000]

    # marker at 2000: folder 3000 is an in-flight publish
    (table_dir / "manifest.json").write_text(
        _json.dumps(
            {
                "events_out": {
                    "lastSuccessfulWriteTimestamp": 2000,
                    "totalProcessedRecordsCount": 50,
                    "dataFilesPath": str(table_dir),
                    "schemaHistory": {"fpX": 1000},
                }
            }
        )
    )
    assert _list_commit_ts(str(fp)) == [1000, 2000]
    register_cda_batch_source(spark)
    df = spark.read.format("gw_cda").option("path", str(fp)).load()
    assert df.count() == 50  # 2 × 25, the 3000 folder invisible
    assert df.agg({"commit_ts": "max"}).collect()[0][0] == 2000

    # foreign/corrupt manifest.json: listing must not gate (or crash)
    (table_dir / "manifest.json").write_text("{not json")
    assert _list_commit_ts(str(fp)) == [1000, 2000, 3000]

    # the LOCAL arm's corrupt-shape asymmetry, pinned: POSIX rename
    # publishes are atomic, so entry-level corruption lists UNGATED
    # (never raises — the remote arm refuses these same shapes loudly,
    # test_sink_marker_entry_corruption_fails_loud_on_remote)
    good = {
        "events_out": {
            "lastSuccessfulWriteTimestamp": 2000,
            "totalProcessedRecordsCount": 50,
            "dataFilesPath": str(table_dir),
            "schemaHistory": {"fpX": 1000},
        }
    }
    bad = _json.loads(_json.dumps(good))
    bad["events_out"]["lastSuccessfulWriteTimestamp"] = True  # int()s to 1
    (table_dir / "manifest.json").write_text(_json.dumps(bad))
    assert _list_commit_ts(str(fp)) == [1000, 2000, 3000]
    # ...while a corrupt EPOCH value degrades to the shared gate (the
    # watermark itself is readable), never un-gates the listing
    bad = _json.loads(_json.dumps(good))
    bad["events_out"]["epochWatermarks"] = {"fpX": "not-a-ts"}
    (table_dir / "manifest.json").write_text(_json.dumps(bad))
    assert _list_commit_ts(str(fp)) == [1000, 2000]


def test_psi_monitor_baseline_frozen_and_batch_psi_sane(spark, sf_dir):
    """The streaming PSI monitor must (a) freeze the FIRST chunk as
    baseline — it never appears in the output — (b) emit a full
    10-bin grid per monitored chunk, and (c) produce per-chunk PSI
    totals matching a pandas recomputation against the frozen
    baseline."""
    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.streaming.jobs import stream_psi_monitor

    got = stream_psi_monitor(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas()
    import numpy as np

    us = ev["ts"].astype("int64") // 1000
    chunk = (us // 86400000000) // 10
    y = (ev["value"].round(6) * 1000000).round().astype("int64")
    m = chunk.min()
    assert m not in set(got["chunk"])
    for c, grp in got.groupby("chunk"):
        assert sorted(grp["bin"]) == list(range(10))
    base = np.sort(y[chunk == m].values)
    edges = np.quantile(base, [i / 10 for i in range(1, 10)],
                        method="linear")
    nb = np.histogram(base, bins=[-np.inf, *edges, np.inf])[0]
    tb = nb.sum()
    for c, grp in got.groupby("chunk"):
        curr = y[chunk == c].values
        nc = np.array(
            [np.sum(np.sum(curr[:, None] > edges[None, :], axis=1) == b)
             for b in range(10)]
        )
        tc = nc.sum()
        assert grp["n_cur"].sum() == tc
        pc = (nc + 0.5) / (tc + 5.0)
        pb = (nb + 0.5) / (tb + 5.0)
        psi = np.sum((pc - pb) * np.round(np.log(pc / pb), 6))
        assert abs(grp["psi_term"].sum() - round(psi, 4)) < 1e-3


def test_stage_event_sides_sentinel_rejects_empty_events(spark, sf_dir, tmp_path):
    """The sentinel rows sit 96 h after the latest event; an events
    frame with no rows has no latest event, which must surface as a
    named ValueError before anything is staged."""
    empty = load_table(spark, sf_dir, "events").limit(0)
    with pytest.raises(ValueError, match="non-null ts"):
        jobs.stage_event_sides(spark, empty, str(tmp_path), sentinel=True)
    assert not os.listdir(tmp_path)
