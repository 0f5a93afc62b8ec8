"""End-to-end connector queries: CDA tree → Delta log → Spark scan.

These exercise the full reference pipeline (SURVEY.md §2.1 P1-P16) as
driver-verifiable queries: each stages a CDA-layout directory tree
from the driver's own parquet tables, runs ``index()``, and returns
the snapshot read back through the generated Delta log — so the
oracle is simply the equivalent filter on the source table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from guidewire_spark.functions.rounding import stable_round
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.plans.scratch import scratch_dir
from guidewire_spark.registry import query
from guidewire_spark.sources.indexer import index
from guidewire_spark.sources.snapshot import read_delta
from guidewire_spark.sources.writer import (
    merge_into,
    optimize_table,
    restore_table,
    table_history,
    write_delta,
)


def _write_manifest(root: str, tables: dict[str, dict]) -> str:
    manifest_path = os.path.join(root, "manifest.json")
    with open(manifest_path, "w", encoding="utf-8") as f:
        json.dump(tables, f)
    return manifest_path


def _stage_commit(df: DataFrame, folder: str) -> None:
    """Stage one CDA commit folder: data files under
    <dataFilesPath>/<fingerprint>/<timestamp>/."""
    df.coalesce(1).write.mode("overwrite").parquet(folder)
    # Spark writes _SUCCESS markers; the connector must ignore non-parquet
    # and dot-files anyway (S3Access.scala:39-41), so leave them in place.


@query(
    "cda_index_roundtrip",
    oracle="""
    SELECT event_id, event_type, ROUND(value, 4) AS value_r
    FROM events
    """,
)
def cda_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: stage events as a single-commit CDA table, index
    it into a Delta log, replay the snapshot, scan with Spark."""
    root = scratch_dir("gw_cda_rt_")
    data_root = os.path.join(root, "source", "events_cda")
    e = load_table(spark, sf_dir, "events")
    _stage_commit(e, os.path.join(data_root, "fp001", "1700000000000"))
    _write_manifest(
        root,
        {
            "events_cda": {
                "lastSuccessfulWriteTimestamp": "1700000000000",
                "totalProcessedRecordsCount": e.count(),
                "dataFilesPath": data_root,
                "schemaHistory": {"fp001": "1700000000000"},
            }
        },
    )
    db = os.path.join(root, "db")
    index(os.path.join(root, "manifest.json"), db, save_mode="overwrite")
    out = read_delta(spark, os.path.join(db, "events_cda"))
    return out.select(
        "event_id", "event_type", F.round("value", 4).alias("value_r")
    )


@query(
    "cda_sink_object_store_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def cda_sink_object_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 headline path under the value gate: marker-last
    object-store publish (``_CdaRemoteArrowWriter``) → marker-gated
    ``index()`` → snapshot → byte-level read-back, end to end.

    The object store is the same in-memory fsspec double the remote
    pytest arm uses (tests/fake_fsspec.py — real AbstractFileSystem
    surface); every fsspec touch (staging PUTs, folder fill, the
    marker PUT, commit listing, footer sniff, data reads) happens
    DRIVER-SIDE inside the install window below, so the query runs on
    a stock session with no cluster-wide fsspec requirement.  An
    in-flight folder beyond the marker is staged too and must stay
    invisible — the oracle is simply the source table: any leak of
    the uncommitted folder or loss of a committed row breaks the
    value hash.  (Correctness-harness shape: the production remote
    read path is the JVM scan of the shallow-clone Delta log on real
    s3a storage; this query pins the PROTOCOL, not that scanner.)"""
    import sys
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the fsspec double lives under tests/ (a namespace package at the
    # repo root) — harnesses that import this module by package path
    # already have the root on sys.path, but don't depend on it
    _root = str(Path(__file__).resolve().parents[2])
    if _root not in sys.path:
        sys.path.insert(0, _root)
    from tests.fake_fsspec import MemoryFS, make_fsspec_module
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.streaming.cda_source import CdaStreamSink

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    arrow = n.toArrow()
    mod = make_fsspec_module(MemoryFS())
    saved = {k: sys.modules.get(k) for k in ("fsspec", "fsspec.core")}
    sys.modules["fsspec"], sys.modules["fsspec.core"] = mod, mod.core
    try:
        root = "memory://bucket/cda/nation_rt/fp001"
        w = CdaStreamSink(
            {"path": root, "base_ts": "1700000000000"}
        ).streamWriter(None, False)
        # two executor messages, then the marker-last publish
        half = max(1, arrow.num_rows // 2)
        msgs = [
            w.write(iter(arrow.slice(0, half).to_batches())),
            w.write(iter(arrow.slice(half).to_batches())),
        ]
        w.commit(msgs, 0)
        # in-flight publish beyond the marker: parts staged into the
        # folder but the marker never advanced — must not be indexed
        junk = w.write(iter(arrow.slice(0, 3).to_batches()))
        in_flight_fs, root_path = mod.core.url_to_fs(root)
        in_flight_fs.mv(
            junk.staged, f"{root_path}/1700000000001/part-junk.parquet"
        )
        db = scratch_dir("gw_cda_os_")
        index(
            "memory://bucket/cda/nation_rt/manifest.json",
            db,
            save_mode="overwrite",
        )
        snap = load_snapshot(os.path.join(db, "nation_rt"))
        parts = []
        for p in sorted(snap.files):
            fs, path = mod.core.url_to_fs(p)
            with fs.open(path, "rb") as fh:
                parts.append(pq.read_table(fh))
        out = pa.concat_tables(parts)
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v
    return spark.createDataFrame(out.to_pandas())


@query(
    "cda_time_travel",
    oracle="""
    SELECT event_id, user_id FROM events WHERE event_id % 2 = 0
    """,
)
def cda_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (VERSION AS OF 0): two commit folders become Delta
    v0 and v1; reading version 0 yields only the first commit's rows
    (reference contract: README.md:79-84)."""
    root = scratch_dir("gw_cda_tt_")
    data_root = os.path.join(root, "source", "events_tt")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    _stage_commit(
        e.where(F.col("event_id") % 2 == 0),
        os.path.join(data_root, "fp001", "1700000000000"),
    )
    _stage_commit(
        e.where(F.col("event_id") % 2 == 1),
        os.path.join(data_root, "fp001", "1700000001000"),
    )
    _write_manifest(
        root,
        {
            "events_tt": {
                "lastSuccessfulWriteTimestamp": "1700000001000",
                "totalProcessedRecordsCount": 0,
                "dataFilesPath": data_root,
                "schemaHistory": {"fp001": "1700000001000"},
            }
        },
    )
    db = os.path.join(root, "db")
    index(os.path.join(root, "manifest.json"), db, save_mode="overwrite")
    return read_delta(spark, os.path.join(db, "events_tt"), version=0)


@query(
    "cda_schema_evolution",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE doc_id >= 250
    """,
)
def cda_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a second fingerprint adds the n_chars column;
    the UPGRADE_SCHEMA commit logically overwrites the table, so the
    latest snapshot contains only the new fingerprint's rows with the
    new schema (Guidewire.scala:221-237 semantics)."""
    root = scratch_dir("gw_cda_ev_")
    data_root = os.path.join(root, "source", "docs_ev")
    d = load_table(spark, sf_dir, "documents")
    _stage_commit(
        d.where(F.col("doc_id") < 250).select("doc_id", "lang", "source"),
        os.path.join(data_root, "fpA", "1700000000000"),
    )
    _stage_commit(
        d.where(F.col("doc_id") >= 250).select("doc_id", "lang", "source", "n_chars"),
        os.path.join(data_root, "fpB", "1700000005000"),
    )
    _write_manifest(
        root,
        {
            "docs_ev": {
                "lastSuccessfulWriteTimestamp": "1700000005000",
                "totalProcessedRecordsCount": 0,
                "dataFilesPath": data_root,
                "schemaHistory": {
                    "fpA": "1700000000000",
                    "fpB": "1700000005000",
                },
            }
        },
    )
    db = os.path.join(root, "db")
    index(os.path.join(root, "manifest.json"), db, save_mode="overwrite")
    return read_delta(spark, os.path.join(db, "docs_ev"))


@query(
    "cda_incremental_checkpoints",
    oracle="""
    SELECT * FROM (VALUES
      ('docs_inc', 'fp001', CAST(1700000000000 AS BIGINT), 1),
      ('docs_inc', 'fp001', CAST(1700000009000 AS BIGINT), 1)
    ) AS t(tableName, processedSchema, processedTimestamp, processedFiles)
    """,
)
def cda_incremental_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental indexing: run index() twice with a commit folder
    appearing in between; the second run processes only the new folder
    (checkpoint high-water-mark filter, Guidewire.scala:134-138).
    Returns the _checkpoints Delta table, which records exactly one
    BatchResult per processed folder."""
    root = scratch_dir("gw_cda_inc_")
    data_root = os.path.join(root, "source", "docs_inc")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    manifest_v1 = {
        "docs_inc": {
            "lastSuccessfulWriteTimestamp": "1700000000000",
            "totalProcessedRecordsCount": 0,
            "dataFilesPath": data_root,
            "schemaHistory": {"fp001": "1700000000000"},
        }
    }
    _stage_commit(
        d.where(F.col("doc_id") < 250),
        os.path.join(data_root, "fp001", "1700000000000"),
    )
    _write_manifest(root, manifest_v1)
    db = os.path.join(root, "db")
    index(os.path.join(root, "manifest.json"), db, save_mode="overwrite")

    # A new commit folder lands; the manifest's high-water mark advances.
    _stage_commit(
        d.where(F.col("doc_id") >= 250),
        os.path.join(data_root, "fp001", "1700000009000"),
    )
    manifest_v1["docs_inc"]["lastSuccessfulWriteTimestamp"] = "1700000009000"
    _write_manifest(root, manifest_v1)
    index(os.path.join(root, "manifest.json"), db, save_mode="append")

    return read_delta(spark, os.path.join(db, "_checkpoints"))


@query(
    "delta_sink_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_nationkey % 2 = 0
    """,
)
def delta_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical Delta sink: write v0, append v1, read the merged
    snapshot back through log replay (SURVEY §2.4 'delta sink')."""
    table = scratch_dir("gw_dsink_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    write_delta(s, table, mode="append")
    write_delta(s.where(F.col("s_nationkey") % 2 == 0), table, mode="append")
    return read_delta(spark, table).select("s_suppkey", "s_name", "s_acctbal")


@query(
    "delta_log_checkpoint_replay",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
)
def delta_log_checkpoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-checkpoint scale path: 12 append commits → checkpoint
    parquet + _last_checkpoint → delete every JSON commit the
    checkpoint covers → the snapshot must reconstruct from the
    checkpoint alone (O(1) replay instead of O(versions) JSON reads;
    see sources/log_checkpoint.py)."""
    from guidewire_spark.sources.deltalog import delta_log_dir, list_versions
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.snapshot import load_snapshot

    table = scratch_dir("gw_dckpt_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for i in range(12):
        write_delta(n.where(F.col("n_nationkey") % 12 == i), table, mode="append")
    write_log_checkpoint(load_snapshot(table))
    log = delta_log_dir(table)
    for v in list_versions(table):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    return read_delta(spark, table)


@query(
    "delta_checkpoint_v2_replay",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 3 <> 0
    """,
)
def delta_checkpoint_v2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol V2 checkpoint end-to-end: append commits + a MOR
    DELETE (so deletion vectors must survive the sidecar round-trip),
    then a UUID-manifest + _sidecars checkpoint, then every covered
    JSON commit removed — the snapshot must reconstruct from the
    manifest and its sidecars alone.  V2 is the 100 TB checkpoint
    shape: sidecars are immutable and individually re-linkable, so an
    incremental checkpointer pays for churn, not table size (see
    sources/log_checkpoint.py::write_log_checkpoint_v2)."""
    from guidewire_spark.sources.deltalog import delta_log_dir, list_versions
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint_v2
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import delete_from_mor

    table = scratch_dir("gw_dckpt2_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    for i in range(4):
        write_delta(s.where(F.col("s_suppkey") % 4 == i), table, mode="append")
    delete_from_mor(spark, table, "s_suppkey % 3 = 0")
    write_log_checkpoint_v2(load_snapshot(table), max_adds_per_sidecar=2)
    log = delta_log_dir(table)
    for v in list_versions(table):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    return read_delta(spark, table)


@query(
    "delta_version_checksum",
    oracle="""
    SELECT CAST(v AS BIGINT) AS version,
           CAST(f AS BIGINT) AS num_files,
           CAST(d AS BIGINT) AS num_deleted
    FROM (VALUES (0, 2, 0), (1, 5, 0), (2, 5, 10)) AS t(v, f, d)
    """,
)
def delta_version_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-version .crc checksums (sources/checksum.py): two appends
    with controlled file counts, a MOR DELETE that kills 10 rows via
    deletion vectors, then a checksum written AND validated at every
    version — the query's rows are the validated invariants, so a
    replay drift (lost commit, truncated log, DV miscount) fails the
    oracle compare by construction."""
    from guidewire_spark.sources.checksum import (
        validate_version_checksum,
        write_version_checksum,
    )

    table = scratch_dir("gw_dcrc_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.repartition(2), table, mode="append")
    write_delta(n.repartition(3), table, mode="append")
    from guidewire_spark.sources.writer import delete_from_mor

    delete_from_mor(spark, table, "n_nationkey % 5 = 0")
    rows = []
    for v in (0, 1, 2):
        write_version_checksum(table, version=v)
        crc = validate_version_checksum(table, version=v)
        rows.append((v, crc["numFiles"], crc["numDeletedRecordsOpt"]))
    return spark.createDataFrame(
        rows, "version long, num_files long, num_deleted long"
    )


@query(
    "delta_log_retention",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
)
def delta_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log retention end-to-end: 12 appends with
    delta.checkpointInterval=4 (auto-checkpoints at v4/v8/v12 ride
    the commit path), then expire_log keeps only the newest
    checkpoint + 2 trailing versions — old commits, superseded
    checkpoints and orphan metadata are gone, yet the table reads
    back complete from the surviving checkpoint + JSON tail. The
    _delta_log directory stops growing with table age, which at CDA
    cadence is the difference between listing 10 files and 10⁴."""
    from guidewire_spark.sources.log_checkpoint import expire_log
    from guidewire_spark.sources.writer import set_table_properties

    table = scratch_dir("gw_dlret_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.limit(0), table, mode="append")
    set_table_properties(table, {"delta.checkpointInterval": "4"})
    for i in range(12):
        write_delta(n.where(F.col("n_nationkey") % 12 == i), table, mode="append")
    expire_log(table, keep_versions=2)
    return read_delta(spark, table)


@query(
    "delta_concurrent_append",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    """,
)
def delta_concurrent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency as a query: two blind appends commit
    on the same snapshot.  The winner lands at base+1; the loser's
    ``deltalog.commit`` loses the O_EXCL race, rescans the winner's
    actions (a blind append → no conflict), REBASES, and lands at
    winner+1. The final table holds BOTH writers' rows exactly once;
    the reference sidesteps this with one-writer-per-table, which a
    1000-executor pipeline cannot."""
    import time

    from guidewire_spark.sources.deltalog import commit
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import stage_add_actions

    table = scratch_dir("gw_docc_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s.where(F.col("s_suppkey") % 2 == 0), table, mode="append")

    base = load_snapshot(table)
    winner_adds = stage_add_actions(s.where(F.col("s_suppkey") % 4 == 1), base)
    our_adds = stage_add_actions(s.where(F.col("s_suppkey") % 4 == 3), base)
    now = int(time.time() * 1000)
    commit(base, "WRITE", "Append", winner_adds, now, blind=True)
    commit(base, "WRITE", "Append", our_adds, now, blind=True)
    return read_delta(spark, table)


@query(
    "delta_partitioned_scan",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
    """,
)
def delta_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta sink + metadata-only partition pruning: write
    documents partitioned by lang (hive layout, partitionValues in the
    add actions), then read back only lang=en — the non-matching
    partitions' files are pruned from the log before Spark sees a
    single path."""
    table = scratch_dir("gw_dpart_") + "/docs_part"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append", partition_by=["lang"])
    return read_delta(spark, table, partition_filter={"lang": "en"})


@query(
    "delta_merge_upsert",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal + 100, 2) AS acctbal
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier WHERE s_suppkey % 10 <> 0
    UNION ALL
    SELECT s_suppkey + 1000000, 'NEW-' || CAST(s_suppkey AS VARCHAR), 0.0
    FROM supplier WHERE s_suppkey % 7 = 0
    """,
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert): +100 to every 10th supplier's balance, insert a
    NEW- row for every 7th key; the file-pruned copy-on-write merge in
    sources/writer.py rewrites only key-range-overlapping files."""
    table = scratch_dir("gw_dmrg_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    updates = s.where(F.col("s_suppkey") % 10 == 0).select(
        "s_suppkey", "s_name", F.round(F.col("acctbal") + 100, 2).alias("acctbal")
    )
    inserts = s.where(F.col("s_suppkey") % 7 == 0).select(
        (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
        F.concat(F.lit("NEW-"), F.col("s_suppkey").cast("string")).alias("s_name"),
        F.lit(0.0).alias("acctbal"),
    )
    merge_into(spark, table, updates.unionByName(inserts), on="s_suppkey")
    return read_delta(spark, table)


@query(
    "delta_restore_version",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10
    """,
)
def delta_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION AS OF 0: create (keys < 10), append the
    rest, restore v0 — the snapshot must equal the original slice
    while history keeps all three versions."""
    table = scratch_dir("gw_drst_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), table, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), table, mode="append")
    restore_table(table, 0)
    return read_delta(spark, table)


@query(
    "delta_describe_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'WRITE', 'Append', FALSE),
      (CAST(1 AS BIGINT), 'WRITE', 'Append', TRUE),
      (CAST(2 AS BIGINT), 'OPTIMIZE', 'Compaction', FALSE)
    ) AS t(version, operation, mode, blind)
    """,
)
def delta_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the commitInfo trail: create, append,
    optimize → three versions with their operations."""
    table = scratch_dir("gw_dhist_") + "/region_delta"
    r = load_table(spark, sf_dir, "region")
    write_delta(r.where(F.col("r_regionkey") < 3), table, mode="append")
    write_delta(r.where(F.col("r_regionkey") >= 3), table, mode="append")
    optimize_table(spark, table, target_files=1)
    rows = [
        (h["version"], h["operation"], h["operationParameters"]["mode"], h["isBlindAppend"])
        for h in table_history(table)
    ]
    return spark.createDataFrame(
        rows, "version long, operation string, mode string, blind boolean"
    )


@query(
    "delta_delete_rows",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 10 <> 3
    """,
)
def delta_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM ... WHERE: copy-on-write removal of matching rows;
    only files containing matches are rewritten (three-way handling
    asserted in test_delete_from_three_way_file_handling)."""
    from guidewire_spark.sources.writer import delete_from

    table = scratch_dir("gw_ddel_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, table, mode="append")
    delete_from(spark, table, "s_suppkey % 10 = 3")
    return read_delta(spark, table)


@query(
    "delta_change_feed",
    oracle="""
    SELECT n_nationkey, n_name, 'insert' AS _change_type,
           CAST(CASE WHEN n_nationkey < 10 THEN 0 ELSE 1 END AS BIGINT)
             AS _commit_version
    FROM nation
    """,
)
def delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed: two append commits read back as per-version
    insert events with _change_type/_commit_version columns."""
    from guidewire_spark.sources.snapshot import read_delta_changes

    table = scratch_dir("gw_dcdf_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), table, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), table, mode="append")
    return read_delta_changes(spark, table, from_version=-1)


@query(
    "delta_schema_merge_append",
    oracle="""
    SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS r_population
    FROM region
    UNION ALL
    SELECT r_regionkey, r_name, r_regionkey * 1000 AS r_population
    FROM region
    """,
)
def delta_schema_merge_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution (mergeSchema): append a new column
    without rewriting old files; the pre-evolution rows read the new
    column as null."""
    table = scratch_dir("gw_dsm_") + "/region_delta"
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    write_delta(
        r.withColumn("r_population", F.col("r_regionkey").cast("long") * 1000),
        table,
        mode="append",
        merge_schema=True,
    )
    return read_delta(spark, table)


@query(
    "delta_metadata_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM supplier
    """,
)
def delta_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) answered purely from add.stats numRecords — no data
    file opened (snapshot.metadata_count); the oracle scans."""
    table = scratch_dir("gw_dmc_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier")
    write_delta(s, table, mode="append")
    from guidewire_spark.sources.snapshot import load_snapshot

    n = load_snapshot(table).metadata_count()
    assert n is not None
    return spark.createDataFrame([(n,)], "n long")


@query(
    "delta_optimize_zorder",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice FROM orders
    """,
)
def delta_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE with zorder_by clustering: rows identical after the
    rewrite, and each compacted file covers a disjoint o_orderkey
    range so add.stats-based skipping prunes range queries (asserted
    in test_zorder_optimize_tightens_skipping)."""
    table = scratch_dir("gw_dzord_") + "/orders_delta"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    for i in range(4):
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    optimize_table(spark, table, target_files=4, zorder_by=["o_orderkey"])
    return read_delta(spark, table)


@query(
    "delta_optimize_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
)
def delta_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE compaction: three fragmented commits → one compacted
    file; rows must be identical after (dataChange=false semantics,
    reference README.md:50-51)."""
    table = scratch_dir("gw_dopt_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for i in range(3):
        write_delta(n.where(F.col("n_nationkey") % 3 == i), table, mode="append")
    optimize_table(spark, table, target_files=1)
    return read_delta(spark, table)


@query(
    "delta_partitioned_merge",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(s_nationkey % 3 AS BIGINT) AS region_bucket,
           ROUND(s_acctbal + 100, 2) AS acctbal
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey, s_name,
           CAST(s_nationkey % 3 AS BIGINT) AS region_bucket,
           ROUND(s_acctbal, 2) AS acctbal
    FROM supplier WHERE s_suppkey % 10 <> 0
    """,
)
def delta_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE into a hive-partitioned table: partition columns are not
    stored in the data files, so the copy-on-write rewrite
    rematerializes them from the log's partitionValues
    (snapshot.py::scan_live_files) and stages updated rows back
    into their partitions."""
    table = scratch_dir("gw_dpmrg_") + "/supplier_part"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        (F.col("s_nationkey") % 3).cast("long").alias("region_bucket"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    write_delta(s, table, mode="append", partition_by=["region_bucket"])
    updates = s.where(F.col("s_suppkey") % 10 == 0).withColumn(
        "acctbal", F.round(F.col("acctbal") + 100, 2)
    )
    merge_into(spark, table, updates, on="s_suppkey")
    return read_delta(spark, table)


@query(
    "delta_partitioned_delete",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'de'
    """,
)
def delta_partitioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE on a partitioned table with a partition-column predicate:
    only the lang=de partition's files are rewritten (here: dropped
    entirely); every other partition survives untouched."""
    from guidewire_spark.sources.writer import delete_from

    table = scratch_dir("gw_dpdel_") + "/docs_part"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append", partition_by=["lang"])
    delete_from(spark, table, "lang = 'de'")
    return read_delta(spark, table)


@query(
    "delta_partitioned_optimize",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(s_nationkey % 3 AS BIGINT) AS region_bucket,
           ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def delta_partitioned_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition OPTIMIZE: three small appends per partition are
    compacted to one file per partition (dataChange=false), preserving
    every row and each add's partitionValues."""
    table = scratch_dir("gw_dpopt_") + "/supplier_part"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        (F.col("s_nationkey") % 3).cast("long").alias("region_bucket"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    for i in range(3):
        write_delta(
            s.where(F.col("s_suppkey") % 3 == i),
            table,
            mode="append",
            partition_by=["region_bucket"],
        )
    optimize_table(spark, table)
    return read_delta(spark, table)


@query(
    "delta_check_constraint",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    UNION ALL
    SELECT s_suppkey + 500000, s_name, 1.0 AS acctbal
    FROM supplier WHERE s_suppkey % 5 = 0
    """,
)
def delta_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints (writer-enforced table invariants, Delta's
    delta.constraints.* configuration): a valid append lands, a
    violating append is rejected wholesale, and the surviving table
    contains exactly the base + valid rows."""
    from guidewire_spark.sources.writer import add_check_constraint

    table = scratch_dir("gw_dchk_") + "/supplier_chk"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    add_check_constraint(spark, table, "min_bal", "acctbal >= -1000")
    good = s.where(F.col("s_suppkey") % 5 == 0).select(
        (F.col("s_suppkey") + 500000).alias("s_suppkey"),
        "s_name",
        F.lit(1.0).alias("acctbal"),
    )
    write_delta(good, table, mode="append")
    bad = good.withColumn("acctbal", F.lit(-5000.0))
    try:
        write_delta(bad, table, mode="append")
        raise AssertionError("violating append must be rejected")
    except ValueError:
        pass
    return read_delta(spark, table)


@query(
    "delta_rename_column",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS balance
    FROM supplier
    UNION ALL
    SELECT s_suppkey + 700000, s_name, 7.0 AS balance
    FROM supplier WHERE s_suppkey % 9 = 0
    """,
)
def delta_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN via column mapping (mode=name): metadata-only —
    old files keep their physical column name, an append under the new
    logical name lands in the same table, and the read resolves both
    through the mapping."""
    from guidewire_spark.sources.writer import rename_column

    table = scratch_dir("gw_dren_") + "/supplier_ren"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    rename_column(table, "acctbal", "balance")
    extra = s.where(F.col("s_suppkey") % 9 == 0).select(
        (F.col("s_suppkey") + 700000).alias("s_suppkey"),
        "s_name",
        F.lit(7.0).alias("balance"),
    )
    write_delta(extra, table, mode="append")
    return read_delta(spark, table)


@query(
    "delta_update_rows",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 10 = 0
                THEN ROUND(ROUND(s_acctbal, 2) * 2, 2)
                ELSE ROUND(s_acctbal, 2) END AS acctbal
    FROM supplier
    """,
)
def delta_update_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE (copy-on-write): double every 10th
    supplier's balance in place; only files containing matches are
    rewritten (writer.py::update_table, DELETE's three-way file
    handling applied to updates)."""
    from guidewire_spark.sources.writer import update_table

    table = scratch_dir("gw_dupd_") + "/supplier_upd"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    update_table(
        spark, table, "s_suppkey % 10 = 0", {"acctbal": "round(acctbal * 2, 2)"}
    )
    return read_delta(spark, table)


@query(
    "delta_shallow_clone",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    UNION ALL
    SELECT n_nationkey + 100, n_name FROM nation WHERE n_nationkey < 3
    """,
)
def delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE + divergent append: the clone references the
    source's files in place (zero copy — the reference's core trick,
    README.md:22-28), then takes its own append without disturbing the
    source."""
    from guidewire_spark.sources.writer import shallow_clone

    root = scratch_dir("gw_dcln_")
    src, dst = root + "/src", root + "/dst"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, src, mode="append")
    shallow_clone(src, dst)
    write_delta(
        n.where(F.col("n_nationkey") < 3).select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"), "n_name"
        ),
        dst,
        mode="append",
    )
    return read_delta(spark, dst)


@query(
    "delta_matview_incremental",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS view_count,
           ROUND(SUM(ROUND(s_acctbal, 2)), 2) AS sum_acctbal
    FROM (
      SELECT s_nationkey, s_acctbal FROM supplier
      UNION ALL
      SELECT s_nationkey, 100.0 AS s_acctbal
      FROM supplier WHERE s_suppkey % 4 = 0
    )
    GROUP BY s_nationkey
    """,
)
def delta_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained aggregate view: build at v0, append to
    the base, refresh from the change feed only — the refreshed view
    must equal a full re-aggregate of the final base state (the oracle
    computes exactly that)."""
    from guidewire_spark.sources.matview import (
        create_materialized_aggregate,
        refresh_materialized_aggregate,
    )

    root = scratch_dir("gw_dmv_")
    base, view = root + "/base", root + "/view"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["s_nationkey"], sum_cols=["acctbal"]
    )
    write_delta(
        s.where(F.col("s_suppkey") % 4 == 0).select(
            (F.col("s_suppkey") + 900000).alias("s_suppkey"),
            "s_nationkey",
            F.lit(100.0).alias("acctbal"),
        ),
        base,
        mode="append",
    )
    refresh_materialized_aggregate(spark, base, view)
    return read_delta(spark, view).select(
        "s_nationkey",
        "view_count",
        F.round("sum_acctbal", 2).alias("sum_acctbal"),
    )


@query(
    "delta_convert_in_place",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def delta_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA: stage a plain multi-file parquet directory,
    convert it in place (log generation only — the connector's shallow
    trick applied to any parquet dataset), read back through the log."""
    from guidewire_spark.sources.writer import convert_to_delta

    d = scratch_dir("gw_dcnv_") + "/supplier_pq"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    s.repartition(3).write.parquet(d)
    convert_to_delta(d)
    return read_delta(spark, d)


@query(
    "delta_dynamic_partition_overwrite",
    oracle="""
    SELECT doc_id, lang, n_chars + 1 AS n_chars
    FROM documents WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
    """,
)
def delta_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: re-load the lang=en partition with
    corrected values; every other partition's files survive untouched
    (the idempotent daily-reload pattern)."""
    from guidewire_spark.sources.writer import overwrite_partitions

    table = scratch_dir("gw_ddpo_") + "/docs_dpo"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append", partition_by=["lang"])
    overwrite_partitions(
        d.where(F.col("lang") == "en").withColumn("n_chars", F.col("n_chars") + 1),
        table,
    )
    return read_delta(spark, table)


@query(
    "delta_vacuum_reclaim",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_nationkey % 2 = 0
    """,
)
def delta_vacuum_reclaim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM after an overwrite: the overwritten generation's files
    are tombstoned in the log but still on disk; vacuum_table deletes
    exactly those (retention None = Delta's RETAIN 0 HOURS), and the
    live snapshot must read back intact afterwards. The shallow-clone
    guard (never deleting files outside the table root) is covered by
    tests/test_writer.py; here the driver verifies the reclaim path
    end-to-end."""
    from guidewire_spark.sources.writer import vacuum_table

    table = scratch_dir("gw_dvac_") + "/nation_vac"
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_delta(n, table, mode="append")
    write_delta(
        n.where(F.col("n_nationkey") % 2 == 0), table, mode="overwrite"
    )
    deleted = vacuum_table(table)
    assert deleted, "overwrite must leave reclaimable files"
    return read_delta(spark, table)


@query(
    "delta_drop_column",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    UNION ALL
    SELECT s_suppkey + 800000, s_name FROM supplier WHERE s_suppkey % 11 = 0
    """,
)
def delta_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... DROP COLUMN (metadata-only, via column
    mapping): the dropped field leaves the logical schema without
    rewriting a byte of data — old files keep the column physically,
    readers stop requesting it — and a post-drop append under the
    narrowed schema lands in the same table."""
    from guidewire_spark.sources.writer import drop_column

    table = scratch_dir("gw_ddrop_") + "/supplier_drop"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    drop_column(table, "acctbal")
    extra = s.where(F.col("s_suppkey") % 11 == 0).select(
        (F.col("s_suppkey") + 800000).alias("s_suppkey"), "s_name"
    )
    write_delta(extra, table, mode="append")
    return read_delta(spark, table)


@query(
    "delta_partition_profile",
    oracle="""
    SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
    """,
)
def delta_partition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only per-partition row counts: the profile is computed
    ENTIRELY from the Delta log (add.partitionValues × add.stats
    numRecords) without opening a single data file — the per-partition
    generalization of metadata_count. The oracle aggregates the actual
    data, so a green row proves the writer's stats are faithful
    per-partition, which is what partition pruning and metadata
    COUNT(*) rely on at 100 TB (a wrong numRecords silently corrupts
    every downstream metadata shortcut)."""
    import json as _json

    from guidewire_spark.sources.snapshot import load_snapshot

    table = scratch_dir("gw_dprof_") + "/docs_part"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append", partition_by=["lang"])
    snap = load_snapshot(table)
    per_part: dict[str, int] = {}
    for path in snap.files:
        lang = snap.adds[path]["partitionValues"].get("lang")
        raw = snap.adds[path].get("stats")
        n = _json.loads(raw)["numRecords"] if raw else None
        if lang is None or n is None:
            raise ValueError(f"file {path} missing partition value or stats")
        per_part[lang] = per_part.get(lang, 0) + n
    return spark.createDataFrame(
        [(lang, n) for lang, n in per_part.items()],
        schema="lang string, n_rows long",
    )


@query(
    "delta_version_diff",
    oracle="""
    SELECT s_suppkey,
           'changed' AS status,
           ROUND(s_acctbal, 2) AS old_acctbal,
           CAST(ROUND(CAST(s_acctbal * 1.5 AS DECIMAL(18,4)), 2) AS DOUBLE) AS new_acctbal
    FROM supplier WHERE s_suppkey % 9 = 0
    UNION ALL
    SELECT s_suppkey + 500000 AS s_suppkey,
           'added' AS status,
           NULL AS old_acctbal,
           0.0 AS new_acctbal
    FROM supplier WHERE s_suppkey % 13 = 0
    """,
)
def delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic diff between two table versions — the reconciliation /
    audit query time travel exists for: read VERSION AS OF old and
    new, full-outer-join on the key, and label each key added /
    removed / changed with old and new values side by side. Unchanged
    rows drop out, so the result is change-sized, not table-sized;
    both sides are log-replayed snapshots of the SAME files wherever
    versions share them, so the join's scan cost is one pass over each
    version's live files."""
    from guidewire_spark.sources.writer import update_table, write_delta

    table = scratch_dir("gw_vdiff_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")  # v0
    update_table(
        spark, table, "s_suppkey % 9 = 0", {"acctbal": "cast(round(cast(acctbal * 1.5 as decimal(18,4)), 2) as double)"}
    )  # v1
    adds = s.where(F.col("s_suppkey") % 13 == 0).select(
        (F.col("s_suppkey") + 500000).alias("s_suppkey"),
        F.lit(0.0).alias("acctbal"),
    )
    write_delta(adds, table, mode="append")  # v2
    old = read_delta(spark, table, version=0).alias("o")
    new = read_delta(spark, table).alias("n")
    joined = old.join(
        new, F.col("o.s_suppkey") == F.col("n.s_suppkey"), "full_outer"
    )
    status = (
        F.when(F.col("o.s_suppkey").isNull(), F.lit("added"))
        .when(F.col("n.s_suppkey").isNull(), F.lit("removed"))
        .when(F.col("o.acctbal") != F.col("n.acctbal"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.s_suppkey"), F.col("n.s_suppkey")).alias(
                "s_suppkey"
            ),
            status.alias("status"),
            F.col("o.acctbal").alias("old_acctbal"),
            F.col("n.acctbal").alias("new_acctbal"),
        )
        .where(F.col("status") != "unchanged")
    )


@query(
    "delta_merge_schema_evolution",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal,
           CASE WHEN s_suppkey % 10 = 0 THEN 'gold' END AS tier
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal,
           CAST(NULL AS VARCHAR) AS tier
    FROM supplier WHERE s_suppkey % 10 <> 0
    """,
)
def delta_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (Delta autoMerge): the update set
    carries a NEW ``tier`` column; the merge appends it to the table
    schema additively — kept rows read NULL, the metaData action and
    the file swaps land atomically in ONE commit — then upserts the
    gold tier onto every 10th supplier.  sources/writer.py::merge_into
    with merge_schema=True; without the flag the same source raises
    (drift must be opted into)."""
    table = scratch_dir("gw_dmse_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    updates = s.where(F.col("s_suppkey") % 10 == 0).withColumn(
        "tier", F.lit("gold")
    )
    merge_into(spark, table, updates, on="s_suppkey", merge_schema=True)
    return read_delta(spark, table)


@query(
    "delta_identity_column",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS total FROM nation)
    SELECT CAST(total AS BIGINT) AS n_rows,
           CAST(total AS BIGINT) AS n_distinct_ids,
           TRUE AS ids_start_at_1000,
           TRUE AS batches_disjoint,
           TRUE AS high_water_monotone
    FROM n
    """,
)
def delta_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY: the writer assigns the surrogate
    key (start 1000, step 2) from partition-prefixed counters — fully
    parallel, no global ordering — and each append bumps the
    high-water mark ATOMICALLY with its add actions.  Delta identity
    guarantees uniqueness and batch-over-batch monotonicity, NOT
    density, so the registered result reports the INVARIANTS (row
    count, distinct count, floor, batch disjointness, monotone high
    water) rather than the implementation-defined values themselves;
    pytest additionally rejects writer-supplied identity values."""
    import json as _json

    from guidewire_spark.sources.writer import (
        append_with_identity,
        create_identity_table,
        table_configuration,
    )

    table = scratch_dir("gw_ident_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    half1 = n.where(F.col("n_nationkey") < 12)
    half2 = n.where(F.col("n_nationkey") >= 12)
    create_identity_table(half1, table, "row_id", start=1000, step=2)
    hw1 = _json.loads(
        table_configuration(table)["delta.identity.row_id"]
    )["highWaterMark"]
    append_with_identity(half2, table)
    hw2 = _json.loads(
        table_configuration(table)["delta.identity.row_id"]
    )["highWaterMark"]

    got = read_delta(spark, table)
    b1 = got.where(F.col("n_nationkey") < 12)
    b2 = got.where(F.col("n_nationkey") >= 12)
    row = got.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("row_id").alias("n_distinct_ids"),
        (F.min("row_id") >= 1000).alias("ids_start_at_1000"),
    ).collect()[0]
    b1_max = b1.agg(F.max("row_id")).collect()[0][0]
    b2_min = b2.agg(F.min("row_id")).collect()[0][0]
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["n_distinct_ids"],
                bool(row["ids_start_at_1000"]),
                bool(b2_min > b1_max),
                bool(hw2 > hw1),
            )
        ],
        "n_rows long, n_distinct_ids long, ids_start_at_1000 boolean, "
        "batches_disjoint boolean, high_water_monotone boolean",
    )


@query(
    "delta_ivm_aggregate_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 4 = 0 GROUP BY o_orderpriority
    """,
)
def delta_ivm_aggregate_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-priority (count, sum)
    materialized view is REFRESHED from the base table's Change Data
    Feed instead of recomputed — inserts add their partial aggregates,
    deletes subtract (count/sum are Abelian-group aggregates, so the
    delta apply is exact) — and the refreshed view must equal the
    full recompute (the oracle).  This is the matview consumer the
    reference's incremental-subscribe story feeds (README's poll-the-
    log pattern): at 100 TB each refresh costs O(changes), not
    O(table).  Base: two appends; the CDF between them drives the
    second refresh."""

    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_ivm_") + "/orders_delta"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").alias("cents"),
    ).where(F.col("o_orderkey") % 4 == 0)
    batch1 = o.where(F.col("o_orderkey") % 8 == 0)
    batch2 = o.where(F.col("o_orderkey") % 8 != 0)
    v1 = write_delta(batch1, table, mode="append")

    # initial materialization from the v1 snapshot
    matview = (
        read_delta(spark, table)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("cents"))
        .localCheckpoint(eager=True)
    )
    v2 = write_delta(batch2, table, mode="append")

    # refresh: fold ONLY the CDF delta into the view
    changes = read_delta_changes(spark, table, from_version=v1, to_version=v2)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = changes.groupBy("o_orderpriority").agg(
        F.sum(sign).alias("d_n"),
        F.sum(sign * F.col("cents")).alias("d_cents"),
    )
    refreshed = (
        matview.alias("m")
        .join(delta.alias("d"), "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (
                F.coalesce("m.n_orders", F.lit(0))
                + F.coalesce("d.d_n", F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce("m.cents", F.lit(0))
                + F.coalesce("d.d_cents", F.lit(0))
            ).alias("cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    return refreshed


@query(
    "delta_file_size_histogram",
    oracle="""
    WITH files AS (
      SELECT CAST(range AS BIGINT) AS i FROM range(0, 4)
    )
    SELECT CAST(4 AS BIGINT) AS n_files,
           TRUE AS sizes_positive,
           TRUE AS stats_complete,
           CAST(100 AS BIGINT) AS records_from_metadata
    """,
)
def delta_file_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-health audit answered ENTIRELY from the transaction log —
    file count, size sanity, stats completeness, and the
    metadata-only row count — zero data files opened (the
    DESCRIBE-DETAIL-class operation that at 100 TB must never touch
    parquet).  The fixture builds a 4-file table (4 single-partition
    appends of 25 nation-derived rows each) so the expected numbers
    are exact literals; the invariants generalize to any table the
    writer produces (every add carries size + footer stats)."""

    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_fsh_") + "/audit_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for i in range(4):
        write_delta(
            n.withColumn("n_nationkey", F.col("n_nationkey") + i * 25)
            .coalesce(1),
            table,
            mode="append",
        )
    snap = load_snapshot(table)
    sizes = [snap.adds[p].get("size", 0) for p in snap.files]
    stats_complete = all(snap.adds[p].get("stats") for p in snap.files)
    return spark.createDataFrame(
        [
            (
                snap.num_files,
                all(s > 0 for s in sizes),
                stats_complete,
                snap.metadata_count(),
            )
        ],
        "n_files long, sizes_positive boolean, stats_complete boolean, "
        "records_from_metadata long",
    )


@query(
    "delta_stats_null_rate_audit",
    oracle="""
    SELECT 'acctbal' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS null_ppm
    FROM supplier
    """,
)
def delta_stats_null_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-rate audit answered from the log's
    ``add.stats.nullCount`` — the writer records footer statistics on
    every commit, so data-quality monitoring reads the LOG, not the
    data (at 100 TB the difference between a metadata poll and a
    table scan).  The fixture nulls negative balances on write; the
    audit must reproduce the exact null count the full scan (oracle)
    sees, proving the recorded statistics are trustworthy enough to
    monitor from."""
    import json as _json

    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    table = scratch_dir("gw_nra_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_acctbal") >= 0, F.round("s_acctbal", 2)).alias(
            "acctbal"
        ),
    )
    write_delta(s, table, mode="append")
    snap = load_snapshot(table)
    n_rows = 0
    n_nulls = 0
    for p in snap.files:
        st = _json.loads(snap.adds[p]["stats"])
        n_rows += st["numRecords"]
        n_nulls += st["nullCount"]["acctbal"]
    return spark.createDataFrame(
        [("acctbal", n_rows, n_nulls, n_nulls * 1_000_000 // n_rows)],
        "column_name string, n_rows long, n_nulls long, null_ppm long",
    )


@query(
    "delta_dv_delete",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 7 <> 2
    """,
)
def delta_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (sources/dv.py): the
    matching row indexes land in ``add.deletionVector`` descriptors —
    a metadata-sized commit with ZERO files rewritten — and the read
    path subtracts them with a broadcast anti-join on the parquet
    scan's ``_metadata.row_index``.  The public Delta protocol's
    merge-on-read trade: copy-on-write ``delete_from`` rewrites every
    touched file (right when whole files die); DVs win when a
    predicate clips a few rows from many files (GDPR erasure over a
    100 TB table commits in milliseconds).  The query asserts the
    no-rewrite property before returning rows: the live file set is
    IDENTICAL before and after the delete."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import delete_from_mor

    table = scratch_dir("gw_dvd_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, table, mode="append")
    before = set(load_snapshot(table).files)
    delete_from_mor(spark, table, "s_suppkey % 7 = 2")
    after = load_snapshot(table)
    if set(after.files) != before or not after.deletion_vectors():
        raise AssertionError("MOR delete must not rewrite data files")
    return read_delta(spark, table)


@query(
    "delta_dv_purge",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey % 5 <> 1 AND n_nationkey % 5 <> 3
    """,
)
def delta_dv_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG ... APPLY (PURGE): two merge-on-read deletes accumulate
    into ONE merged deletion vector per file, then the purge rewrites
    the vectored files WITHOUT their dead rows in a dataChange=false
    commit (logically a no-op — CDF consumers don't re-fire) and
    clears every descriptor.  The maintenance half of the DV
    lifecycle: vectors keep deletes cheap, OPTIMIZE-time purging
    keeps scans from dragging an ever-growing dead set through the
    anti-join."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        purge_deletion_vectors,
    )

    table = scratch_dir("gw_dvp_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, table, mode="append")
    delete_from_mor(spark, table, "n_nationkey % 5 = 1")
    delete_from_mor(spark, table, "n_nationkey % 5 = 3")
    purge_deletion_vectors(spark, table)
    if load_snapshot(table).deletion_vectors():
        raise AssertionError("purge must clear every deletion vector")
    return read_delta(spark, table)


@query(
    "delta_dv_change_feed",
    oracle="""
    SELECT s_suppkey, 'delete' AS _change_type,
           CAST(CASE WHEN s_suppkey % 10 = 3 THEN 1 ELSE 2 END AS BIGINT)
             AS _commit_version
    FROM supplier WHERE s_suppkey % 10 = 3 OR s_suppkey % 5 = 4
    """,
)
def delta_dv_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDF under merge-on-read deletes: a DV commit is
    remove(path)+add(path, vector), but the change feed must emit
    ONLY the NEWLY dead rows of each version as 'delete' events —
    never a whole-file delete+insert pair, and never a row a PRIOR
    vector already killed (the second delete's predicate overlaps the
    first; only the fresh deaths appear under version 2).  This is
    the semantics Delta's CDF reader materializes from DV diffs."""
    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import delete_from_mor

    table = scratch_dir("gw_dvc_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, table, mode="append")
    delete_from_mor(spark, table, "s_suppkey % 10 = 3")
    # the second predicate re-covers every %10=3 row: those are
    # already dead, so version 2 must emit only the %5=4 rows
    delete_from_mor(spark, table, "s_suppkey % 5 = 4 OR s_suppkey % 10 = 3")
    return read_delta_changes(spark, table, from_version=0).select(
        "s_suppkey", "_change_type", "_commit_version"
    )


@query(
    "delta_dv_update",
    oracle="""
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 6 = 5 THEN s_name || '-AUDITED'
                ELSE s_name END AS s_name
    FROM supplier
    """,
)
def delta_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Delta's DV-backed UPDATE): matched rows
    die via per-file deletion vectors and their updated images append
    as new files in the same commit — no touched file is rewritten.
    The query asserts the no-rewrite property (every pre-update file
    survives by path; only image files are added — one per scan
    partition of the matched rows, not tied to the base file count)
    before returning the table, whose rows must equal the
    copy-on-write UPDATE's answer."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import update_table_mor

    table = scratch_dir("gw_dvu_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, table, mode="append")
    before = set(load_snapshot(table).files)
    update_table_mor(
        spark,
        table,
        "s_suppkey % 6 = 5",
        {"s_name": "concat(s_name, '-AUDITED')"},
    )
    after = load_snapshot(table)
    if not before <= set(after.files) or len(after.files) <= len(before):
        raise AssertionError("MOR update must not rewrite touched files")
    return read_delta(spark, table)


@query(
    "delta_type_widening",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
    UNION ALL
    SELECT CAST(4294967296 + r_regionkey AS BIGINT) AS k,
           'R' || r_regionkey AS n_name
    FROM region
    """,
)
def delta_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN TYPE widening (int → bigint): a METADATA-ONLY
    commit — the pre-widen files stay byte-identical on disk and the
    parquet reader upcasts their INT32 values into the wider logical
    type at scan time — after which appends may exceed the old
    int range.  The schema-evolution story for a long-lived CDA table
    whose upstream key outgrows its original type, with zero rewrite
    cost at any table size.  The query asserts the no-rewrite
    property before returning the mixed-physical-type table."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import widen_column_type

    table = scratch_dir("gw_twid_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k"), "n_name"
    )
    write_delta(n, table, mode="append")
    before = set(load_snapshot(table).files)
    widen_column_type(table, "k", "bigint")
    if set(load_snapshot(table).files) != before:
        raise AssertionError("type widening must not rewrite files")
    beyond_int = load_table(spark, sf_dir, "region").select(
        (F.lit(4294967296) + F.col("r_regionkey")).cast("long").alias("k"),
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("n_name"),
    )
    write_delta(beyond_int, table, mode="append")
    return read_delta(spark, table)


@query(
    "delta_delete_auto",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 40 <> 11 AND doc_id % 4 = 2
    """,
)
def delta_delete_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based DELETE strategy selection: the engine measures the
    damage ratio (matched rows over rows in the files containing
    matches, file totals from add.stats) and routes a SPARSE delete to
    merge-on-read deletion vectors (zero rewrite) and a DENSE one to
    copy-on-write (rewrite, vector-free reads) — the selection Delta
    performs when DVs are enabled.  The query runs ONE OF EACH and
    asserts both routings: the sparse pass leaves files untouched
    with a vector attached; the dense pass (≈75% of live rows,
    measured against the DV-corrected live count) rewrites and folds
    the earlier vector in."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import delete_auto

    table = scratch_dir("gw_dauto_") + "/docs_delta"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_delta(d, table, mode="append")
    before = set(load_snapshot(table).files)
    _, strat1 = delete_auto(spark, table, "doc_id % 40 = 11")   # ~2.5%
    mid = load_snapshot(table)
    if strat1 != "mor" or set(mid.files) != before or not mid.deletion_vectors():
        raise AssertionError("sparse delete must route merge-on-read")
    _, strat2 = delete_auto(spark, table, "doc_id % 4 <> 2")    # ~75%
    after = load_snapshot(table)
    if strat2 != "cow" or after.deletion_vectors():
        raise AssertionError("dense delete must route copy-on-write")
    return read_delta(spark, table)


@query(
    "func_collation_lcase",
    oracle="""
    WITH mixed AS (
      SELECT n_name AS s FROM nation
      UNION ALL
      SELECT upper(substr(n_name, 1, 1)) || lower(substr(n_name, 2))
      FROM nation
    )
    SELECT COUNT(DISTINCT s) AS n_binary,
           COUNT(DISTINCT lower(s)) AS n_lcase,
           CAST(count_if(lower(s) = 'france') AS BIGINT) AS n_france,
           CAST(count_if(lower(s) = 'france') AS BIGINT) AS n_france_lower
    FROM mixed
    """,
)
def func_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): UTF8_LCASE comparison semantics —
    equality becomes case-insensitive at the EXPRESSION level via
    ``F.collate`` instead of wrapping every operand in lower() (the
    collation rides the type, so Catalyst keeps pushdown/codegen).

    Round-6 driver lesson (CORRECTNESS_r06: hash mismatch with
    matching rows/schema, while the local replica passed): DISTINCT
    over a collated column depends on collation-KEY HASHING internals
    that can differ across Spark 4.x builds, so the returned values
    now use only the collated COMPARISON path (both sides explicitly
    collated — no implicit-collation precedence in play) plus
    explicit lower() twins.  A build whose collation falls back to
    binary shows up as a VISIBLE column disagreement
    (n_france=0 vs n_france_lower=2), not a silent hash drift, and a
    pre-flight self-diagnosis (below) warns loudly with the raw
    values.  Collated-DISTINCT semantics are asserted in
    tests/test_version_semantics.py instead, so a build change breaks
    a named test, not a driver hash.

    Upper-case TPC-H names union their Initcap twins: 25 distinct
    case-insensitively, 50 binary, and both spellings of 'france'
    match the collated literal."""
    import sys

    n = load_table(spark, sf_dir, "nation")
    mixed = n.select(F.col("n_name").alias("s")).unionAll(
        n.select(F.initcap("n_name").alias("s"))
    )
    lc = F.collate(F.col("s"), "UTF8_LCASE")
    lit_fr = F.collate(F.lit("france"), "UTF8_LCASE")
    # Self-diagnosis over the 50-row set: if this build's collation
    # semantics diverge from the lower() ground truth, say so loudly
    # (stderr) with the raw counts — do NOT fail the query, the
    # returned columns are already fallback-visible by construction.
    diag = mixed.agg(
        F.countDistinct(lc).alias("cd_collated"),
        F.countDistinct(F.lower("s")).alias("cd_lower"),
        F.count_if(lc == lit_fr).alias("eq_collated"),
        F.count_if(F.lower("s") == "france").alias("eq_lower"),
    ).collect()[0]
    if diag["cd_collated"] != diag["cd_lower"] or (
        diag["eq_collated"] != diag["eq_lower"]
    ):
        print(
            "WARNING func_collation_lcase: UTF8_LCASE semantics "
            f"diverge from lower() in this build: {diag.asDict()}",
            file=sys.stderr,
        )
    return mixed.agg(
        F.countDistinct("s").alias("n_binary"),
        F.countDistinct(F.lower("s")).alias("n_lcase"),
        F.count_if(lc == lit_fr).alias("n_france"),
        F.count_if(F.lower("s") == "france").alias("n_france_lower"),
    )


@query(
    "delta_row_tracking_stable_ids",
    oracle="""
    WITH b1 AS (
      SELECT doc_id, lang,
             row_number() OVER (ORDER BY doc_id) - 1 AS row_id
      FROM documents
    ),
    b2 AS (
      SELECT doc_id + 10000000 AS doc_id, lang,
             (SELECT COUNT(*) FROM documents)
               + row_number() OVER (ORDER BY doc_id) - 1 AS row_id
      FROM documents WHERE doc_id % 7 = 0
    ),
    unioned AS (
      SELECT * FROM b1 WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT * FROM b2
    )
    SELECT doc_id, row_id,
           CASE WHEN doc_id % 5 = 1 THEN upper(lang) ELSE lang END AS lang
    FROM unioned
    """,
)
def delta_row_tracking_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking end-to-end (the protocol's baseRowId /
    materializedRowIdColumnName): stable ids must survive the full
    maintenance lifecycle — MOR DELETE (dead ids vanish, survivors
    keep theirs), APPEND (fresh ids above the high-water mark),
    REORG PURGE (vectors fold in; survivor ids ride the rewrite in
    the materialized column), MOR UPDATE (updated images keep their
    OLD ids), and OPTIMIZE (compaction moves every row to a new file
    — ids unchanged).  This is what lets an incremental consumer
    dedup replays against a maintained table (the reference's
    subscribe workflow, README.md:39-43).

    The oracle is exact because each batch stages as ONE sorted file:
    batch-1 ids are the doc_id rank; batch-2 ids continue at
    COUNT(documents)."""
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_row_tracking,
        purge_deletion_vectors,
        update_table_mor,
    )

    table = scratch_dir("gw_rowtrack_") + "/docs"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_delta(
        d.repartition(1).sortWithinPartitions("doc_id"), table, mode="append"
    )
    enable_row_tracking(table)
    delete_from_mor(spark, table, "doc_id % 5 = 0")
    batch2 = d.where("doc_id % 7 = 0").select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "lang"
    )
    write_delta(
        batch2.repartition(1).sortWithinPartitions("doc_id"),
        table,
        mode="append",
    )
    purge_deletion_vectors(spark, table)
    update_table_mor(spark, table, "doc_id % 5 = 1", {"lang": "upper(lang)"})
    optimize_table(spark, table, target_files=1)
    out = read_delta(spark, table, with_row_ids=True)
    return out.select("doc_id", F.col("_row_id").alias("row_id"), "lang")


@query(
    "delta_cdf_row_ids",
    oracle="""
    WITH b1 AS (
      SELECT s_suppkey, s_name,
             row_number() OVER (ORDER BY s_suppkey) - 1 AS rid
      FROM supplier
    )
    SELECT s_suppkey, s_name, 'delete' AS change_type,
           CAST(2 AS BIGINT) AS commit_version, rid AS row_id
    FROM b1 WHERE s_suppkey % 4 = 0
    UNION ALL
    SELECT s_suppkey, s_name, 'delete', 3, rid
    FROM b1 WHERE s_suppkey % 4 = 1
    UNION ALL
    SELECT s_suppkey, upper(s_name), 'insert', 3, rid
    FROM b1 WHERE s_suppkey % 4 = 1
    """,
)
def delta_cdf_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed with STABLE ROW IDS (row tracking × CDF — the
    replay-dedup contract): a MOR DELETE's change rows carry the dead
    rows' ids, and a MOR UPDATE reads as a delete/insert pair bound by
    the SAME id (the updated image carries its old id in the
    materialized column), so an incremental consumer can key its state
    store on _row_id and survive replays/reorders.  Exact oracle via
    the one-sorted-file id assignment (id = rank - 1)."""
    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_row_tracking,
        update_table_mor,
    )

    table = scratch_dir("gw_cdfrid_") + "/sup"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(
        s.repartition(1).sortWithinPartitions("s_suppkey"),
        table,
        mode="append",
    )
    enable_row_tracking(table)                                      # v1
    delete_from_mor(spark, table, "s_suppkey % 4 = 0")              # v2
    update_table_mor(                                               # v3
        spark, table, "s_suppkey % 4 = 1", {"s_name": "upper(s_name)"}
    )
    ch = read_delta_changes(spark, table, from_version=1, with_row_ids=True)
    return ch.select(
        "s_suppkey",
        "s_name",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
        F.col("_row_id").alias("row_id"),
    )


@query(
    "delta_liquid_clustering",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def delta_liquid_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquid clustering end-to-end: CLUSTER BY declares the columns
    (metadata-only), a later PLAIN ``optimize_table`` call reclusters
    on them automatically (2 columns ride the Hilbert curve, Delta's
    liquid curve), and the query asserts the maintenance actually
    bought skipping power — a narrow range on EITHER clustered column
    must prune to at most half the files (raises otherwise).  The
    returned rows prove row fidelity through declare + recluster."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import (
        optimize_table as _opt,
        set_clustering_columns,
    )

    table = scratch_dir("gw_liquid_") + "/orders"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(14,2)").alias("price")
    )
    for i in range(4):  # hash-sliced appends: no natural clustering
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    set_clustering_columns(table, ["o_orderkey", "price"])
    _opt(spark, table, target_files=16)
    snap = load_snapshot(table)
    row = o.agg(
        F.min("o_orderkey"), F.max("o_orderkey"), F.min("price")
    ).first()
    lo, span_hi, plo = row[0], row[1], row[2]
    hi = lo + (span_hi - lo) // 20
    if len(snap.pruned_files("o_orderkey", lo, hi)) > snap.num_files // 2:
        raise AssertionError("clustering bought no o_orderkey skipping")
    if len(snap.pruned_files("price", plo, plo)) > snap.num_files // 2:
        raise AssertionError("clustering bought no price skipping")
    # The stored column stays DECIMAL (exact clustering stats); the
    # output contract requires DOUBLE in the final select.
    return (
        read_delta(spark, table)
        .where("o_orderkey % 2 = 0")
        .select("o_orderkey", F.col("price").cast("double").alias("price"))
    )


@query(
    "delta_ict_time_travel",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10
    """,
)
def delta_ict_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-commit timestamps (Delta table feature): after enablement
    every commit carries a monotonic inCommitTimestamp — written as
    max(now, prev+1) at the write_commit chokepoint — and TIMESTAMP
    AS OF resolves against that chain instead of wall-clock fields, so
    writer clock skew cannot reorder history.  The query commits three
    versions, asserts the chain is strictly increasing, then time
    travels to the middle version's exact instant and returns it."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import enable_in_commit_timestamps

    table = scratch_dir("gw_ict_") + "/nat"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where("n_nationkey < 10"), table, mode="append")   # v0
    enable_in_commit_timestamps(table)                               # v1
    write_delta(n.where("n_nationkey >= 10"), table, mode="append")  # v2
    snap = load_snapshot(table)
    ts = snap.commit_timestamps
    if not (ts[1] < ts[2]):
        raise AssertionError(f"ICT chain not increasing: {ts}")
    at_v1 = load_snapshot(table, timestamp=ts[1])
    if at_v1.version != 1:
        raise AssertionError(f"TIMESTAMP AS OF picked v{at_v1.version}")
    return read_delta(spark, table, timestamp=ts[1])


@query(
    "delta_column_defaults",
    oracle="""
    SELECT n_nationkey, n_name, CAST(42 AS INTEGER) AS tier FROM nation
    UNION ALL
    SELECT CAST(90 AS INTEGER), 'OMITTED', CAST(42 AS INTEGER)
    UNION ALL
    SELECT CAST(91 AS INTEGER), 'EXPLICIT', CAST(NULL AS INTEGER)
    """,
)
def delta_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (Delta's allowColumnDefaults, stored as
    Spark's EXISTS_DEFAULT / CURRENT_DEFAULT schema-metadata keys — in
    the LOG, not engine state): ADD COLUMN with a default is
    metadata-only; pre-existing files read the default from the scan
    itself, a later write omitting the column inserts it, and an
    EXPLICIT NULL stays NULL — the three-way distinction a blanket
    coalesce would destroy."""
    from guidewire_spark.sources.writer import add_column

    table = scratch_dir("gw_defaults_") + "/nat"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, table, mode="append")
    add_column(table, "tier", "int", default="42")
    write_delta(
        spark.createDataFrame(
            [(90, "OMITTED")], "n_nationkey int, n_name string"
        ),
        table,
        mode="append",
    )
    write_delta(
        spark.createDataFrame(
            [(91, "EXPLICIT", None)],
            "n_nationkey int, n_name string, tier int",
        ),
        table,
        mode="append",
    )
    return read_delta(spark, table)


@query(
    "delta_append_only",
    oracle="""
    SELECT p_partkey, p_type, CAST(3 AS BIGINT) AS n_blocked
    FROM part
    WHERE p_partkey % 3 IN (0, 1) AND p_partkey % 10 <> 0
    """,
)
def delta_append_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``delta.appendOnly=true`` (the protocol's appendOnly writer
    feature) end-to-end: with the property set, appends land but
    DELETE / merge-on-read UPDATE / overwrite are all REFUSED
    (``n_blocked`` counts the refusals — a silently-passing guard
    changes the data AND the literal, failing both ways); unsetting
    the property re-opens DML and the final DELETE actually runs.
    Reference parity: the reference emits logs for an external engine
    to enforce (README.md:74-84); this engine enforces writer-side,
    where Delta's own invariant check lives."""
    from guidewire_spark.sources.writer import (
        delete_from,
        set_table_properties,
        update_table_mor,
    )

    table = scratch_dir("gw_aonly_") + "/part_delta"
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    write_delta(p.where(F.col("p_partkey") % 3 == 0), table, mode="append")
    set_table_properties(table, {"delta.appendOnly": "true"})
    write_delta(p.where(F.col("p_partkey") % 3 == 1), table, mode="append")

    blocked = 0
    for attempt in (
        lambda: delete_from(spark, table, "p_partkey % 10 = 0"),
        lambda: update_table_mor(
            spark, table, "p_partkey % 10 = 0", {"p_type": "'X'"}
        ),
        lambda: write_delta(p.limit(1), table, mode="overwrite"),
    ):
        try:
            attempt()
        except ValueError as e:
            if "append-only" in str(e):
                blocked += 1

    set_table_properties(table, {"delta.appendOnly": None})
    delete_from(spark, table, "p_partkey % 10 = 0")
    return read_delta(spark, table).withColumn(
        "n_blocked", F.lit(blocked).cast("long")
    )


@query(
    "delta_merge_clauses",
    oracle="""
    WITH t AS (
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation
    ),
    s AS (
      SELECT CAST(n_nationkey + 10 AS BIGINT) AS n_nationkey, n_name,
             CAST((n_regionkey + 1) % 5 AS BIGINT) AS n_regionkey
      FROM nation
    )
    SELECT t.n_nationkey, UPPER(s.n_name) AS n_name, s.n_regionkey
    FROM t JOIN s ON t.n_nationkey = s.n_nationkey
    WHERE s.n_regionkey % 2 = 0
    UNION ALL
    SELECT t.n_nationkey, t.n_name || '_stale' AS n_name, t.n_regionkey
    FROM t ANTI JOIN s ON t.n_nationkey = s.n_nationkey
    WHERE t.n_nationkey >= 5
    UNION ALL
    SELECT s.n_nationkey, s.n_name, s.n_regionkey
    FROM s ANTI JOIN t ON s.n_nationkey = t.n_nationkey
    WHERE s.n_nationkey < 30
    """,
)
def delta_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE clause surface in ONE atomic commit: conditional
    WHEN MATCHED UPDATE, fall-through WHEN MATCHED DELETE, conditional
    WHEN NOT MATCHED INSERT, and both WHEN NOT MATCHED BY SOURCE forms
    (conditional DELETE, fall-through UPDATE) — Delta's documented
    first-applicable-clause evaluation order, exercised against an
    oracle that reconstructs every branch relationally.  The plain
    upsert (`merge_into`) stays the stats-pruned fast path; by-source
    clauses are whole-table by definition.  Reference parity: the
    reference's CDA output is consumed by exactly this kind of MERGE
    downstream (README.md:39-43)."""
    from guidewire_spark.sources.writer import merge_clauses

    table = scratch_dir("gw_mrgc_") + "/nation_delta"
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )
    write_delta(n, table, mode="append")
    source = n.select(
        (F.col("n_nationkey") + 10).alias("n_nationkey"),
        "n_name",
        ((F.col("n_regionkey") + 1) % 5).alias("n_regionkey"),
    )
    merge_clauses(
        spark,
        table,
        source,
        "n_nationkey",
        [
            {
                "when": "matched",
                "condition": "s.n_regionkey % 2 = 0",
                "update": {
                    "n_name": "upper(s.n_name)",
                    "n_regionkey": "s.n_regionkey",
                },
            },
            {"when": "matched", "condition": None, "delete": True},
            {
                "when": "not_matched",
                "condition": "s.n_nationkey < 30",
                "insert": None,
            },
            {
                "when": "not_matched_by_source",
                "condition": "t.n_nationkey < 5",
                "delete": True,
            },
            {
                "when": "not_matched_by_source",
                "condition": None,
                "update": {"n_name": "concat(t.n_name, '_stale')"},
            },
        ],
    )
    return read_delta(spark, table)


@query(
    "delta_matview_variance",
    oracle="""
    WITH final AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(CAST(s_acctbal AS DECIMAL(26,16)), 6) AS DECIMAL(18,6)) AS q
      FROM supplier
      UNION ALL
      SELECT s_suppkey + 900000, s_nationkey,
             CAST(ROUND(CAST(s_acctbal + 100.0 AS DECIMAL(26,16)), 6) AS DECIMAL(18,6))
      FROM supplier WHERE s_suppkey % 3 = 0
    ),
    kept AS (SELECT * FROM final WHERE s_suppkey % 7 <> 0),
    agg AS (
      SELECT s_nationkey,
             CAST(COUNT(*) AS BIGINT) AS view_count,
             CAST(SUM(q) AS DECIMAL(38,6)) AS vsum,
             CAST(SUM(CAST(q AS DECIMAL(19,6)) * q) AS DECIMAL(38,12)) AS vssq
      FROM kept GROUP BY s_nationkey
    )
    SELECT s_nationkey, view_count, CAST(vsum AS DOUBLE) AS vsum,
           CAST(ROUND(CAST(
             (CAST(vssq AS DOUBLE)
              - CAST(vsum AS DOUBLE) * CAST(vsum AS DOUBLE)
                / CAST(view_count AS DOUBLE))
             / (CAST(view_count AS DOUBLE) - 1.0)
           AS DECIMAL(24,10)), 4) AS DOUBLE) AS var_acctbal
    FROM agg WHERE view_count > 1
    """,
)
def delta_matview_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VARIANCE maintenance in the materialized view:
    decimal-quantized sum + sum-of-squares are maintained from the
    change feed through an append AND a merge-on-read DELETE (whose
    CDF rows subtract), and because decimal adds cancel EXACTLY where
    double adds drift, the refreshed components equal a from-scratch
    re-aggregate digit-for-digit — the oracle checks the raw decimal
    vsum and the derived sample variance.  The 100 TB shape: each
    refresh costs the changed rows plus |groups|, never a base rescan."""
    from guidewire_spark.sources.matview import (
        create_materialized_aggregate,
        read_materialized_aggregate,
        refresh_materialized_aggregate,
    )
    from guidewire_spark.sources.writer import delete_from_mor

    root = scratch_dir("gw_dmvv_")
    base, view = root + "/base", root + "/view"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    write_delta(s, base, mode="append")
    create_materialized_aggregate(
        spark,
        base,
        view,
        group_cols=["s_nationkey"],
        sum_cols=[],
        var_cols=["s_acctbal"],
    )
    write_delta(
        s.where(F.col("s_suppkey") % 3 == 0).select(
            (F.col("s_suppkey") + 900000).alias("s_suppkey"),
            "s_nationkey",
            (F.col("s_acctbal") + 100.0).alias("s_acctbal"),
        ),
        base,
        mode="append",
    )
    delete_from_mor(spark, base, "s_suppkey % 7 = 0")
    refresh_materialized_aggregate(spark, base, view)
    out = read_materialized_aggregate(spark, view)
    n = F.col("view_count").cast("double")
    sm = F.col("vsum_s_acctbal").cast("double")
    sq = F.col("vssq_s_acctbal").cast("double")
    return out.where(F.col("view_count") > 1).select(
        "s_nationkey",
        F.col("view_count").cast("long").alias("view_count"),
        # Internal maintenance stays DECIMAL (exact adds/cancels); the
        # output contract requires DOUBLE in the final select.
        F.col("vsum_s_acctbal").cast("double").alias("vsum"),
        stable_round((sq - sm * sm / n) / (n - F.lit(1.0)), 4)
        .alias("var_acctbal"),
    )


@query(
    "delta_matview_histogram",
    oracle="""
    WITH final AS (
      SELECT o_orderpriority AS grp,
             CAST(LEAST(FLOOR(o_totalprice / 25000.0), 15) AS BIGINT) AS bin
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderpriority,
             CAST(LEAST(FLOOR(o_totalprice / 25000.0), 15) AS BIGINT)
      FROM orders WHERE o_orderkey % 7 = 3
    ),
    hist AS (
      SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS view_count
      FROM final GROUP BY grp, bin
    ),
    cum AS (
      SELECT grp, bin, view_count,
             SUM(view_count) OVER (PARTITION BY grp ORDER BY bin) AS cum_n,
             SUM(view_count) OVER (PARTITION BY grp) AS total_n
      FROM hist
    )
    SELECT grp, bin, view_count,
           CAST(MIN(CASE WHEN cum_n * 2 >= total_n THEN bin END)
                OVER (PARTITION BY grp) AS BIGINT) AS p50_bin,
           CAST(MIN(CASE WHEN cum_n * 20 >= total_n * 19 THEN bin END)
                OVER (PARTITION BY grp) AS BIGINT) AS p95_bin
    FROM cum
    """,
)
def delta_matview_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental QUANTILES at 100 TB: a fixed-bin histogram is an
    exactly-mergeable, delete-invertible sketch, so maintaining
    per-(group, bin) counts as a materialized view gives percentile
    estimates that refresh from the change feed only — integer bin
    counts, no float drift, every step oracle-exact (unlike t-digest
    class sketches whose merge is order-sensitive).  The view refreshes
    through a copy-on-write DELETE (CDF subtracts) and a re-insert
    append; p50/p95 derive from the cumulative bin walk with exact
    integer comparisons (cum*2 >= n, cum*20 >= 19n)."""
    from guidewire_spark.sources.matview import (
        create_materialized_aggregate,
        refresh_materialized_aggregate,
    )
    from guidewire_spark.sources.writer import delete_from

    root = scratch_dir("gw_dmvh_")
    base, view = root + "/base", root + "/view"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.least(F.floor(F.col("o_totalprice") / 25000.0), F.lit(15))
        .cast("long")
        .alias("bin"),
    )
    write_delta(o, base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["grp", "bin"], sum_cols=[]
    )
    delete_from(spark, base, "o_orderkey % 7 = 0")
    refresh_materialized_aggregate(spark, base, view)
    write_delta(o.where(F.col("o_orderkey") % 7 == 3), base, mode="append")
    refresh_materialized_aggregate(spark, base, view)

    hist = read_delta(spark, view).select("grp", "bin", "view_count")
    w_cum = (
        Window.partitionBy("grp").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp")
    cum = hist.withColumn("cum_n", F.sum("view_count").over(w_cum)).withColumn(
        "total_n", F.sum("view_count").over(w_all)
    )
    return cum.select(
        "grp",
        "bin",
        "view_count",
        F.min(
            F.when(F.col("cum_n") * 2 >= F.col("total_n"), F.col("bin"))
        ).over(w_all).cast("long").alias("p50_bin"),
        F.min(
            F.when(F.col("cum_n") * 20 >= F.col("total_n") * 19, F.col("bin"))
        ).over(w_all).cast("long").alias("p95_bin"),
    )


@query(
    "delta_protocol_features",
    oracle="""
    SELECT * FROM (VALUES
      (0, 1, 2, ''),
      (1, 3, 7,
       'r:deletionVectors|w:appendOnly,deletionVectors,invariants'),
      (2, 3, 7,
       'r:deletionVectors|w:appendOnly,deletionVectors,domainMetadata,invariants,rowTracking'),
      (3, 3, 7,
       'r:deletionVectors,typeWidening|w:appendOnly,deletionVectors,domainMetadata,invariants,rowTracking,typeWidening')
    ) AS t(step, min_reader, min_writer, features)
    """,
)
def delta_protocol_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol feature advertisement, driver-checked: each
    feature-bearing commit upgrades the table protocol exactly once
    (MOR delete → deletionVectors reader+writer with implied legacy
    features; row tracking → rowTracking+domainMetadata; type widening
    → typeWidening both sides), a repeat feature commit adds nothing,
    and the snapshot retains the features form.  An external reader
    depends on this row-for-row: a DV table advertised at (1,2) reads
    deleted rows back to life."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_row_tracking,
        widen_column_type,
    )

    table = scratch_dir("gw_proto_") + "/nat"
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, table, mode="append")

    rows = []

    def snapshot_row(step: int) -> None:
        p = load_snapshot(table).protocol
        feats = ""
        if p.get("readerFeatures") or p.get("writerFeatures"):
            feats = (
                "r:" + ",".join(sorted(p.get("readerFeatures") or []))
                + "|w:" + ",".join(sorted(p.get("writerFeatures") or []))
            )
        rows.append(
            (step, int(p["minReaderVersion"]), int(p["minWriterVersion"]), feats)
        )

    snapshot_row(0)
    delete_from_mor(spark, table, "n_nationkey % 7 = 0")
    snapshot_row(1)
    enable_row_tracking(table)
    delete_from_mor(spark, table, "n_nationkey % 11 = 3")  # repeat: no change
    snapshot_row(2)
    widen_column_type(table, "n_nationkey", "bigint")
    snapshot_row(3)
    return spark.createDataFrame(
        rows, "step int, min_reader int, min_writer int, features string"
    )


@query(
    "delta_bloom_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey IN (1, 2, 3, 4)
    """,
)
def delta_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter index end to end (sources/bloom.py): orders lands
    as a 16-file Delta table with NO ordering on the key, so min/max
    stats cannot skip anything for a point probe — every file's
    [min, max] straddles it.  CREATE BLOOMFILTER INDEX builds one
    xxhash64 double-hashed bitset sidecar per file (executor-side);
    the IN-list lookup then tests each file's filter and opens only
    survivors.  Each probed key lives in exactly one file, so the
    4-key probe must prune MOST of the 16 files — asserted inline
    before returning rows (at fpp=0.01 the expected kept count is
    ~4 + 12*0.04).  Correctness is prune-set-independent: blooms have
    no false negatives and the residual IN filter re-runs exactly, so
    the oracle is the plain predicate on the source table."""
    from guidewire_spark.sources.bloom import (
        bloom_kept_files,
        create_bloom_index,
        read_bloom_filtered,
    )
    from guidewire_spark.sources.snapshot import load_snapshot

    table = scratch_dir("gw_bloom_") + "/orders_delta"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(14,2)").alias("total_price"),
    )
    write_delta(o.repartition(16), table, mode="append")
    create_bloom_index(spark, table, ["o_orderkey"], fpp=0.01)
    keys = [1, 2, 3, 4]
    kept = bloom_kept_files(spark, table, "o_orderkey", keys)
    n_files = load_snapshot(table).num_files
    if len(kept) >= n_files // 2:
        raise AssertionError(
            f"bloom kept {len(kept)}/{n_files} files — index not pruning"
        )
    # stored column stays DECIMAL (exact stats); output contract DOUBLE
    return read_bloom_filtered(spark, table, "o_orderkey", keys).select(
        "o_orderkey",
        "o_custkey",
        F.col("total_price").cast("double").alias("total_price"),
    )


@query(
    "delta_cdf_by_timestamp",
    oracle="""
    SELECT s_suppkey, 'delete' AS _change_type
    FROM supplier WHERE s_suppkey % 7 = 2 AND NOT s_suppkey % 5 = 1
    """,
)
def delta_cdf_by_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF by time window (startingTimestamp/endingTimestamp): with
    in-commit timestamps enabled the commit clock is monotonic and
    skew-proof, so a consumer can subscribe by TIME — "changes since
    when I last looked" — instead of tracking version counters.  Two
    MOR deletes land; the window opens exactly at the second delete's
    in-commit timestamp and must emit ONLY its fresh deaths (%7=2 not
    already killed by %5=1), never the first delete's rows or any
    whole-file churn."""
    from guidewire_spark.sources.snapshot import (
        _commit_timestamp,
        read_delta_changes_by_timestamp,
    )
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_in_commit_timestamps,
    )

    table = scratch_dir("gw_cdft_") + "/supplier_delta"
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, table, mode="append")
    enable_in_commit_timestamps(table)
    delete_from_mor(spark, table, "s_suppkey % 5 = 1")
    v_second = delete_from_mor(spark, table, "s_suppkey % 7 = 2")
    since = _commit_timestamp(table, v_second)
    return read_delta_changes_by_timestamp(
        spark, table, from_timestamp=since
    ).select("s_suppkey", "_change_type")


@query(
    "delta_auto_optimize",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           CAST(CAST(s_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS bal
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
)
def delta_auto_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-optimize end to end (Delta's
    ``delta.autoOptimize.optimizeWrite`` + ``autoCompact`` table
    properties): a partitioned table receives a many-task append —
    optimized write's pre-shuffle stages exactly ONE file per
    partition value (asserted) — then a burst of tiny unclustered
    appends trips auto compaction, which bin-packs the small-file
    tail in a follow-up dataChange=false commit (asserted: live file
    count collapses while row fidelity holds).  At 100 TB these two
    knobs are what keep a continuously-ingesting table readable
    without a human running OPTIMIZE: writes pay one exchange,
    compaction rewrites only the sliver tail, and the oracle verifies
    the data came through both paths byte-equal."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import set_table_properties

    table = scratch_dir("gw_autoopt_") + "/supp"
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.col("s_acctbal").cast("decimal(14,2)").cast("double").alias("bal"),
    ).where("s_suppkey % 2 = 1")
    first = s.where("s_suppkey % 5 = 0")
    write_delta(first, table, mode="append", partition_by=["s_nationkey"])
    set_table_properties(
        table, {"delta.autoOptimize.optimizeWrite": "true"}
    )
    base = load_snapshot(table).num_files
    second = s.where("s_suppkey % 5 = 1")
    write_delta(
        second.repartition(8), table, mode="append",
        partition_by=["s_nationkey"],
    )
    snap = load_snapshot(table)
    values = {r[0] for r in second.select("s_nationkey").distinct().collect()}
    if snap.num_files - base != len(values):
        raise AssertionError(
            f"optimized write staged {snap.num_files - base} files for "
            f"{len(values)} partition values"
        )
    # now enable compaction and burst tiny appends: each lands
    # ≤ |values| slivers; the threshold trips and auto compaction
    # bin-packs the tail in a follow-up commit
    set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "3",
        },
    )
    for m in (2, 3, 4):
        write_delta(
            s.where(f"s_suppkey % 5 = {m}"),
            table,
            mode="append",
            partition_by=["s_nationkey"],
        )
    compacted = load_snapshot(table)
    # The invariant auto compaction guarantees, at every scale, on a
    # partitioned table: no PARTITION VALUE ends an append holding
    # >= minNumFiles small files — either its tail never tripped the
    # threshold or the follow-up commit bin-packed it.
    from collections import Counter

    per_part = Counter(
        tuple(sorted(compacted.adds[p]["partitionValues"].items()))
        for p in compacted.files
        if compacted.adds[p].get("size", 0) < 16 * 1024 * 1024
    )
    worst = max(per_part.values(), default=0)
    if worst >= 3:
        raise AssertionError(
            f"auto compaction left a partition with {worst} small files"
        )
    return read_delta(spark, table)
