"""The index pipeline (reference parity: P2/P6/P8/P14,
``Guidewire.scala:28-194``): manifest → per-table commit discovery →
batch assembly → Delta log generation → checkpoints.

Architecture note (Spark-first): every step here is *metadata* work —
S3/FS listings, one footer read per fingerprint, tiny JSON writes.
The reference burns a Spark task per table for this
(``Guidewire.scala:71-74``); a thread pool keyed by table gives the
same per-table parallelism and single-writer-per-table guarantee
without occupying executors, which stay free for real query work.
The *data* never moves — that is the shallow-clone design
(``README.md:27-28``): the generated log points at the source
parquet in place, and all heavy lifting happens later inside
Spark's scan of those files.
"""

from __future__ import annotations

import logging
import shutil
import time
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import types as T

from guidewire_spark.sources import checkpoints as ckpt
from guidewire_spark.sources.deltalog import (
    add_action,
    commit,
    metadata_action,
    protocol_action,
    remove_action,
)
from guidewire_spark.sources.fs import FileMeta, list_parquet_files, list_timestamp_dirs
from guidewire_spark.sources.manifest import ManifestEntry, read_manifest
from guidewire_spark.sources.schema import infer_schema_from_files
from guidewire_spark.sources.snapshot import load_snapshot_or_empty

logger = logging.getLogger(__name__)

LONG_MAX = (1 << 63) - 1


@dataclass(frozen=True)
class Batch:
    """One Delta commit to generate (``package.scala:27-32``)."""

    schema_id: str
    commit_timestamp: int
    files: list[FileMeta]
    schema: T.StructType | None  # present ⇒ CREATE_TABLE / UPGRADE_SCHEMA


@dataclass(frozen=True)
class BatchResult:
    """Checkpoint row (``package.scala:34-38``)."""

    schema_id: str
    commit_timestamp: int
    num_files: int


def discover_batches(
    entry: ManifestEntry,
    last_processed_timestamp: int,
    enforce_guidewire_timestamp: bool = True,
) -> list[Batch]:
    """Commit discovery + filter + schema sniff (``Guidewire.scala:124-181``).

    * fingerprints ordered by schemaHistory timestamp (:125)
    * committed = ts <= lastSuccessfulWriteTimestamp, or Long.Max when
      the manifest is not trusted — EDGE CASE#1 (:111-118, :134-137)
    * unprocessed = ts > checkpoint high-water mark (:138)
    * schema sniffed only when a fingerprint's overall-first folder
      survives the filters (zipWithIndex precedes the filters, :133-167)
    * empty committed folders yield no batch (:148-150)
    """
    last_successful = (
        entry.last_successful_write_timestamp if enforce_guidewire_timestamp else LONG_MAX
    )
    base = entry.normalized_data_files_path
    batches: list[Batch] = []
    for fingerprint in entry.fingerprints_in_order():
        schema_dir = f"{base}/{fingerprint}"
        # sink-extension per-fingerprint gate (ManifestEntry docstring):
        # the shared table watermark can run ahead of a crashed
        # stream's own epoch, and indexing on it alone would commit
        # that stream's part-filled folder; reference manifests carry
        # no epochWatermarks and gate on last_successful as before.
        # A PRESENT-but-unparseable epoch value leaves this
        # fingerprint's gate undefined — indexing under the (wider)
        # shared watermark could durably commit junk into Delta, so
        # refuse loudly instead of silently widening the gate.
        if enforce_guidewire_timestamp and entry.epoch_gate_is_corrupt(
            fingerprint
        ):
            raise ValueError(
                f"manifest epochWatermarks value for fingerprint "
                f"{fingerprint!r} (table dir {base!r}) is present but "
                "unparseable — its commit gate is undefined, and "
                "indexing under the shared table watermark could "
                "commit a crashed stream's part-filled folder into "
                "Delta. Restore the manifest or remove the corrupt "
                "field deliberately."
            )
        fp_last = min(
            last_successful,
            entry.epoch_watermarks.get(fingerprint, last_successful),
        ) if enforce_guidewire_timestamp else LONG_MAX
        all_timestamps = list_timestamp_dirs(schema_dir)  # sorted ascending
        for j, ts in enumerate(all_timestamps):
            if ts > fp_last or ts <= last_processed_timestamp:
                continue
            files = list_parquet_files(f"{schema_dir}/{ts}")
            if not files:
                logger.error("no data files in committed folder %s/%s", schema_dir, ts)
                continue
            schema = None
            if j == 0:
                # First folder of this fingerprint overall → new schema.
                schema = infer_schema_from_files(files)
            batches.append(Batch(fingerprint, ts, files, schema))
    # Already ordered (fingerprint index, commit index) by construction,
    # mirroring the sortBy at Guidewire.scala:177-181.
    return batches


def commit_batches(
    table_path: str,
    batches: list[Batch],
    collect_stats: bool = False,
) -> list[BatchResult]:
    """Generate one Delta version per batch (``Guidewire.scala:211-246``).

    Schema-bearing batch ⇒ remove-all + add + metaData, operation
    CREATE_TABLE (fresh log) or UPGRADE_SCHEMA; otherwise a blind
    append WRITE. Commit shapes match the reference goldens
    (``/root/reference/src/test/resources/delta/*.json``).

    The table's snapshot is loaded once, and only when there is a
    batch to commit; each batch commits through ``deltalog.commit`` on
    it and carries the returned snapshot (``snap = commit(snap, ...)``),
    so the log is never replayed between batches — an initial index of
    N folders writes N commits and reads no commit back.  The stats
    spec comes from the carried snapshot too.  The indexer runs one
    writer per table, so only misuse loses a commit race: a blind
    append then rebases past a winner that added other files; a winner
    that already added the same files (two indexers from one
    high-water mark), or any lost non-blind commit, raises
    ``ConcurrentModificationException`` naming the table and version.

    Log checkpoints follow ``write_commit``'s one rule
    (``delta.checkpointInterval``, default every 10th version), so a
    cold reader's replay stays one parquet + a short JSON tail as CDA
    syncs accumulate versions.
    """
    results: list[BatchResult] = []
    if not batches:
        return results
    snap = load_snapshot_or_empty(table_path)
    for batch in batches:
        now = int(time.time() * 1000)
        actions: list[dict] = []
        # Optional data-skipping stats (SURVEY §4: the reference writes
        # stats=null; footer-only reads keep this metadata-only).
        stats = {}
        if collect_stats:
            from guidewire_spark.sources.stats import stats_for_files, stats_spec

            stats = stats_for_files(batch.files, stats_spec(snap.configuration))
        if batch.schema is not None:
            if snap.version < 0:
                # CREATE TABLE: fresh log starts with the protocol action.
                actions.append(protocol_action())
            else:
                # UPGRADE SCHEMA: logically overwrite — remove every file
                # of the current snapshot (Guidewire.scala:221-237).
                actions.extend(remove_action(p, now) for p in snap.files)
            actions.append(metadata_action(batch.schema, created_time=now))
            mode, blind = "Overwrite", False
        else:
            if snap.version < 0:
                # Blind append onto a table with no log yet: bootstrap
                # protocol+metadata from the batch files so the log replays.
                actions.append(protocol_action())
                schema = infer_schema_from_files(batch.files)
                if schema is not None:
                    actions.append(metadata_action(schema, created_time=now))
            mode, blind = "Append", True
        actions.extend(
            add_action(f.path, f.size, f.modification_time, stats=stats.get(f.path))
            for f in batch.files
        )
        snap = commit(snap, "WRITE", mode, actions, now, blind=blind)
        results.append(BatchResult(batch.schema_id, batch.commit_timestamp, len(batch.files)))
    return results


def process_table(
    table_name: str,
    entry: ManifestEntry,
    database_path: str,
    last_processed_timestamp: int,
    enforce_guidewire_timestamp: bool,
    collect_stats: bool = False,
) -> tuple[str, list[BatchResult]]:
    """One table's end-to-end unit of work (executor body,
    ``Guidewire.scala:96-194``)."""
    batches = discover_batches(
        entry, last_processed_timestamp, enforce_guidewire_timestamp
    )
    table_path = os.path.join(database_path, table_name)
    # Checkpoint exists: append (Guidewire.scala:183-186).  No checkpoint
    # (or overwrite): rebuild the log from scratch (saveDeltaLogOverwrite,
    # Guidewire.scala:198-209).
    if last_processed_timestamp <= 0 and os.path.exists(table_path):
        shutil.rmtree(table_path)
    return table_name, commit_batches(table_path, batches, collect_stats)


def index(
    manifest_uri: str,
    database_path: str,
    save_mode: str = "append",
    enforce_guidewire_timestamp: bool = True,
    max_workers: int | None = None,
    collect_stats: bool = False,
) -> dict[str, list[BatchResult]]:
    """Top-level pipeline (``Guidewire.scala:28-52``): checkpoints →
    manifest → per-table fan-out → Delta logs → save checkpoints.

    ``save_mode``: 'append' (incremental, resumes from checkpoints) or
    'overwrite' (full rebuild) — anything else raises, mirroring the
    SaveMode validation at :38-42.
    """
    save_mode = save_mode.lower()
    if save_mode not in ("append", "overwrite"):
        raise ValueError(f"save mode {save_mode!r} not supported (append|overwrite)")

    # one snapshot of the checkpoint table: the high-water marks read
    # here and the save commit at the end both use it
    ckpt_base = load_snapshot_or_empty(ckpt.checkpoints_path(database_path))
    checkpoints = ckpt.high_water_marks(ckpt_base) if save_mode == "append" else {}
    manifest = read_manifest(manifest_uri)
    os.makedirs(database_path, exist_ok=True)

    # Per-table fan-out with a one-writer-per-table guarantee: each
    # table is exactly one task (mirrors repartition(manifest.size),
    # Guidewire.scala:71-74).
    workers = max_workers or min(len(manifest) or 1, 32)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [
            pool.submit(
                process_table,
                name,
                entry,
                database_path,
                checkpoints.get(name, -1),
                enforce_guidewire_timestamp,
                collect_stats,
            )
            for name, entry in manifest.items()
        ]
        results = dict(f.result() for f in futures)

    ckpt.save_checkpoints(results, ckpt_base, save_mode)
    return results
