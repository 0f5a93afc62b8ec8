"""Delta snapshot reconstruction + time travel (the read side).

The reference delegates reads to delta-core; this engine replays the
transaction log in Python (driver-side metadata, tiny) and hands the
resolved file list to ``spark.read.parquet`` — so the actual scan is
a stock vectorized parquet scan with full Catalyst pushdown. Time
travel (``versionAsOf`` / ``timestampAsOf``) mirrors the contract
documented at ``/root/reference/README.md:79-84``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from guidewire_spark.sources.deltalog import delta_log_dir, list_versions

PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"

# Row tracking: the public Delta protocol's materialized-row-id
# channel. When a rewrite (REORG PURGE / OPTIMIZE) would move rows to
# new files, their stable ids are first written INTO the files as a
# physical column named by this table property; readers coalesce the
# materialized value with the default id (baseRowId + row index), so
# ids survive compaction — the same mechanism Delta proper uses.
MATERIALIZED_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
DEFAULT_MATERIALIZED_ROW_ID_COL = "_row_id_materialized"


def physical_name(f: T.StructField) -> str:
    """Column mapping (Delta mode=name): a renamed column keeps its
    original *physical* parquet name in field metadata; unmapped
    fields are physically named by their logical name."""
    return (f.metadata or {}).get(PHYSICAL_NAME_KEY, f.name)


def read_files_with_schema(
    spark: SparkSession, schema: T.StructType | None, paths: list[str]
) -> DataFrame:
    """Read parquet files under a logical schema, resolving column
    mapping: the scan requests physical names (so files written before
    a RENAME COLUMN still bind), then aliases back to logical names.
    DROPped columns simply aren't requested — neither operation ever
    rewrites data."""
    if schema is None:
        return spark.read.parquet(*paths)
    mapped = any(physical_name(f) != f.name for f in schema.fields)
    if not mapped:
        return spark.read.schema(schema).parquet(*paths)
    from pyspark.sql import functions as F

    phys = T.StructType(
        [
            # field metadata rides along: EXISTS_DEFAULT must reach the
            # parquet reader for files missing a defaulted column
            T.StructField(
                physical_name(f), f.dataType, f.nullable, metadata=f.metadata
            )
            for f in schema.fields
        ]
    )
    return spark.read.schema(phys).parquet(*paths).select(
        *[F.col(physical_name(f)).alias(f.name) for f in schema.fields]
    )


@dataclass
class DeltaSnapshot:
    table_path: str
    version: int
    schema: T.StructType | None
    files: list[str] = field(default_factory=list)
    commit_timestamps: dict[int, int] = field(default_factory=dict)
    # the one per-file record: each live file's add action body by
    # path, as committed minus the per-commit dataChange flag, with
    # partitionValues always a dict (size, modificationTime, stats,
    # deletionVector, baseRowId ride along; a log checkpoint rewrites
    # it verbatim)
    adds: dict[str, dict] = field(default_factory=dict)
    metadata_id: str | None = None
    partition_columns: list[str] = field(default_factory=list)
    # latest metaData.configuration AS OF this snapshot's version —
    # version-pinned, so time travel sees the config of its era
    configuration: dict[str, str] = field(default_factory=dict)
    # live domainMetadata actions: domain name → configuration string
    # (a removed=true action deletes its domain)
    domains: dict[str, str] = field(default_factory=dict)
    # SetTransaction high-water marks: appId → latest txn version —
    # carried through checkpoints so idempotent writers survive log
    # retention (expire_log deletes the JSON trail they once walked)
    txns: dict[str, int] = field(default_factory=dict)
    # last protocol action AS OF this version (table-features form
    # preserved) — writers consult it before advertising new features
    protocol: dict = field(
        default_factory=lambda: {"minReaderVersion": 1, "minWriterVersion": 2}
    )

    @property
    def num_files(self) -> int:
        return len(self.files)

    def __fspath__(self) -> str:
        """The commit file of this version, ``_delta_log/<v>.json`` —
        a post-commit snapshot stands for the file ``write_commit``
        wrote (perfbench's commit counter sizes it)."""
        return os.path.join(
            delta_log_dir(self.table_path), f"{self.version:020d}.json"
        )

    def deletion_vectors(self, paths=None) -> dict[str, dict]:
        """Live deletion-vector descriptors by path, over ``paths``
        (default: every live file) — the map ``sources.dv`` applies.
        Built on each call: hoist it out of per-file loops."""
        out = {}
        for p in self.files if paths is None else paths:
            dv = self.adds[p].get("deletionVector")
            if dv is not None:
                out[p] = dv
        return out

    def metadata_count(self) -> int | None:
        """COUNT(*) answered from add.stats alone — no file is opened.
        Returns None when any live file lacks numRecords (the count
        must then fall back to a scan; never guess). At 100 TB this is
        the difference between instant and a full-table scan — the
        same metadata-only count optimization Delta performs.
        Deletion-vector rows are subtracted via the descriptor's
        cardinality — still metadata-only."""
        total = 0
        for path in self.files:
            add = self.adds[path]
            raw = add.get("stats")
            n = json.loads(raw).get("numRecords") if raw else None
            if n is None:
                return None
            dv = add.get("deletionVector") or {}
            total += n - int(dv.get("cardinality", 0))
        return total

    def pruned_files(self, column: str, lo=None, hi=None) -> list[str]:
        """Data skipping: files that may contain rows with
        ``lo <= column <= hi`` per their ``add.stats`` (files without
        stats are always kept — skipping is sound, never lossy)."""
        from guidewire_spark.sources.stats import prune_files

        stats = {p: self.adds[p].get("stats") for p in self.files}
        return prune_files(stats, self.files, column, lo, hi)


def _read_commit(table_path: str, version: int) -> list[dict]:
    path = os.path.join(delta_log_dir(table_path), f"{version:020d}.json")
    actions = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                actions.append(json.loads(line))
    return actions


def empty_snapshot(table_path: str) -> DeltaSnapshot:
    """The state of a table with no log: version -1, nothing live —
    the base a table's first commit is built against."""
    return DeltaSnapshot(table_path=table_path, version=-1, schema=None)


def load_snapshot_or_empty(table_path: str) -> DeltaSnapshot:
    """``load_snapshot(table_path)``, or ``empty_snapshot`` when the
    table has no log yet."""
    try:
        return load_snapshot(table_path)
    except FileNotFoundError:
        return empty_snapshot(table_path)


def apply_actions(snap: DeltaSnapshot, version: int, actions: list[dict]) -> None:
    """The replay rule: apply commit ``version``'s actions to ``snap``
    IN PLACE.  ``snap.files`` is left to the caller, which re-derives
    it once from ``snap.adds`` (sorting per commit would make a long
    replay quadratic).  It is the only rule: ``load_snapshot`` replays
    every JSON commit through here, a log checkpoint's rows seed the
    state through here (``log_checkpoint.load_checkpoint_state``), and
    ``deltalog.write_commit`` advances its base through here, so all
    three agree by construction."""
    snap.version = version
    for action in actions:
        if "add" in action:
            # re-adding a path REPLACES its record, deletion vector and
            # baseRowId included (a MOR delete carries the merged
            # descriptor; a plain re-add after OPTIMIZE/purge carries
            # none and clears it)
            add = {k: v for k, v in action["add"].items() if k != "dataChange"}
            add["partitionValues"] = add.get("partitionValues") or {}
            snap.adds[add["path"]] = add
        elif "remove" in action:
            snap.adds.pop(action["remove"]["path"], None)
        elif "metaData" in action:
            meta = action["metaData"]
            snap.schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
            snap.metadata_id = meta.get("id")
            snap.partition_columns = meta.get("partitionColumns") or []
            snap.configuration = dict(meta.get("configuration") or {})
        elif "txn" in action:
            t = action["txn"]
            if t.get("appId") is not None and t.get("version") is not None:
                prev_txn = snap.txns.get(t["appId"])
                if prev_txn is None or t["version"] > prev_txn:
                    snap.txns[t["appId"]] = int(t["version"])
        elif "protocol" in action:
            from guidewire_spark.sources.deltalog import check_reader_protocol

            check_reader_protocol(action["protocol"], snap.table_path)
            snap.protocol = dict(action["protocol"])
        elif "domainMetadata" in action:
            dm = action["domainMetadata"]
            if dm.get("removed"):
                snap.domains.pop(dm["domain"], None)
            else:
                snap.domains[dm["domain"]] = dm.get("configuration") or ""
        elif "commitInfo" in action:
            snap.commit_timestamps[version] = _commit_info_timestamp(action["commitInfo"])


def advance_snapshot(
    base: DeltaSnapshot, version: int, actions: list[dict]
) -> DeltaSnapshot:
    """A new snapshot: ``base`` with commit ``version`` applied.
    ``base`` itself is left as it was (its dicts are copied, not
    shared), so a caller still holding it keeps a consistent view."""
    snap = replace(base, **{
        f.name: dict(getattr(base, f.name))
        for f in fields(base)
        if isinstance(getattr(base, f.name), dict)
    })
    apply_actions(snap, version, actions)
    snap.files = sorted(snap.adds)
    return snap


def load_snapshot(
    table_path: str,
    version: int | None = None,
    timestamp: int | None = None,
) -> DeltaSnapshot:
    """Replay the log up to ``version`` (or the last commit whose
    commitInfo timestamp is <= ``timestamp``; default: latest): seed
    from the newest usable checkpoint at or before it, then apply each
    later JSON commit with ``apply_actions``.  ``commit_timestamps``
    holds the replayed JSON commits only.

    This is the cold path — reading a table someone else committed.
    A writer never reloads to learn what it just committed:
    ``deltalog.write_commit`` returns the post-commit snapshot."""
    from guidewire_spark.sources.log_checkpoint import (
        checkpoint_files,
        load_checkpoint_state,
        read_last_checkpoint,
    )

    versions = list_versions(table_path)
    ckpt_version = read_last_checkpoint(table_path)
    if ckpt_version is not None and not checkpoint_files(
        table_path, ckpt_version
    ):
        ckpt_version = None  # stale marker / partial parts; full replay
    if not versions and ckpt_version is None:
        raise FileNotFoundError(f"no Delta log at {table_path}")

    if timestamp is not None and version is None:
        chosen = [v for v in versions if _commit_timestamp(table_path, v) <= timestamp]
        if not chosen:
            raise ValueError(f"no version at or before timestamp {timestamp}")
        version = chosen[-1]
    if version is None:
        version = max(versions[-1] if versions else -1,
                      ckpt_version if ckpt_version is not None else -1)
    if version not in versions and version != ckpt_version:
        raise ValueError(f"version {version} not in {table_path} (have {versions})")

    if ckpt_version is not None and ckpt_version <= version:
        # O(1) replay: seed from the checkpoint parquet, then apply
        # only the JSON tail — instead of O(versions) JSON reads.
        snap = load_checkpoint_state(table_path, ckpt_version)
    elif versions[0] > 0:
        # log retention removed the commits before the JSON tail and
        # the checkpoint that replaced them is newer than ``version``
        raise ValueError(
            f"version {version} of {table_path} cannot be reconstructed: "
            f"the log starts at version {versions[0]} with no checkpoint "
            "at or before it"
        )
    else:
        snap = empty_snapshot(table_path)
    for v in versions:
        if v <= snap.version:
            continue
        if v > version:
            break
        apply_actions(snap, v, _read_commit(table_path, v))
    snap.version = version
    snap.files = sorted(snap.adds)
    return snap


def _commit_info_timestamp(info: dict) -> int:
    """A ``commitInfo`` body's effective timestamp: the in-commit
    timestamp when present (monotonic, clock-skew-proof), else the
    wall-clock ``timestamp``."""
    return info.get("inCommitTimestamp", info.get("timestamp", 0))


def _commit_timestamp(table_path: str, version: int) -> int:
    """Commit ``version``'s effective timestamp (0 without a
    ``commitInfo``): what TIMESTAMP AS OF and the change feed's time
    window resolve versions by."""
    for action in _read_commit(table_path, version):
        if "commitInfo" in action:
            return _commit_info_timestamp(action["commitInfo"])
    return 0


def read_delta_changes_by_timestamp(
    spark: SparkSession,
    table_path: str,
    from_timestamp: int,
    to_timestamp: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Change Data Feed by time window (Delta's startingTimestamp /
    endingTimestamp): changes from the first commit at-or-after
    ``from_timestamp`` through the last commit at-or-before
    ``to_timestamp`` (default: latest), both inclusive — resolved to
    versions with the same ICT-over-wall-clock precedence as
    TIMESTAMP AS OF, then delegated to the version-based reader.
    Raises when ``from_timestamp`` lies beyond the last commit
    (Delta's timestamp-too-late error) rather than returning an
    empty-but-plausible feed."""
    versions = list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {table_path}")
    ts_of = {v: _commit_timestamp(table_path, v) for v in versions}
    starts = [v for v in versions if ts_of[v] >= from_timestamp]
    if not starts:
        raise ValueError(
            f"from_timestamp {from_timestamp} is after the last commit "
            f"({max(ts_of.values())}) of {table_path}"
        )
    ends = (
        [v for v in versions if ts_of[v] <= to_timestamp]
        if to_timestamp is not None
        else versions
    )
    if not ends or ends[-1] < starts[0]:
        # a window that closes before it opens holds no commits
        return read_delta_changes(
            spark, table_path, versions[-1], versions[-1], with_row_ids
        )
    return read_delta_changes(
        spark, table_path, starts[0] - 1, ends[-1], with_row_ids
    )


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Change Data Feed, file-granularity: every row added or removed
    in versions (from_version, to_version], tagged ``_change_type``
    ('insert' / 'delete') and ``_commit_version`` — what Delta's CDF
    materializes when no fine-grained change files exist. A rewritten
    row (OPTIMIZE/MERGE) appears as delete+insert; ``dataChange=false``
    actions (pure compaction) are excluded, so OPTIMIZE emits no
    changes — matching Delta, which doesn't re-trigger CDF consumers
    on compaction.

    This is the incremental-subscribe story (reference README.md:39-43)
    without an always-on stream: consumers poll the log's version
    counter and read exactly the delta.

    The state at ``from_version`` loads once and each commit of the
    window replays onto it through :func:`apply_actions`, keeping the
    ``add`` records of the paths the commit touches as they were
    before and after it.  The rows are then read through
    :func:`scan_live_files` under those records, one scan per version
    and kind:

    * a removed path that was live emits its live rows as deletes;
    * an added path emits its live rows as inserts;
    * a path removed and re-added with a deletion vector on either
      side (MOR DELETE/UPDATE, RESTORE) emits the row-level diff: rows
      live before but not after as deletes, rows live after but not
      before as inserts, anti-joined on (file, row index) on the
      executors.

    Columns are the table's at the window's last version, then
    ``_row_id`` when ``with_row_ids`` (row-tracked tables only: the
    stable id that correlates a MOR UPDATE's delete/insert pair), then
    ``_change_type`` and ``_commit_version``.  A window at or beyond
    the last version is an empty feed of those columns; one whose
    commits log retention has expired raises ``ValueError``.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    from guidewire_spark.sources.dv import META_FILE, META_ROW

    def touched(actions: list[dict], kind: str) -> list[str]:
        return [
            a[kind]["path"]
            for a in actions
            if kind in a and a[kind].get("dataChange", True)
        ]

    present = list_versions(table_path)
    last = present[-1] if present else -1
    if to_version is not None:
        last = min(last, to_version)
    window = [v for v in present if from_version < v <= last]
    if not window:
        snap = load_snapshot(table_path)
    else:
        expired = (
            f"cannot read the changes of {table_path} after version "
            f"{from_version}: log retention expired that state; the first "
            f"version still present is {present[0]}"
        )
        if window[0] != from_version + 1:
            raise ValueError(expired)
        try:
            snap = (
                load_snapshot(table_path, version=from_version)
                if from_version >= 0
                else empty_snapshot(table_path)
            )
        except (ValueError, FileNotFoundError) as e:
            raise ValueError(expired) from e
    changes = []
    for v in window:
        actions = _read_commit(table_path, v)
        before = {p: snap.adds[p] for p in touched(actions, "remove") if p in snap.adds}
        apply_actions(snap, v, actions)
        after = {p: snap.adds[p] for p in touched(actions, "add") if p in snap.adds}
        changes.append((v, before, after))

    cols = snap.schema.fieldNames() if snap.schema else []
    cols += ["_row_id"] if with_row_ids else []

    def read(records: dict[str, dict], file_keys: bool = False) -> DataFrame:
        part = replace(snap, adds=records, files=sorted(records))
        return scan_live_files(
            spark, part, part.files, row_ids=with_row_ids, file_keys=file_keys
        )

    def tagged(df: DataFrame, kind, version) -> DataFrame:
        return df.select(
            *cols,
            F.lit(kind).cast("string").alias("_change_type"),
            F.lit(version).cast("long").alias("_commit_version"),
        )

    frames = []
    for v, before, after in changes:
        vector = {
            p for p in before.keys() & after.keys()
            if before[p].get("deletionVector") or after[p].get("deletionVector")
        }
        if vector:
            keys = [META_FILE, META_ROW]
            old = read({p: before[p] for p in vector}, file_keys=True)
            new = read({p: after[p] for p in vector}, file_keys=True)
            frames.append(tagged(old.join(new.select(keys), keys, "left_anti"), "delete", v))
            frames.append(tagged(new.join(old.select(keys), keys, "left_anti"), "insert", v))
        for kind, records in (("delete", before), ("insert", after)):
            plain = {p: r for p, r in records.items() if p not in vector}
            if plain:
                frames.append(tagged(read(plain), kind, v))
    if not frames:
        frames.append(tagged(read({}), None, None))
    return reduce(DataFrame.unionByName, frames)


def scan_live_files(
    spark: SparkSession,
    snap: DeltaSnapshot,
    paths: list[str],
    *,
    row_ids: bool = False,
    file_keys: bool = False,
) -> DataFrame:
    """The live files ``paths`` of ``snap`` as a DataFrame of the
    table's columns, deletion vectors applied — the one reader every
    read and rewrite goes through.

    Hive-layout files don't store partition columns: files are grouped
    by ``partitionValues`` (groups in sorted order, a None value — the
    Hive default partition — last), each group scanned under the data
    schema with its partition columns filled as cast literals, and the
    groups unioned, so the plan has one scan per partition read.  Plain
    files and vectored ones scan apart: vectored ones through the
    (file, row index) scan anti-joined against their dead rows, plain
    ones through the stock scan, or the (file, row index) scan when
    ids or keys are asked for, whose row index Spark prunes when
    nothing reads it.

    ``row_ids=True`` adds the stable ``_row_id`` (Delta row tracking):
    ``coalesce(materialized, baseRowId + row index)`` — files that
    carry the materialized column named by the table configuration
    (written by id-preserving rewrites) keep their preserved ids, the
    rest read NULL there and fall back to the default.  Every file must
    carry a ``baseRowId``.  ``file_keys=True`` keeps ``dv.META_FILE``
    and ``dv.META_ROW`` (normalized path, row index) on the live rows:
    columns of the scan itself, so they survive a shuffle above it
    (Spark's file-name expression reads empty there).  No paths give a
    typed empty frame of the same columns."""
    from functools import reduce

    from pyspark.sql import functions as F

    from guidewire_spark.sources import dv

    if row_ids:
        missing = [p for p in paths if "baseRowId" not in snap.adds[p]]
        if missing:
            raise ValueError(
                f"{len(missing)} file(s) have no baseRowId — enable row "
                "tracking (enable_row_tracking) before reading row ids"
            )
    schema = snap.schema or T.StructType([])
    extra = []
    if row_ids:
        extra.append(T.StructField("_row_id", T.LongType(), True))
    if file_keys:
        extra.append(T.StructField(dv.META_FILE, T.StringType(), True))
        extra.append(T.StructField(dv.META_ROW, T.LongType(), True))
    if not paths:
        return spark.createDataFrame([], T.StructType(schema.fields + extra))
    mat_col = (snap.configuration or {}).get(MATERIALIZED_ROW_ID_KEY)

    def scan(data_schema, files):
        dvs = snap.deletion_vectors(files)
        plain = [p for p in files if p not in dvs]
        frames = []
        if plain and not (row_ids or file_keys):
            frames.append(read_files_with_schema(spark, data_schema, plain))
            plain = []
        if row_ids and mat_col:
            data_schema = T.StructType(
                data_schema.fields + [T.StructField(mat_col, T.LongType(), True)]
            )
        # plain files scan apart from vectored ones: only the DV
        # anti-join needs every row's index, so a consumer that never
        # reads META_ROW (the match pass) prunes it from their scan
        for group, dead in ((plain, {}), (list(dvs), dvs)):
            if not group:
                continue
            df = dv.scan_with_row_index(spark, data_schema, group)
            if row_ids:
                bases = spark.createDataFrame(
                    [(dv.normalize_path(p), int(snap.adds[p]["baseRowId"])) for p in group],
                    f"{dv.META_FILE} string, __base long",
                )
                default_id = F.col("__base") + F.col(dv.META_ROW)
                df = (
                    df.join(F.broadcast(bases), dv.META_FILE)
                    .withColumn(
                        "_row_id",
                        F.coalesce(F.col(mat_col), default_id) if mat_col else default_id,
                    )
                    .drop("__base", *([mat_col] if mat_col else []))
                )
            df = dv.subtract_dead_rows(df, spark, dead)
            frames.append(df if file_keys else df.drop(dv.META_FILE, dv.META_ROW))
        return reduce(DataFrame.unionByName, frames)

    pcols = snap.partition_columns
    if not pcols:
        out = scan(snap.schema, paths)
        if not (row_ids or file_keys):
            return out
    else:
        groups: dict[tuple, list[str]] = {}
        for path in paths:
            pv = snap.adds[path]["partitionValues"]
            groups.setdefault(tuple(pv.get(c) for c in pcols), []).append(path)
        data_schema = T.StructType([f for f in schema.fields if f.name not in pcols])
        parts = []
        for key, files in sorted(
            groups.items(), key=lambda kv: tuple((v is None, v or "") for v in kv[0])
        ):
            df = scan(data_schema, files)
            for col, val in zip(pcols, key):
                df = df.withColumn(col, F.lit(val).cast(schema[col].dataType))
            parts.append(df)
        out = reduce(DataFrame.unionByName, parts)
    return out.select(*schema.fieldNames(), *[f.name for f in extra])


def _partition_literal(value) -> str | None:
    """A ``partition_filter`` value as ``partitionValues`` stores it:
    booleans lower-case (``"true"``), everything else ``str()``."""
    if value is None:
        return None
    return str(value).lower() if isinstance(value, bool) else str(value)


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp: int | None = None,
    partition_filter: dict | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Snapshot → DataFrame through :func:`scan_live_files`. The
    explicit schema makes the scan skip footer inference, and empty
    snapshots yield a typed empty frame.

    ``partition_filter`` (e.g. ``{"lang": "en"}``) prunes whole
    partitions from the log BEFORE Spark ever sees a path —
    metadata-only partition pruning, the same mechanism Delta uses.
    """
    snap = load_snapshot(table_path, version=version, timestamp=timestamp)
    paths = snap.files
    if partition_filter and snap.partition_columns:
        want = {k: _partition_literal(v) for k, v in partition_filter.items()}
        paths = [
            p
            for p in paths
            if all(snap.adds[p]["partitionValues"].get(k) == v for k, v in want.items())
        ]
    return scan_live_files(spark, snap, paths, row_ids=with_row_ids)
