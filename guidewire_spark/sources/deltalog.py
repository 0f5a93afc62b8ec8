"""Delta transaction-log writer (reference parity: P9/P10/P11/P16).

The only genuinely custom component of the engine (SURVEY.md §4): a
pure-Python emitter of the public Delta Lake protocol JSON —
``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``
lines, one file per version under ``_delta_log/``. Action shapes
follow the published protocol and match the reference's golden logs
(``/root/reference/src/test/resources/delta/*.json``): absolute
``add.path`` (shallow clone — data never moves), empty
``partitionValues``, ``dataChange: true``, no stats.

Single-writer discipline: commits are created with O_EXCL so two
writers on one table directory fail fast instead of corrupting the
log (mirrors the reference's one-table-per-task layout,
``Guidewire.scala:71,96``).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import types as T

_LOG_FILE_RE = re.compile(r"^(\d{20})\.json$")


def delta_log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def list_versions(table_path: str) -> list[int]:
    log_dir = delta_log_dir(table_path)
    if not os.path.isdir(log_dir):
        return []
    versions = []
    for name in os.listdir(log_dir):
        m = _LOG_FILE_RE.match(name)
        if m:
            versions.append(int(m.group(1)))
    return sorted(versions)


def last_version(table_path: str) -> int | None:
    versions = list_versions(table_path)
    return versions[-1] if versions else None


def data_version(table_path: str) -> int | None:
    """Latest version whose commit changed the table's LOGICAL content
    — any add/remove with ``dataChange`` true, or any metaData /
    protocol / txn / domainMetadata / cdc action.  Pure-compaction
    commits (OPTIMIZE, auto-compact: every add/remove carries
    ``dataChange=false``, plus commitInfo) do NOT advance it, which is
    what lets version-fingerprinted consumers (the result cache)
    survive layout maintenance without recomputing identical results.

    Walks backward from the newest version over the trailing
    compaction run only — in steady state that is zero or one commit.
    A version whose JSON is unreadable (expired into a checkpoint)
    counts as data-changing, the conservative direction: a needless
    recompute is correct; a stale hit is not."""
    import json as _json

    versions = list_versions(table_path)
    if not versions:
        return None
    log_dir = delta_log_dir(table_path)
    for v in reversed(versions):
        path = os.path.join(log_dir, f"{v:020d}.json")
        try:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    action = _json.loads(line)
                    if "commitInfo" in action:
                        continue
                    if "add" in action or "remove" in action:
                        key = "add" if "add" in action else "remove"
                        if action[key].get("dataChange", True):
                            return v
                        continue
                    return v  # metaData/protocol/txn/domainMetadata/cdc
        except (OSError, ValueError):
            return v  # unreadable tail: conservative
    return versions[0]


# Reader-side protocol support (the table-features form, reader v3):
# every capability this engine's read path actually implements. A
# protocol action demanding anything else must REFUSE the read — the
# alternative is silently-wrong results (deleted rows resurfacing,
# columns bound by the wrong name), the worst failure mode a reader
# has.
SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "v2Checkpoint",
    "inCommitTimestamp",
    "rowTracking",
    "typeWidening",
    "typeWidening-preview",
    "domainMetadata",
    "vacuumProtocolCheck",
}
MAX_READER_VERSION = 3


def check_reader_protocol(protocol: dict, table_path: str) -> None:
    """Refuse reads the protocol action says we cannot do correctly
    (the public Delta contract: a reader honors minReaderVersion and,
    at version 3, the readerFeatures list)."""
    mrv = int(protocol.get("minReaderVersion", 1))
    if mrv > MAX_READER_VERSION:
        raise ValueError(
            f"{table_path} requires reader version {mrv}; this engine "
            f"supports <= {MAX_READER_VERSION} — refusing to misread"
        )
    unsupported = [
        f
        for f in (protocol.get("readerFeatures") or [])
        if f not in SUPPORTED_READER_FEATURES
    ]
    if unsupported:
        raise ValueError(
            f"{table_path} requires reader features {unsupported} this "
            "engine does not implement — refusing to misread"
        )


def protocol_action(min_reader: int = 1, min_writer: int = 2) -> dict:
    return {"protocol": {"minReaderVersion": min_reader, "minWriterVersion": min_writer}}


DEFAULT_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Writer-side protocol support: every writer feature whose INVARIANTS
# this engine maintains when committing.  A table demanding anything
# else must REFUSE the write — committing to a table whose rules you
# don't understand corrupts it for the writers that do.
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "changeDataFeed",
    "generatedColumns",
    "columnMapping",
    "identityColumns",
    "deletionVectors",
    "rowTracking",
    "domainMetadata",
    "clustering",
    "inCommitTimestamp",
    "typeWidening",
    "typeWidening-preview",
    "allowColumnDefaults",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "timestampNtz",
}
MAX_WRITER_VERSION = 7


def check_writer_protocol(protocol: dict, table_path: str) -> None:
    """Refuse writes the protocol says we cannot do correctly — the
    writer-side mirror of check_reader_protocol."""
    mwv = int(protocol.get("minWriterVersion", 2))
    if mwv > MAX_WRITER_VERSION:
        raise ValueError(
            f"{table_path} requires writer version {mwv}; this engine "
            f"supports <= {MAX_WRITER_VERSION} — refusing to corrupt"
        )
    unsupported = [
        f
        for f in (protocol.get("writerFeatures") or [])
        if f not in SUPPORTED_WRITER_FEATURES
    ]
    if unsupported:
        raise ValueError(
            f"{table_path} requires writer features {unsupported} this "
            "engine does not implement — refusing to corrupt"
        )

# Legacy protocol versions IMPLY feature sets (public PROTOCOL.md,
# "Table Features" appendix): converting a table to the features form
# (minWriterVersion=7) must list every feature the old version already
# granted, or an external writer would conclude those features are off.
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
_LEGACY_READER_FEATURES = {2: {"columnMapping"}}


def _implied_features(table: dict, version: int, features_version: int) -> set[str]:
    """Features a LEGACY protocol version implies.  Once the protocol
    is in the features form (version >= features_version) the explicit
    feature list is authoritative and the version number implies
    NOTHING — treating writer v7 as "all legacy features" would
    re-advertise features the table never used."""
    if version >= features_version:
        return set()
    out: set[str] = set()
    for v, feats in table.items():
        if version >= v:
            out |= feats
    return out


def feature_upgrade_action(
    current: dict | None,
    reader_features: set[str] | None = None,
    writer_features: set[str] | None = None,
) -> dict | None:
    """Protocol action advertising ``reader_features`` /
    ``writer_features`` on top of ``current``, or None when the
    current protocol already grants them.  This is the write-side half
    of the external-reader contract: a table carrying deletion vectors
    at minReaderVersion=1 would let an old reader silently resurface
    deleted rows — the protocol's whole job is making that a refusal
    instead (the read-side half is check_reader_protocol)."""
    cur = dict(current or DEFAULT_PROTOCOL)
    want_r = set(reader_features or ())
    want_w = set(writer_features or ())
    have_r = set(cur.get("readerFeatures") or []) | _implied_features(
        _LEGACY_READER_FEATURES, int(cur.get("minReaderVersion", 1)), 3
    )
    have_w = set(cur.get("writerFeatures") or []) | _implied_features(
        _LEGACY_WRITER_FEATURES, int(cur.get("minWriterVersion", 2)), 7
    )
    if want_r <= have_r and want_w <= have_w:
        return None
    all_r = have_r | want_r
    all_w = have_w | want_w | all_r  # a reader feature is also a writer feature
    new: dict = {
        "minReaderVersion": 3 if all_r else int(cur.get("minReaderVersion", 1)),
        "minWriterVersion": 7,
        "writerFeatures": sorted(all_w),
    }
    if all_r:
        new["readerFeatures"] = sorted(all_r)
    return {"protocol": new}


def metadata_action(
    schema: T.StructType,
    partition_columns: list[str] | None = None,
    created_time: int | None = None,
    table_id: str | None = None,
    configuration: dict[str, str] | None = None,
) -> dict:
    return {
        "metaData": {
            "id": table_id or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "configuration": configuration or {},
            "partitionColumns": partition_columns or [],
            "createdTime": created_time or int(time.time() * 1000),
        }
    }


def add_action(
    path: str,
    size: int,
    modification_time: int,
    stats: str | None = None,
    partition_values: dict | None = None,
    deletion_vector: dict | None = None,
    base_row_id: int | None = None,
) -> dict:
    action = {
        "add": {
            "path": path,
            "size": size,
            "partitionValues": partition_values or {},
            "modificationTime": modification_time,
            "dataChange": True,
        }
    }
    if stats is not None:
        action["add"]["stats"] = stats
    if deletion_vector is not None:
        # merge-on-read: the public Delta protocol's deletionVector
        # descriptor rides the add action (sources/dv.py)
        action["add"]["deletionVector"] = deletion_vector
    if base_row_id is not None:
        # row tracking: the public Delta protocol's baseRowId — a
        # file row's stable id is baseRowId + its position in the file
        action["add"]["baseRowId"] = int(base_row_id)
    return action


def domain_metadata_action(
    domain: str, configuration: str, removed: bool = False
) -> dict:
    """``domainMetadata`` action per the public Delta protocol:
    named-domain key/value state that rides the log (clustering
    columns, app-specific domains). Later actions for the same domain
    replace earlier ones; ``removed=True`` deletes the domain."""
    return {
        "domainMetadata": {
            "domain": domain,
            "configuration": configuration,
            "removed": removed,
        }
    }


def remove_action(
    path: str, deletion_timestamp: int | None = None, size: int | None = None
) -> dict:
    action = {
        "remove": {
            "path": path,
            "partitionValues": {},
            "deletionTimestamp": deletion_timestamp or int(time.time() * 1000),
            "dataChange": True,
        }
    }
    if size is not None:
        action["remove"]["size"] = size
    return action


def commit_info_action(
    operation: str,
    mode: str,
    actions: list[dict],
    timestamp: int | None = None,
    blind: bool = False,
) -> dict:
    """``commitInfo`` of a commit of ``actions``.  Its operationMetrics
    are derived from the commit's own ``add`` actions — ``numFiles``
    counts them, ``numOutputBytes`` sums their sizes — so no caller
    passes counts by hand."""
    adds = [a["add"] for a in actions if "add" in a]
    return {
        "commitInfo": {
            "timestamp": timestamp or int(time.time() * 1000),
            "operation": operation,
            "operationParameters": {"mode": mode, "partitionBy": "[]"},
            "isolationLevel": "Serializable",
            "operationMetrics": {
                "numFiles": len(adds),
                "numOutputBytes": sum(a["size"] for a in adds),
            },
            "isBlindAppend": blind,
            "engineInfo": "guidewire-spark",
            "txnId": str(uuid.uuid4()),
        }
    }


ICT_KEY = "delta.enableInCommitTimestamps"


def _prev_commit_info(table_path: str, version: int) -> dict | None:
    """commitInfo of ``version - 1``, or None when that JSON is absent
    (first commit, or checkpoint-truncated log)."""
    prev = os.path.join(delta_log_dir(table_path), f"{version - 1:020d}.json")
    if version <= 0 or not os.path.isfile(prev):
        return None
    with open(prev, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                action = json.loads(line)
                if "commitInfo" in action:
                    return action["commitInfo"]
    return None


def _apply_in_commit_timestamp(base, version: int, actions: list[dict]) -> list[dict]:
    """In-commit timestamps (public Delta table feature): when the
    chain is live, stamp this commit's ``commitInfo`` with a
    MONOTONIC ``inCommitTimestamp`` (max(now, prev + 1) — immune to
    wall-clock skew/rollback between writers) and move commitInfo to
    the FRONT of the action list, both per the protocol.  The chain is
    detected from the PREVIOUS commit's commitInfo carrying the field
    (one file read — never a log replay per commit); a truncated
    predecessor falls back to the base snapshot's configuration flag.

    A commit whose metaData turns the flag on over a ``base`` without
    it (``enable_in_commit_timestamps``, a clone of such a table)
    starts the chain: it is stamped above every commit timestamp
    ``base`` replayed, and its metaData records this version and stamp
    as the enablement version and timestamp."""
    meta = next((a["metaData"] for a in actions if "metaData" in a), None)
    enabling = (
        meta is not None
        and (meta.get("configuration") or {}).get(ICT_KEY) == "true"
        and base.configuration.get(ICT_KEY) != "true"
    )
    if enabling:
        prev_ict = max(base.commit_timestamps.values(), default=-1)
    else:
        prev_info = _prev_commit_info(base.table_path, version)
        if prev_info is not None:
            if "inCommitTimestamp" not in prev_info:
                return actions
            prev_ict = int(prev_info["inCommitTimestamp"])
        else:
            if base.configuration.get(ICT_KEY) != "true":
                return actions
            prev_ict = -1
    info = next((a for a in actions if "commitInfo" in a), None)
    if info is None:
        info = {"commitInfo": {"timestamp": int(time.time() * 1000)}}
        actions = list(actions) + [info]
    ict = max(int(time.time() * 1000), prev_ict + 1)
    info["commitInfo"]["inCommitTimestamp"] = ict
    info["commitInfo"]["timestamp"] = ict
    if enabling:
        meta["configuration"] = {
            **meta["configuration"],
            "delta.inCommitTimestampEnablementVersion": str(version),
            "delta.inCommitTimestampEnablementTimestamp": str(ict),
        }
    return [info] + [a for a in actions if a is not info]


def write_commit(base, actions: list[dict]):
    """Atomically write ``actions`` as the commit after ``base`` and
    return the post-commit snapshot.

    ``base`` is the ``DeltaSnapshot`` the actions were built against
    (``snapshot.empty_snapshot`` — version -1 — for a table with no
    log).  The commit lands at ``base.version + 1`` with an O_EXCL
    create: a concurrent writer that committed that version first
    raises FileExistsError — optimistic concurrency, resolved by
    ``commit_transaction`` (the indexer serializes per table, so
    there this only fires on misuse; ``writer._commit`` raises it as
    ConcurrentModificationException for commits built from table
    state).

    Success proves ``base`` was the latest version, so ``base`` with
    the written actions applied (``snapshot.advance_snapshot``, after
    the in-commit-timestamp step stamped and reordered commitInfo) is
    exactly what a replay of the log would give — callers chain
    ``snap = write_commit(snap, actions)`` instead of reloading.
    ``base`` itself is not modified."""
    from guidewire_spark.sources.snapshot import advance_snapshot

    version = base.version + 1
    actions = _apply_in_commit_timestamp(base, version, actions)
    log_dir = delta_log_dir(base.table_path)
    if base.version < 0:  # any later base was read from, or wrote, this dir
        os.makedirs(log_dir, exist_ok=True)
    target = os.path.join(log_dir, f"{version:020d}.json")
    payload = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
    fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        os.write(fd, payload.encode("utf-8"))
    finally:
        os.close(fd)
    snap = advance_snapshot(base, version, actions)
    _maybe_auto_checkpoint(snap)
    return snap


def _maybe_auto_checkpoint(snap) -> None:
    """``delta.checkpointInterval`` (public Delta table property,
    default 10 as in Delta): after every Nth commit, materialize a log
    checkpoint so replay cost stays O(interval) instead of O(versions)
    — at CDA cadence a year-old table is ~10⁴ commits, and without
    this every cold read pays the whole JSON tail.  The one checkpoint
    rule for every table this engine commits to: indexed tables, the
    ``_checkpoints`` table, matview state and writer tables alike.
    The interval and the checkpointed state both come from the
    post-commit snapshot ``snap``; an interval <= 0 disables it.
    Failure here never fails the commit (the commit is already
    durable; a missed checkpoint only defers the optimization to the
    next interval)."""
    try:
        interval = int(snap.configuration.get("delta.checkpointInterval", 10))
        if interval > 0 and (snap.version + 1) % interval == 0:
            from guidewire_spark.sources.log_checkpoint import (
                write_log_checkpoint,
            )

            write_log_checkpoint(snap)
    except Exception:  # pragma: no cover — never poison a durable commit
        import warnings

        warnings.warn(
            f"auto-checkpoint at version {snap.version} of "
            f"{snap.table_path} failed; replay falls back to the JSON log",
            stacklevel=2,
        )


# ---------------------------------------------------------------------------
# Optimistic concurrency (the public Delta commit contract)
# ---------------------------------------------------------------------------


class ConcurrentModificationException(Exception):
    """A conflicting commit won the race and rebasing is not safe."""


class MetadataChangedException(ConcurrentModificationException):
    """A concurrent commit changed metadata/protocol under us."""


class ConcurrentDeleteException(ConcurrentModificationException):
    """A concurrent commit removed (or re-wrote) a file we depend on."""


# A loser retries once per commit that beat it, so N racing writers
# need at most N - 1 retries.
COMMIT_RETRIES = 10


def commit_transaction(base, build_actions):
    """Commit ``build_actions(base)`` on the held snapshot ``base``
    with Delta's optimistic-concurrency loop and return the committed
    snapshot.  The first attempt lands at ``base.version + 1`` without
    touching the log; only after losing the race (O_EXCL
    FileExistsError from ``write_commit``) is the latest snapshot
    loaded, and every commit that landed since ``base`` decides
    between a REBASE (rebuild the actions against the new snapshot
    and retry) and a typed conflict:

    * winner changed ``metaData``/``protocol`` → MetadataChangedException
      (our actions were checked against a schema, constraints or
      feature flags that no longer hold — a blind append that lost to
      an ADD CONSTRAINT must not commit rows it never checked);
    * winner ``remove``d or re-``add``ed a file our transaction
      removes → ConcurrentDeleteException (classic write-write
      conflict: both transactions rewrote the same file);
    * otherwise (concurrent blind appends, disjoint removes) → rebase
      and retry, the same resolution delta-spark applies.

    ``build_actions(snapshot)`` is called fresh per attempt, so the
    caller's logic must be a pure function of the snapshot.  The
    reference connector sidesteps all of this by serializing one
    writer per table; a 1000-executor pipeline cannot."""
    from guidewire_spark.sources.snapshot import _read_commit, load_snapshot

    table_path = base.table_path
    for _ in range(COMMIT_RETRIES + 1):
        actions = build_actions(base)
        try:
            return write_commit(base, actions=actions)
        except FileExistsError:
            pass
        ours_removes = {a["remove"]["path"] for a in actions if "remove" in a}
        ours_meta = any("metaData" in a or "protocol" in a for a in actions)
        latest = load_snapshot(table_path)
        for v in range(base.version + 1, latest.version + 1):
            for won in _read_commit(table_path, v):
                if "metaData" in won or "protocol" in won:
                    raise MetadataChangedException(
                        f"version {v} changed table metadata during "
                        f"our transaction at {table_path}"
                    )
                if ours_meta:
                    raise MetadataChangedException(
                        f"metadata transaction lost the race to "
                        f"version {v} at {table_path}; not rebasing "
                        "schema changes automatically"
                    )
                touched = None
                if "remove" in won:
                    touched = won["remove"]["path"]
                elif "add" in won:
                    touched = won["add"]["path"]
                if touched is not None and touched in ours_removes:
                    raise ConcurrentDeleteException(
                        f"version {v} rewrote {touched!r}, which our "
                        f"transaction removes, at {table_path}"
                    )
        base = latest  # disjoint: rebase and retry
    raise ConcurrentModificationException(
        f"could not commit to {table_path} after {COMMIT_RETRIES + 1} attempts"
    )
