"""Delta log checkpointing: ``<v>.checkpoint.parquet`` + ``_last_checkpoint``.

Scale feature the reference lacks (it leans on delta-standalone's
auto-checkpoints): replaying a long-lived table's log means reading
every JSON commit — O(versions) small reads, which at CDA cadence
(one commit per table per sync) grows without bound. A checkpoint
parquet materializes the full action state at one version so readers
do one parquet read + the JSON tail after it, exactly the published
Delta protocol mechanism (``_delta_log/<v>.checkpoint.parquet``
discovered via ``_last_checkpoint``).

Deviation from full protocol (documented): remove-tombstones are not
carried into the checkpoint (this engine's VACUUM never deletes
external shallow-clone files, so tombstone retention is moot), and
``commitInfo`` history before the checkpoint is not preserved —
timestamp-based time travel therefore still replays the JSON commits
present on disk.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from guidewire_spark.sources.deltalog import delta_log_dir

LAST_CHECKPOINT = "_last_checkpoint"

_CHECKPOINT_SCHEMA = pa.schema(
    [
        pa.field(
            "protocol",
            pa.struct(
                [
                    pa.field("minReaderVersion", pa.int32()),
                    pa.field("minWriterVersion", pa.int32()),
                    pa.field("readerFeatures", pa.list_(pa.string())),
                    pa.field("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        pa.field(
            "metaData",
            pa.struct(
                [
                    pa.field("id", pa.string()),
                    pa.field("format", pa.struct([pa.field("provider", pa.string())])),
                    pa.field("schemaString", pa.string()),
                    pa.field("partitionColumns", pa.list_(pa.string())),
                    pa.field(
                        "configuration", pa.map_(pa.string(), pa.string())
                    ),
                    pa.field("createdTime", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "add",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("size", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("stats", pa.string()),
                    pa.field(
                        "partitionValues", pa.map_(pa.string(), pa.string())
                    ),
                    pa.field(
                        "deletionVector",
                        pa.struct(
                            [
                                pa.field("storageType", pa.string()),
                                pa.field("pathOrInlineDv", pa.string()),
                                pa.field("sizeInBytes", pa.int64()),
                                pa.field("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                    pa.field("baseRowId", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "domainMetadata",
            pa.struct(
                [
                    pa.field("domain", pa.string()),
                    pa.field("configuration", pa.string()),
                    pa.field("removed", pa.bool_()),
                ]
            ),
        ),
        pa.field(
            "txn",
            pa.struct(
                [
                    pa.field("appId", pa.string()),
                    pa.field("version", pa.int64()),
                ]
            ),
        ),
    ]
)


_SIDECAR_SCHEMA = pa.schema([_CHECKPOINT_SCHEMA.field("add")])

_V2_MANIFEST_SCHEMA = pa.schema(
    list(_CHECKPOINT_SCHEMA)
    + [
        pa.field(
            "checkpointMetadata",
            pa.struct([pa.field("version", pa.int64())]),
        ),
        pa.field(
            "sidecar",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("sizeInBytes", pa.int64()),
                ]
            ),
        ),
    ]
)


def checkpoint_path(table_path: str, version: int) -> str:
    return os.path.join(
        delta_log_dir(table_path), f"{version:020d}.checkpoint.parquet"
    )


def sidecar_dir(table_path: str) -> str:
    """``_delta_log/_sidecars`` — where V2-checkpoint sidecar files
    live per the public protocol."""
    return os.path.join(delta_log_dir(table_path), "_sidecars")


def _is_v2_manifest(path: str) -> bool:
    """``<v>.checkpoint.<uniqueStr>.parquet`` (4 dot-tokens) vs the
    multi-part ``<v>.checkpoint.<i>.<n>.parquet`` (5) and classic
    ``<v>.checkpoint.parquet`` (3)."""
    return len(os.path.basename(path).split(".")) == 4


def _v2_sidecar_paths(table_path: str, manifest: str) -> list[str]:
    """Absolute paths of every sidecar the manifest references."""
    table = pq.read_table(manifest, columns=["sidecar"])
    out = []
    for row in table.to_pylist():
        sc = row.get("sidecar")
        if sc and sc.get("path"):
            out.append(os.path.join(sidecar_dir(table_path), sc["path"]))
    return out


def checkpoint_part_path(
    table_path: str, version: int, part: int, parts: int
) -> str:
    """Multi-part checkpoint file name per the public Delta protocol:
    ``<v>.checkpoint.<part>.<parts>.parquet``, 1-based, 10-digit
    zero-padded part numbers."""
    return os.path.join(
        delta_log_dir(table_path),
        f"{version:020d}.checkpoint.{part:010d}.{parts:010d}.parquet",
    )


def checkpoint_files(table_path: str, version: int) -> list[str]:
    """Existing checkpoint file(s) for ``version``: the single-file
    form, or all parts of the multi-part form (every part must be
    present — a partial multi-part checkpoint is unusable and is
    reported as absent, so replay falls back to the JSON log)."""
    single = checkpoint_path(table_path, version)
    if os.path.isfile(single):
        return [single]
    import glob as _glob

    manifests = sorted(
        p
        for p in _glob.glob(
            os.path.join(
                delta_log_dir(table_path),
                f"{version:020d}.checkpoint.*.parquet",
            )
        )
        if _is_v2_manifest(p)
    )
    for manifest in manifests:
        # a manifest whose sidecars are incomplete (crashed upload with
        # a stale marker) is unusable — same ignore rule as a partial
        # multi-part set
        if all(os.path.isfile(s) for s in _v2_sidecar_paths(table_path, manifest)):
            return [manifest]

    parts = sorted(
        _glob.glob(
            os.path.join(
                delta_log_dir(table_path),
                f"{version:020d}.checkpoint.*.*.parquet",
            )
        )
    )
    if not parts:
        return []
    declared = int(parts[0].rsplit(".", 2)[-2])
    if len(parts) != declared:
        return []  # incomplete upload — protocol says ignore it
    return parts


def read_last_checkpoint(table_path: str) -> int | None:
    """Version of the newest checkpoint, per ``_last_checkpoint``."""
    marker = os.path.join(delta_log_dir(table_path), LAST_CHECKPOINT)
    if not os.path.isfile(marker):
        return None
    with open(marker, encoding="utf-8") as f:
        return int(json.load(f)["version"])


def _state_rows(snap):
    """(header action rows, add action rows) for a checkpoint of the
    snapshot ``snap`` — shared by the classic/multi-part and V2
    writers.  Everything, the configuration included, comes from
    ``snap``: a checkpoint of version v carries v's state, never the
    latest version's."""
    config = snap.configuration
    # Column mapping requires a protocol upgrade for external Delta
    # readers (minReader 2 / minWriter 5 per the protocol spec) —
    # advertising (1, 2) would let a reader bind post-RENAME files by
    # logical name and read nulls.
    mapped = config.get("delta.columnMapping.mode") not in (None, "none")
    proto = dict(snap.protocol)
    if mapped and int(proto.get("minReaderVersion", 1)) < 2:
        # legacy-mapped table whose protocol never advertised column
        # mapping: MERGE the feature in (replacing wholesale with
        # (2,5) would discard writerFeatures a features-form protocol
        # already carries — e.g. rowTracking on a (1,7) table)
        from guidewire_spark.sources.deltalog import feature_upgrade_action

        if proto.get("writerFeatures") or proto.get("readerFeatures"):
            up = feature_upgrade_action(
                proto, {"columnMapping"}, {"columnMapping"}
            )
            proto = up["protocol"] if up else proto
        else:
            proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    header: list[dict] = [{"protocol": proto}]
    if snap.schema is not None:
        header.append(
            {
                "metaData": {
                    "id": snap.metadata_id,
                    "format": {"provider": "parquet"},
                    "schemaString": snap.schema.json(),
                    "partitionColumns": snap.partition_columns,
                    "configuration": config,
                    "createdTime": None,
                }
            }
        )
    for domain, dconf in sorted(snap.domains.items()):
        header.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": dconf,
                    "removed": False,
                }
            }
        )
    for app_id, txv in sorted(snap.txns.items()):
        header.append({"txn": {"appId": app_id, "version": int(txv)}})
    # the records are the adds as committed (pyarrow writes a dict
    # into a map column and ignores keys the schema lacks)
    adds = [{"add": {**snap.adds[p], "dataChange": True}} for p in snap.files]
    return header, adds


def write_log_checkpoint_v2(snap, max_adds_per_sidecar: int = 10000) -> str:
    """Protocol V2 checkpoint: a UUID-named manifest
    (``<v>.checkpoint.<uuid>.parquet`` holding protocol/metaData, a
    checkpointMetadata action and ``sidecar`` references) plus add
    actions split across ``_delta_log/_sidecars/*.parquet``.

    Why V2 over multi-part at 100 TB: multi-part parts are a single
    atomic SET (all-or-nothing, one naming scheme per attempt), while
    V2 sidecars are independently written immutable files, so the
    protocol lets a later checkpoint re-link unchanged sidecars and
    write only the delta.  This writer does not: every call writes
    fresh sidecars holding every live ``add``, so its cost tracks
    table size, the same as the classic and multi-part forms.
    Crash-safety order: sidecars land first, then the manifest, then
    ``_last_checkpoint`` flips; a manifest referencing a missing
    sidecar is ignored by discovery (checkpoint_files) exactly like a
    partial multi-part set."""
    import uuid as _uuid

    table_path = snap.table_path
    header, adds = _state_rows(snap)
    scdir = sidecar_dir(table_path)
    os.makedirs(scdir, exist_ok=True)
    token = _uuid.uuid4().hex
    sidecars: list[dict] = []
    n_chunks = max(1, -(-len(adds) // max_adds_per_sidecar))
    for i in range(n_chunks):
        chunk = adds[i * max_adds_per_sidecar : (i + 1) * max_adds_per_sidecar]
        name = f"{token}-{i:05d}.parquet"
        target = os.path.join(scdir, name)
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=_SIDECAR_SCHEMA), target
        )
        sidecars.append(
            {"sidecar": {"path": name, "sizeInBytes": os.path.getsize(target)}}
        )
    manifest_rows = (
        header
        + [{"checkpointMetadata": {"version": snap.version}}]
        + sidecars
    )
    manifest = os.path.join(
        delta_log_dir(table_path),
        f"{snap.version:020d}.checkpoint.{token}.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(manifest_rows, schema=_V2_MANIFEST_SCHEMA),
        manifest,
    )
    marker = os.path.join(delta_log_dir(table_path), LAST_CHECKPOINT)
    with open(marker, "w", encoding="utf-8") as f:
        json.dump(
            {
                "version": snap.version,
                "size": len(header) + 1 + len(adds),
                "v2Checkpoint": os.path.basename(manifest),
            },
            f,
        )
    return manifest


def write_log_checkpoint(snap, max_actions_per_part: int | None = None) -> str:
    """Materialize the state of the snapshot ``snap`` as a checkpoint
    parquet at ``snap.version`` and point ``_last_checkpoint`` at it.
    A committer passes the snapshot ``write_commit`` returned; a
    caller holding only a path passes ``load_snapshot(path,
    version=v)``.

    ``max_actions_per_part`` enables the protocol's MULTI-PART form
    (``<v>.checkpoint.<i>.<n>.parquet``): at 100 TB a table holds
    millions of live add actions, and one giant checkpoint parquet
    becomes both a single-writer bottleneck and an all-or-nothing
    read; parts cap each file's action count so writes parallelize
    and readers stream part-by-part.  Parts land BEFORE the
    ``_last_checkpoint`` marker flips, and an incomplete part set is
    ignored by discovery — the crash-safety order the protocol
    requires."""
    table_path = snap.table_path
    header, adds = _state_rows(snap)
    rows = header + adds
    marker = os.path.join(delta_log_dir(table_path), LAST_CHECKPOINT)
    if max_actions_per_part is not None and len(rows) > max_actions_per_part:
        n_parts = -(-len(rows) // max_actions_per_part)
        targets = []
        for i in range(n_parts):
            chunk = rows[i * max_actions_per_part : (i + 1) * max_actions_per_part]
            part_file = checkpoint_part_path(
                table_path, snap.version, i + 1, n_parts
            )
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=_CHECKPOINT_SCHEMA),
                part_file,
            )
            targets.append(part_file)
        with open(marker, "w", encoding="utf-8") as f:
            json.dump(
                {"version": snap.version, "size": len(rows), "parts": n_parts},
                f,
            )
        return targets[0]
    table = pa.Table.from_pylist(rows, schema=_CHECKPOINT_SCHEMA)
    target = checkpoint_path(table_path, snap.version)
    pq.write_table(table, target)
    with open(marker, "w", encoding="utf-8") as f:
        json.dump({"version": snap.version, "size": len(rows)}, f)
    return target


# (action, field) pairs stored as parquet maps, which pyarrow reads
# back as (key, value) pair lists (pyarrow 16's to_pylist has no
# maps_as_pydicts option)
_MAP_FIELDS = {
    (action.name, f.name)
    for action in _V2_MANIFEST_SCHEMA
    for f in action.type
    if pa.types.is_map(f.type)
}


def load_checkpoint_state(table_path: str, version: int):
    """The ``DeltaSnapshot`` at ``version`` seeded from its checkpoint
    (single-file, all parts of the multi-part form, or a V2 manifest
    and its sidecars): each row becomes the action it stores — null
    fields dropped, map columns back to dicts — and the rows replay
    through ``snapshot.apply_actions``, the rule JSON commits replay
    through, so a checkpoint-seeded snapshot equals a JSON replay.
    ``files`` is left to the caller, as after ``apply_actions``."""
    from guidewire_spark.sources.snapshot import apply_actions, empty_snapshot

    files = checkpoint_files(table_path, version)
    if not files:
        raise FileNotFoundError(
            f"no checkpoint file(s) at version {version} of {table_path}"
        )
    if len(files) == 1 and _is_v2_manifest(files[0]):
        # V2: header/checkpointMetadata rows live in the manifest, the
        # add actions in the referenced sidecars (existence already
        # validated by checkpoint_files).
        files = files + _v2_sidecar_paths(table_path, files[0])
    actions = [
        {name: {
            k: dict(v) if (name, k) in _MAP_FIELDS else v
            for k, v in body.items()
            if v is not None
        }}
        for f in files
        for row in pq.read_table(f).to_pylist()
        for name, body in row.items()
        if body is not None
    ]
    snap = empty_snapshot(table_path)
    apply_actions(snap, version, actions)
    return snap


def expire_log(table_path: str, keep_versions: int) -> dict:
    """Metadata cleanup (Delta's ``delta.logRetentionDuration``
    mechanic, version-count form): delete JSON commits older than the
    newest checkpoint that still protects ``keep_versions`` trailing
    versions, plus superseded checkpoint files and any V2 sidecars no
    surviving manifest references.

    Without this, a 100 TB table at CDA cadence accumulates an
    unbounded ``_delta_log`` — tens of thousands of tiny JSON files
    and a parquet checkpoint per interval — and LISTING the log
    becomes the slowest part of every read.  Rules, in protocol
    spirit:

    * a commit may only be deleted if a checkpoint at or after it
      exists (replayability is never lost);
    * the newest checkpoint is always retained; older checkpoint
      files (all forms) are deleted;
    * sidecars are garbage-collected by reference, not by age —
      a surviving manifest keeps its sidecars;
    * time travel to expired versions now raises (the documented
      cost of log retention, same as Delta proper).

    Returns {"commits": n, "checkpoints": n, "sidecars": n} deleted.
    """
    import glob as _glob

    from guidewire_spark.sources.deltalog import list_versions

    versions = list_versions(table_path)
    ckpt = read_last_checkpoint(table_path)
    if ckpt is None or not checkpoint_files(table_path, ckpt):
        raise ValueError(
            f"no usable checkpoint at {table_path}; checkpoint before "
            "expiring the log (replayability would be lost)"
        )
    latest = versions[-1] if versions else ckpt
    cutoff = min(ckpt, latest - keep_versions + 1 if keep_versions > 0 else ckpt)
    log = delta_log_dir(table_path)
    deleted = {"commits": 0, "checkpoints": 0, "sidecars": 0}
    for v in versions:
        if v < cutoff:
            os.remove(os.path.join(log, f"{v:020d}.json"))
            crc = os.path.join(log, f"{v:020d}.crc")
            if os.path.isfile(crc):
                os.remove(crc)
            deleted["commits"] += 1
    # superseded checkpoints: every checkpoint file not belonging to
    # the newest checkpoint version
    keep = set(checkpoint_files(table_path, ckpt))
    for p in _glob.glob(os.path.join(log, "*.checkpoint.*")):
        if p not in keep:
            os.remove(p)
            deleted["checkpoints"] += 1
    # sidecar GC by reference
    referenced: set[str] = set()
    for manifest in keep:
        if _is_v2_manifest(manifest):
            referenced.update(_v2_sidecar_paths(table_path, manifest))
    scdir = sidecar_dir(table_path)
    if os.path.isdir(scdir):
        for p in _glob.glob(os.path.join(scdir, "*.parquet")):
            if p not in referenced:
                os.remove(p)
                deleted["sidecars"] += 1
    return deleted
