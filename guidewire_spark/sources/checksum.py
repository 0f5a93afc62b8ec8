"""Per-version checksum files (``_delta_log/<v>.crc``).

The public Delta implementation writes a VersionChecksum alongside
each commit: aggregate table-state invariants (file count, total
bytes, deletion-vector mass) that a reader can verify against its
reconstructed snapshot — catching log corruption, lost commits and
buggy writers BEFORE a wrong result ships. The reference connector
emits no checksums (delta-standalone handles none), so a silently
truncated log replays to a smaller table with no alarm; this module
closes that gap for the 100 TB posture where "the replay was wrong"
is measured in terabytes.

Checksums are emitted explicitly (``write_version_checksum``), not on
every commit: the CDA indexer's per-sync commits are small-file-write
bound already, and a checksum requires full snapshot state — callers
checkpoint-style it at the same cadence as log checkpoints. Unknown
``.crc`` files are ignored by every Delta reader (they are not log
actions), so emitting them costs external compatibility nothing.
"""

from __future__ import annotations

import json
import os

from guidewire_spark.sources.deltalog import delta_log_dir


class ChecksumMismatch(Exception):
    """Snapshot state disagrees with the recorded version checksum."""


def _crc_path(table_path: str, version: int) -> str:
    return os.path.join(delta_log_dir(table_path), f"{version:020d}.crc")


def _snapshot_checksum(table_path: str, version: int | None) -> tuple[int, dict]:
    from guidewire_spark.sources.snapshot import load_snapshot

    snap = load_snapshot(table_path, version=version)
    dvs = list(snap.deletion_vectors().values())
    return snap.version, {
        "tableSizeBytes": sum(add.get("size", 0) for add in snap.adds.values()),
        "numFiles": len(snap.files),
        "numDeletedRecordsOpt": sum(int(dv.get("cardinality", 0)) for dv in dvs),
        "numDeletionVectorsOpt": len(dvs),
        "numMetadata": 1,
        "numProtocol": 1,
    }


def write_version_checksum(table_path: str, version: int | None = None) -> str:
    """Record ``<v>.crc`` for ``version`` (default: latest)."""
    v, crc = _snapshot_checksum(table_path, version)
    target = _crc_path(table_path, v)
    with open(target, "w", encoding="utf-8") as f:
        json.dump(crc, f, separators=(",", ":"))
    return target


def validate_version_checksum(
    table_path: str, version: int | None = None
) -> dict | None:
    """Recompute the snapshot checksum and compare with the recorded
    ``.crc``. Returns the checksum dict on success, ``None`` when no
    checksum was recorded for that version, and raises
    ``ChecksumMismatch`` on any drift — the caller gets a named
    invariant violation instead of silently-wrong query results."""
    v, computed = _snapshot_checksum(table_path, version)
    path = _crc_path(table_path, v)
    if not os.path.isfile(path):
        return None
    with open(path, encoding="utf-8") as f:
        recorded = json.load(f)
    diffs = {
        k: (recorded.get(k), computed[k])
        for k in computed
        if recorded.get(k) != computed[k]
    }
    if diffs:
        raise ChecksumMismatch(
            f"version {v} of {table_path} drifted from its checksum: "
            + ", ".join(
                f"{k}: recorded={r} computed={c}" for k, (r, c) in diffs.items()
            )
        )
    return computed
