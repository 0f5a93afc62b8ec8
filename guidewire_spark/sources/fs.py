"""Filesystem/object-store listing + reads (reference parity:
P4/P5/P15, ``S3Access.scala``).

Works on local paths and ``file://`` URIs directly; any other scheme
(``s3://`` etc.) is delegated to fsspec when available. All listing
is metadata-only — the engine never reads data bytes except the one
schema-sample file per fingerprint.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import urlparse


@dataclass(frozen=True)
class FileMeta:
    """One discovered data file → one Delta ``add`` action later.

    Mirrors the AddFile construction at ``S3Access.scala:43-45``:
    absolute path, size, modification time, no stats.
    """

    path: str  # absolute path or URI
    size: int
    modification_time: int  # epoch millis


def _to_local(path_or_uri: str) -> str | None:
    """Return a local filesystem path, or None if remote."""
    parsed = urlparse(path_or_uri)
    if parsed.scheme in ("", "file"):
        return parsed.path if parsed.scheme == "file" else path_or_uri
    return None


def _fs_for(uri: str):
    import fsspec

    return fsspec.core.url_to_fs(uri)


def _epoch_millis(mtime) -> int:
    """Normalize an fsspec modification time to epoch MILLISECONDS
    (the unit of Delta's ``add.modificationTime``).  Backends disagree
    on the representation: s3fs yields a datetime (``LastModified``),
    most others float/int SECONDS (fsspec's documented convention);
    a raw ``int(mtime)`` on a float-seconds backend would silently
    land seconds in a millisecond field.  Values >= 1e12 can only be
    milliseconds already (1e12 s is year 33658)."""
    if hasattr(mtime, "timestamp"):
        return int(mtime.timestamp() * 1000)
    val = float(mtime)
    return int(val) if val >= 1e12 else int(val * 1000)


def read_text(uri: str) -> str:
    """Object read as string (``S3Access.scala:51-55``)."""
    local = _to_local(uri)
    if local is not None:
        with open(local, encoding="utf-8") as f:
            return f.read()
    fs, path = _fs_for(uri)
    with fs.open(path, "rb") as f:
        return f.read().decode("utf-8")


def list_timestamp_dirs(base: str) -> list[int]:
    """Delimiter-listing of commit-timestamp folders, parsed to int and
    sorted ascending (``S3Access.scala:26-33``)."""
    local = _to_local(base)
    names: list[str] = []
    if local is not None:
        if not os.path.isdir(local):
            return []
        names = [n for n in os.listdir(local) if os.path.isdir(os.path.join(local, n))]
    else:
        fs, path = _fs_for(base)
        if not fs.exists(path):
            return []
        names = [
            entry.rstrip("/").rsplit("/", 1)[-1]
            for entry in fs.ls(path, detail=False)
        ]
    return sorted(int(n) for n in names if n.isdigit())


def list_parquet_files(directory: str) -> list[FileMeta]:
    """List ``*.parquet`` data files: dot-files ignored
    (``S3Access.scala:39-41``), zero-byte files dropped
    (``Guidewire.scala:145``). Paths come back absolute so the Delta
    log references data in place (shallow clone)."""
    out: list[FileMeta] = []
    local = _to_local(directory)
    if local is not None:
        if not os.path.isdir(local):
            return []
        for name in os.listdir(local):
            full = os.path.join(local, name)
            if (
                name.endswith(".parquet")
                and not name.startswith(".")
                and os.path.isfile(full)
            ):
                st = os.stat(full)
                if st.st_size > 0:
                    out.append(
                        FileMeta(
                            path=os.path.abspath(full),
                            size=st.st_size,
                            modification_time=int(st.st_mtime * 1000),
                        )
                    )
    else:
        fs, path = _fs_for(directory)
        if not fs.exists(path):
            return []
        for info in fs.ls(path, detail=True):
            name = info["name"].rsplit("/", 1)[-1]
            if (
                info.get("type") == "file"
                and name.endswith(".parquet")
                and not name.startswith(".")
                and info.get("size", 0) > 0
            ):
                mtime = (
                    info.get("mtime")
                    or info.get("LastModified")
                    or info.get("created")
                    or 0
                )
                mtime_ms = _epoch_millis(mtime)
                out.append(
                    FileMeta(
                        path=f"{urlparse(directory).scheme}://{info['name']}",
                        size=int(info["size"]),
                        modification_time=mtime_ms,
                    )
                )
    return sorted(out, key=lambda f: f.path)


def walk_parquet_files(directory: str) -> list[FileMeta]:
    """``list_parquet_files`` over a local directory and every directory
    below it (hive-style ``col=value`` partition trees), sorted by
    path."""
    out: list[FileMeta] = []
    for root, _dirs, _names in os.walk(directory):
        out += list_parquet_files(root)
    return sorted(out, key=lambda f: f.path)
