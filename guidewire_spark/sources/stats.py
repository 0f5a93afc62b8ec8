"""Per-file statistics for data skipping.

The reference writes ``AddFile`` actions with ``stats=null``
(``S3Access.scala:45``), so its tables get no data skipping — SURVEY
§4 flags this as the one optimization worth adding. Here: min/max/
nullCount per column harvested from parquet *footers* (row-group
metadata only — no data pages read, preserving the metadata-only
design), serialized into ``add.stats`` in the standard Delta stats
JSON shape, plus a snapshot-side pruner that uses them to skip files
before Spark ever sees the scan list.

At 100 TB the effect is multiplicative with partition pruning: a
predicate on a clustered column removes whole files from the manifest
the driver hands to the parquet reader.
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import dataclass

from guidewire_spark.sources.fs import FileMeta, _to_local


def _jsonable(value, direction: int = 0):
    """JSON-representable stats value.  ``direction`` applies to
    DECIMAL min/max: the float conversion rounds to nearest, which
    could round a min UP (or a max DOWN) and make pruning unsound —
    so mins round toward -inf (direction=-1) and maxs toward +inf
    (direction=+1), keeping the stored value a true bound."""
    import decimal as _dec
    import math as _math

    if isinstance(value, (bytes, bytearray)):
        return None  # binary min/max not representable in stats JSON
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, _dec.Decimal):
        f = float(value)
        if direction < 0 and _dec.Decimal(f) > value:
            f = _math.nextafter(f, -_math.inf)
        elif direction > 0 and _dec.Decimal(f) < value:
            f = _math.nextafter(f, _math.inf)
        return f
    if isinstance(value, float) and (value != value):  # NaN
        return None
    return value


def _stat_min_max(st):
    """(min, max) from a column-chunk statistics object.  pyarrow
    cannot cast stats for INT32/INT64-physical DECIMAL columns (the
    layout Spark writes for precision <= 18) — ArrowNotImplementedError
    — but the raw unscaled integers are exposed, so decode them with
    the logical type's scale.  Unknown failures degrade to (None,
    None): a file without bounds is always kept by pruning (sound)."""
    import decimal as _dec
    import json as _json

    try:
        return st.min, st.max
    except Exception:
        lt = st.logical_type
        if lt is not None and str(lt.type).upper() == "DECIMAL":
            scale = _json.loads(lt.to_json()).get("scale", 0)
            q = _dec.Decimal(10) ** -scale
            try:
                return (
                    _dec.Decimal(int(st.min_raw)) * q,
                    _dec.Decimal(int(st.max_raw)) * q,
                )
            except Exception:
                return None, None
        return None, None


@dataclass(frozen=True)
class StatsSpec:
    """Which columns carry min/max/nullCount in ``add.stats`` — the
    public Delta knobs ``delta.dataSkippingStatsColumns`` (explicit
    list; wins when both are set) and
    ``delta.dataSkippingNumIndexedCols`` (first N physical columns;
    -1 = all).  The 100 TB rationale: a 500-column table's per-file
    stats JSON dominates the log and every snapshot replay — stats
    on the handful of filter columns keep skipping effective while
    the log stays metadata-sized.  ``numRecords`` is NEVER dropped
    (metadata-only COUNT and file-sizing depend on it)."""

    columns: tuple[str, ...] | None
    num_indexed: int | None

    def allows(self, name: str, position: int) -> bool:
        if self.columns is not None:
            return name in self.columns
        if self.num_indexed is not None:
            return position < self.num_indexed
        return True


def stats_spec(config: dict[str, str]) -> StatsSpec | None:
    """The stats-collection spec of a table configuration (a writer
    passes its snapshot's ``configuration``); None = collect all (the
    default, and always the case before the first commit)."""
    cols_raw = config.get("delta.dataSkippingStatsColumns")
    n_raw = config.get("delta.dataSkippingNumIndexedCols")
    if cols_raw is None and n_raw is None:
        return None
    cols = (
        tuple(c.strip() for c in cols_raw.split(",") if c.strip())
        if cols_raw is not None
        else None
    )
    n = int(n_raw) if n_raw is not None else None
    if n is not None and n < 0:
        n = None  # Delta's -1: index every column
    if cols is None and n is None:
        return None
    return StatsSpec(cols, n)


def footer_stats(path: str, spec: StatsSpec | None = None) -> str | None:
    """Delta-style stats JSON from the parquet footer of one file:
    ``{"numRecords": N, "minValues": {...}, "maxValues": {...},
    "nullCount": {...}}``. Returns None if the footer is unreadable.

    ``spec`` restricts which columns get min/max/nullCount (see
    StatsSpec).  Positions count PHYSICAL file columns — for
    partitioned tables the partition columns live in the directory
    tree, not the file, so "first N" counts data columns only (their
    values are exact in ``add.partitionValues`` anyway; per-file
    stats would be redundant)."""
    import pyarrow.parquet as pq

    local = _to_local(path)
    try:
        if local is not None:
            md = pq.ParquetFile(local).metadata
        else:
            import fsspec

            fs, p = fsspec.core.url_to_fs(path)
            md = pq.ParquetFile(fs.open(p, "rb")).metadata
    except Exception:
        return None

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    positions: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested stats omitted (top-level only)
            pos = positions.setdefault(name, len(positions))
            if spec is not None and not spec.allows(name, pos):
                continue
            st = col.statistics
            if st is None:
                continue
            if st.has_min_max:
                raw_lo, raw_hi = _stat_min_max(st)
                lo, hi = _jsonable(raw_lo, -1), _jsonable(raw_hi, 1)
                if lo is not None and (name not in mins or lo < mins[name]):
                    mins[name] = lo
                if hi is not None and (name not in maxs or hi > maxs[name]):
                    maxs[name] = hi
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        separators=(",", ":"),
    )


def stats_for_files(
    files: list[FileMeta], spec: StatsSpec | None = None
) -> dict[str, str | None]:
    return {f.path: footer_stats(f.path, spec) for f in files}


def prune_files(
    add_stats: dict[str, str | None],
    files: list[str],
    column: str,
    lo=None,
    hi=None,
) -> list[str]:
    """File-level skip for a ``lo <= column <= hi`` predicate: keep a
    file unless its stats *prove* no row can match. Files without
    stats are always kept (skipping must be sound, never lossy)."""
    kept: list[str] = []
    for path in files:
        raw = add_stats.get(path)
        if not raw:
            kept.append(path)
            continue
        stats = json.loads(raw)
        fmin = stats.get("minValues", {}).get(column)
        fmax = stats.get("maxValues", {}).get(column)
        if fmin is None or fmax is None:
            kept.append(path)
            continue
        if lo is not None and fmax < lo:
            continue
        if hi is not None and fmin > hi:
            continue
        kept.append(path)
    return kept
