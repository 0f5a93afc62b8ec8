"""Per-file bloom-filter indexes: point-lookup file skipping for
non-partition, non-clustered keys.

Min/max stats skipping (stats.py) answers RANGE predicates; it is
useless for a point lookup on a column the table is not sorted or
clustered by (every file's [min, max] straddles the probe).  The
standard warehouse answer — Databricks documents it publicly for
Delta as the bloom filter index, and Parquet carries the same idea
per row group (PARQUET-41) — is a per-data-file Bloom filter
(Bloom, CACM 1970): a bitset sized so membership tests are wrong
only with probability ``fpp``, and only in the KEEP direction, so
skipping stays sound.

Design (own implementation; only the public concept is shared):

- Sidecars, not log actions.  Each indexed data file gets one JSON
  sidecar under ``<table>/_gw_bloom/``, named by the data file's
  percent-encoded table-relative path, holding a bitset per indexed
  column.  Underscore-prefixed directories are
  invisible to Delta readers and to VACUUM (the spec's hidden-file
  rule), so the index is purely advisory: any plain reader — and any
  file the index does not cover — behaves exactly as before.  This
  mirrors the public ``_delta_index`` sidecar layout rather than a
  protocol feature: no reader anywhere has to understand blooms.
- Hashing is JVM-side and engine-pinned.  Bit positions derive from
  ``xxhash64(col)`` / ``xxhash64(col, SALT)`` via double hashing
  (Kirsch & Mitzenmacher 2006: pos_i = h1 + i*h2 mod m).  The SAME
  Spark expression hashes build values and probe values, so there is
  no cross-language hash drift to get wrong — Python only packs and
  tests bits, in numpy, on uint64.
- Build is executor-side end to end.  One scan of the files to
  index, grouped by ``_metadata.file_path``; each group packs its
  bitsets and writes its OWN sidecar next to the data (temp file +
  atomic rename), returning only a manifest row.  The driver never
  holds a bitset: at 100 TB the index build is an ordinary
  shuffle-by-file job whose driver traffic is one row per file.
- Probing is executor-side too.  Candidate files (already min/max-
  pruned) fan out as a one-column DataFrame; ``mapInPandas`` loads
  each sidecar from shared storage, tests every probe value, and
  returns (path, keep).  The driver collects only kept paths —
  metadata-scale — then reads those files through the ordinary
  partition- and deletion-vector-aware scan.
- Maintenance is append-only and sound by default.  Files written
  after indexing (appends, OPTIMIZE output, merge rewrites) simply
  have no sidecar and are always kept; ``reindex_bloom`` covers them
  incrementally — a sidecar is keyed by the data file's table-
  relative path PLUS a hash of the covered column set, so coverage
  is an O(1) existence check (data files are immutable once
  committed; a config change retags the names and stale sidecars
  fall out of match).  ``vacuum_bloom_sidecars`` deletes sidecars
  whose data file left the live set or whose column-set tag was
  superseded.  Merge-on-read deletes need nothing: a DV only ever
  makes a bloom's answer a false POSITIVE, which is the sound
  direction.

Reference parity: the reference connector (README.md:33-43) promises
its Delta output is queryable by any engine at CDC scale; bloom
sidecars are the standard point-lookup companion for that promise on
keys the layout does not sort by.
"""

from __future__ import annotations

import base64
import json
import math
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_DIR = "_gw_bloom"
CONFIG_COLUMNS = "gw.bloomIndex.columns"
CONFIG_FPP = "gw.bloomIndex.fpp"
# Fixed second-hash salt (32-bit golden ratio, the classic double-
# hashing constant).  Build and probe must agree on it forever; it is
# part of the sidecar format, recorded in every sidecar as `salt`.
_SALT = -1640531527
_FORMAT = "xxhash64-double-v1"
_MAX_K = 16


def _colset_tag(columns: list[str]) -> str:
    """Short stable hash of the SORTED covered-column set, baked into
    the sidecar NAME: coverage ("does this file's index carry every
    configured column?") becomes an O(1) existence check instead of
    parsing each sidecar's full JSON — at 100k files the old check
    dragged the entire index (bitsets included) through the driver on
    every reindex.  A column-set change yields a different name, so
    stale-config sidecars simply stop matching (probe: sound keep;
    reindex: rebuild; vacuum: GC)."""
    import hashlib

    return hashlib.sha256(
        ",".join(sorted(columns)).encode("utf-8")
    ).hexdigest()[:8]


def _sidecar_name(table_path: str, data_file: str, columns: list[str]) -> str:
    """Flat sidecar name from the data file's table-relative path,
    percent-encoded (partitioned writes reuse part-file basenames
    across ``col=value`` dirs, so the basename alone collides), plus
    the covered-column-set tag."""
    from urllib.parse import quote

    rel = os.path.relpath(os.path.abspath(data_file), os.path.abspath(table_path))
    return quote(rel, safe="") + f".bloom.{_colset_tag(columns)}.json"


def _sidecar_path(table_path: str, data_file: str, columns: list[str]) -> str:
    return os.path.join(
        table_path, BLOOM_DIR, _sidecar_name(table_path, data_file, columns)
    )


def _size_filter(n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) for ``n`` items at target false-positive rate —
    the textbook optimum m = -n ln p / (ln 2)^2, k = (m/n) ln 2,
    with m rounded up to whole bytes and k clamped to [1, 16]."""
    n = max(1, n)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, min(_MAX_K, int(round(m / n * math.log(2)))))
    return m, k


def _set_bits(bits, h1, h2, k: int, m: int) -> None:
    """Set the k double-hashed positions of every (h1, h2) pair in the
    byte-array ``bits``.  All arithmetic on uint64 (numpy wraps
    modularly, which is exactly the semantic double hashing needs) —
    the probe side runs the identical function, so build and test can
    never disagree on a position."""
    import numpy as np

    mm = np.uint64(m)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % mm
        np.bitwise_or.at(bits, (pos // np.uint64(8)).astype(np.int64),
                         np.left_shift(np.uint8(1), (pos % np.uint64(8)).astype(np.uint8)))


def _test_bits(bits, h1: int, h2: int, k: int, m: int) -> bool:
    """Python-int twin of _set_bits' position math: mask to 64 bits
    at every step, which is exactly numpy's uint64 wraparound."""
    mask = (1 << 64) - 1
    h1u, h2u = h1 & mask, h2 & mask
    for i in range(k):
        pos = ((h1u + i * h2u) & mask) % m
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def bloom_columns(table_path: str) -> list[str]:
    from guidewire_spark.sources.writer import table_configuration

    raw = table_configuration(table_path).get(CONFIG_COLUMNS, "")
    return [c for c in raw.split(",") if c]


def _hash_exprs(columns: list[str]) -> list:
    """Per indexed column: xxhash64 pair plus a not-null flag.  The
    hashes are deliberately NOT masked to NULL: a nullable int64
    column crosses Arrow→pandas as float64, which silently mangles
    hashes above 2^53 (wrong bit positions → false negatives — the
    unsound direction).  xxhash64 never returns NULL, so the columns
    stay exact int64 end to end; the flag drops NULL rows Python-side
    (indexing them would charge every filter for rows no equality
    predicate can match)."""
    exprs = []
    for idx, c in enumerate(columns):
        exprs.append(F.xxhash64(F.col(c)).alias(f"__h1_{idx}"))
        exprs.append(F.xxhash64(F.col(c), F.lit(_SALT)).alias(f"__h2_{idx}"))
        exprs.append(F.col(c).isNotNull().alias(f"__nn_{idx}"))
    return exprs


def create_bloom_index(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    fpp: float | None = None,
) -> dict[str, int]:
    """CREATE BLOOMFILTER INDEX: record the indexed columns in the
    table configuration (a metadata-only commit — advisory, no
    protocol feature) and build sidecars for every live file that
    lacks one.  Returns {data_file: indexed_row_count}.

    ``fpp``: explicit value updates the table setting (applies to
    sidecars built from now on); None keeps the existing setting
    (default 0.01)."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import (
        set_table_properties,
        table_configuration,
    )

    snap = load_snapshot(table_path)
    for c in columns:
        if snap.schema is None or c not in snap.schema.fieldNames():
            raise ValueError(f"bloom index column {c!r} not in table schema")
    existing = bloom_columns(table_path)
    merged = existing + [c for c in columns if c not in existing]
    props: dict[str, str] = {CONFIG_COLUMNS: ",".join(merged)}
    if fpp is not None:
        props[CONFIG_FPP] = repr(fpp)
    elif CONFIG_FPP not in table_configuration(table_path):
        props[CONFIG_FPP] = repr(0.01)
    set_table_properties(table_path, props)
    return reindex_bloom(spark, table_path)


def reindex_bloom(spark: SparkSession, table_path: str) -> dict[str, int]:
    """Index every live file that has no sidecar yet (new appends,
    OPTIMIZE output, rewrite survivors).  Incremental by
    construction: committed data files are immutable, so an existing
    sidecar is never stale for a LIVE file and is simply skipped.
    The build is one executor-side pass over only the missing files."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import table_configuration

    columns = bloom_columns(table_path)
    if not columns:
        return {}
    fpp = float(table_configuration(table_path).get(CONFIG_FPP, "0.01"))
    snap = load_snapshot(table_path)
    # Partition columns live in the directory tree, not the files;
    # blooms only index physical (data-file) columns.
    physical = [c for c in columns if c not in (snap.partition_columns or [])]
    if not physical:
        return {}
    # A file is covered only if its sidecar carries EVERY configured
    # column: indexing a second column later must rebuild the old
    # sidecars, not skip them (a missing column is sound at probe
    # time — always-keep — but would silently never start pruning).
    todo = [
        p
        for p in snap.files
        if not os.path.exists(_sidecar_path(table_path, p, physical))
    ]
    if not todo:
        return {}
    from guidewire_spark.sources.snapshot import read_files_with_schema

    data_schema = T.StructType(
        [f for f in snap.schema.fields if f.name not in (snap.partition_columns or [])]
    )
    src = (
        read_files_with_schema(spark, data_schema, todo)
        .select(
            F.col("_metadata.file_path").alias("__fp"), *_hash_exprs(physical)
        )
    )

    table_dir, fpp_val, cols = table_path, fpp, list(physical)

    def build(pdf):
        import numpy as np
        import pandas as pd

        # _metadata.file_path is a URI (scheme + percent-encoding:
        # a space in the table path renders %20) — decode it back to
        # the log-side path the snapshot, probe, and vacuum key on
        # (the inverse of dv.normalize_path's log→URI direction).
        import re as _re
        from urllib.parse import unquote as _unquote

        fp = _unquote(_re.sub(r"^file:/+", "/", pdf["__fp"].iloc[0]))
        side_name = _sidecar_name(table_dir, fp, cols)
        payload: dict = {"format": _FORMAT, "salt": _SALT, "columns": {}}
        for idx, c in enumerate(cols):
            keep_rows = pdf[f"__nn_{idx}"].to_numpy(dtype=bool)
            h1 = pdf[f"__h1_{idx}"][keep_rows]
            h2 = pdf[f"__h2_{idx}"][keep_rows]
            n = len(h1)
            m, k = _size_filter(n, fpp_val)
            bits = np.zeros(m // 8, dtype=np.uint8)
            if n:
                _set_bits(
                    bits,
                    h1.to_numpy(dtype=np.int64).view(np.uint64),
                    h2.to_numpy(dtype=np.int64).view(np.uint64),
                    k,
                    m,
                )
            payload["columns"][c] = {
                "m_bits": m,
                "k": k,
                "num_items": n,
                "bits": base64.b64encode(bits.tobytes()).decode("ascii"),
            }
        # Executors write their own sidecar to shared storage (same
        # trust model as writing the data file itself); temp + rename
        # keeps a concurrent probe from seeing a torn filter.
        side_dir = os.path.join(table_dir, BLOOM_DIR)
        os.makedirs(side_dir, exist_ok=True)
        final = os.path.join(side_dir, side_name)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f, separators=(",", ":"))
        os.replace(tmp, final)
        return pd.DataFrame({"path": [fp], "num_items": [len(pdf)]})

    manifest = (
        src.groupBy("__fp")
        .applyInPandas(build, "path string, num_items long")
        .collect()
    )
    out = {r["path"]: r["num_items"] for r in manifest}
    # Committed ZERO-ROW files yield no group above, so no executor
    # wrote their sidecar; without one they would re-enter `todo` on
    # every reindex (incl. OPTIMIZE's self-maintenance) and schedule
    # a scan job forever.  Write their empty-bloom sidecars here —
    # all-zero bitsets, so every probe prunes them, which is exact
    # for a file with no rows.  Driver-side is fine: the work is
    # O(empty files) tiny JSONs, no data involved.
    for p in todo:
        side = _sidecar_path(table_path, p, physical)
        if os.path.exists(side):
            continue
        m, k = _size_filter(0, fpp)
        empty = base64.b64encode(bytes(m // 8)).decode("ascii")
        payload = {
            "format": _FORMAT,
            "salt": _SALT,
            "columns": {
                c: {"m_bits": m, "k": k, "num_items": 0, "bits": empty}
                for c in physical
            },
        }
        os.makedirs(os.path.dirname(side), exist_ok=True)
        tmp = side + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f, separators=(",", ":"))
        os.replace(tmp, side)
        out[p] = 0
    return out


def _probe_hashes(
    spark: SparkSession, dtype, values: list
) -> list[tuple[int, int]]:
    """Hash probe values with the SAME JVM expressions the build used,
    cast to the indexed column's exact type first (xxhash64 is
    type-sensitive: hashing 42 as INT and as BIGINT differ)."""
    df = spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField("v", dtype)])
    )
    rows = (
        df.where(F.col("v").isNotNull())
        .select(
            F.xxhash64("v").alias("h1"),
            F.xxhash64("v", F.lit(_SALT)).alias("h2"),
        )
        .collect()
    )
    return [(r["h1"], r["h2"]) for r in rows]


def bloom_kept_files(
    spark: SparkSession, table_path: str, column: str, values: list, snap=None
) -> list[str]:
    """Files that MAY contain ``column IN (values)`` per their bloom
    sidecars.  Sound, never lossy: files without a sidecar (or without
    this column's filter) are always kept; a bloom can only err by
    keeping.  Membership tests run executor-side over the candidate
    file list; the driver receives kept paths only.

    ``snap``: pass a preloaded snapshot so a multi-step read (prune +
    scan) sees ONE version — loading twice would let a concurrent
    commit slip a DV or a new file between the two views."""
    if snap is None:
        from guidewire_spark.sources.snapshot import load_snapshot

        snap = load_snapshot(table_path)
    if not snap.files:
        return []
    dtype = snap.schema[column].dataType
    probes = _probe_hashes(spark, dtype, values)
    if not probes:
        return []  # all-NULL probe list: equality can never match
    # Stack with min/max skipping first: a file whose stats disprove
    # the whole [min(values), max(values)] range never even gets its
    # sidecar opened.  The two prunes err in the same (keep) direction,
    # so the composition stays sound.
    non_null = [v for v in values if v is not None]
    candidates = snap.files
    try:
        candidates = snap.pruned_files(column, min(non_null), max(non_null))
    except TypeError:
        pass  # mixed/unorderable probe types: bloom-only pruning
    if not candidates:
        return []
    configured = [
        c
        for c in (snap.configuration.get(CONFIG_COLUMNS, "") or "").split(",")
        if c and c not in (snap.partition_columns or [])
    ]
    table_dir, col, k_probes, side_cols = table_path, column, probes, configured

    def test(iterator):
        import pandas as pd

        for pdf in iterator:
            keep = []
            for fp in pdf["path"]:
                side = _sidecar_path(table_dir, fp, side_cols)
                try:
                    with open(side, encoding="utf-8") as f:
                        payload = json.load(f)
                    spec = payload["columns"][col]
                except (OSError, KeyError, ValueError):
                    keep.append(True)  # unindexed file: sound keep
                    continue
                if (
                    payload.get("format") != _FORMAT
                    or payload.get("salt") != _SALT
                ):
                    # a sidecar hashed under another scheme/salt would
                    # test WRONG positions — false negatives, the
                    # unsound direction; an unrecognized format must
                    # degrade to keep, exactly like no sidecar
                    keep.append(True)
                    continue
                bits = base64.b64decode(spec["bits"])
                keep.append(
                    any(
                        _test_bits(bits, h1, h2, spec["k"], spec["m_bits"])
                        for h1, h2 in k_probes
                    )
                )
            yield pd.DataFrame({"path": pdf["path"], "keep": keep})

    files_df = spark.createDataFrame(
        [(p,) for p in candidates], "path string"
    )
    kept = (
        files_df.mapInPandas(test, "path string, keep boolean")
        .where("keep")
        .select("path")
        .collect()
    )
    return [r["path"] for r in kept]


def read_bloom_filtered(
    spark: SparkSession, table_path: str, column: str, values: list
) -> DataFrame:
    """Point-lookup scan: bloom-prune the file list, then read ONLY
    the kept files through the partition- and DV-aware scan, with the
    exact predicate re-applied as the residual filter (blooms admit
    false positives; the residual keeps the result exact)."""
    from guidewire_spark.sources.snapshot import load_snapshot, scan_live_files

    snap = load_snapshot(table_path)
    kept = bloom_kept_files(spark, table_path, column, values, snap=snap)
    return scan_live_files(spark, snap, kept).where(F.col(column).isin(values))


def vacuum_bloom_sidecars(table_path: str) -> list[str]:
    """Delete sidecars whose data file is no longer in the live set
    (the bloom analogue of VACUUM).  Returns removed sidecar paths."""
    from guidewire_spark.sources.snapshot import load_snapshot

    side_dir = os.path.join(table_path, BLOOM_DIR)
    if not os.path.isdir(side_dir):
        return []
    snap = load_snapshot(table_path)
    current = [
        c
        for c in bloom_columns(table_path)
        if c not in (snap.partition_columns or [])
    ]
    live = {_sidecar_name(table_path, p, current) for p in snap.files}
    removed = []
    for name in os.listdir(side_dir):
        # matches any column-set tag: a sidecar is garbage if its data
        # file is gone OR it was built under a superseded column set
        if re.search(r"\.bloom\.[0-9a-f]{8}\.json$", name) and name not in live:
            full = os.path.join(side_dir, name)
            os.remove(full)
            removed.append(full)
    return removed
