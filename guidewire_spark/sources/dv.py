"""Deletion vectors — merge-on-read DELETE over the public Delta
protocol's ``add.deletionVector`` descriptor.

Copy-on-write DELETE (``writer.delete_from``) rewrites every file that
contains a match; at 100 TB a GDPR-style erasure touching one row per
file rewrites the whole table.  Merge-on-read instead records WHICH
ROW INDEXES are dead in a per-file deletion vector carried on the
``add`` action, and the read path subtracts them — a metadata-sized
commit regardless of table size, the same trade Delta Lake ships as
deletion vectors (public PROTOCOL.md, "Deletion Vectors"; reader
applies the DV, OPTIMIZE / REORG APPLY (PURGE) folds it back into a
physical rewrite).

Descriptor shape follows the protocol's inline channel::

    {"storageType": "i", "pathOrInlineDv": "<Z85 payload>",
     "sizeInBytes": <len(payload bytes)>, "cardinality": <n rows>}

Payload format: the protocol-standard RoaringBitmapArray ("portable"
64-bit layout, Z85 text encoding) — the byte shape a real delta-spark
reader applies, conformance-tested against the spec's canonical
vectors in test_dv.py — so tables this engine MOR-deletes are
externally readable.  It is the only format: a payload that is not a
RoaringBitmapArray is rejected on read.

Scale design of the READ side: deleted (file, row_index) pairs join
against the scan on Spark's parquet ``_metadata.row_index`` /
``_metadata.file_path`` columns (JVM-generated, no Python).  The join
strategy is CARDINALITY-GUARDED (round-6 verdict): below
``BROADCAST_DV_MAX_ROWS`` total cardinality (summed from descriptor
metadata, no decode needed) the vectors are decoded on the driver and
broadcast — the cheap path while ``delete_auto`` keeps MOR deletes
sparse.  Above it (direct ``delete_from_mor`` calls accumulate
unboundedly via ``merge_dv``; at 100 TB a 0.1% MOR-deleted fraction
is ~1e8 indexes), the inline payloads are decoded EXECUTOR-SIDE — a
``mapInPandas`` over the one-row-per-file descriptor frame — and the
anti-join shuffles, so no index list ever materializes on the driver.

Scale design of the WRITE side: newly deleted row indexes are
aggregated and roaring-ENCODED executor-side (``applyInPandas`` per
file); the driver collects one (path, payload, cardinality) row per
touched file — compressed bytes (≤ 2 B/row), never Python row
objects — because the inline descriptor does ultimately live in the
commit JSON.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Columns the DV machinery appends to a scan; stripped before results
# leave the read path.
META_FILE = "__dv_file"
META_ROW = "__dv_row"

_STORAGE_INLINE = "i"


# ---------------------------------------------------------------------------
# Protocol-standard payloads: Z85 text encoding + RoaringBitmapArray
# ("portable" 64-bit format), the byte layout real Delta readers apply.
# ---------------------------------------------------------------------------

# Z85 (ZeroMQ 32/Z85, the alphabet Delta's Base85Codec uses): 4-byte
# big-endian blocks → 5 chars.  Delta pads undersized tails with zero
# bytes; sizeInBytes records the true payload length for the trim.
_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

# RoaringBitmapArray magic (the "portable" 64-bit serialization), and
# the 32-bit roaring spec's no-run-container cookie.
_ROARING_ARRAY_MAGIC = 1681511377
_ROARING_COOKIE_NO_RUN = 12346
_ARRAY_CONTAINER_MAX = 4096


def z85_encode(raw: bytes) -> str:
    pad = (-len(raw)) % 4
    data = raw + b"\x00" * pad
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        block = []
        for _ in range(5):
            block.append(_Z85_CHARS[n % 85])
            n //= 85
        out.extend(reversed(block))
    return "".join(out)


def z85_decode(text: str, true_len: int | None = None) -> bytes:
    if len(text) % 5:
        raise ValueError("Z85 input length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i : i + 5]:
            if c not in _Z85_INDEX:
                raise ValueError(f"{c!r} is not a Z85 character")
            n = n * 85 + _Z85_INDEX[c]
        if n > 0xFFFFFFFF:
            raise ValueError("Z85 block overflows 32 bits")
        out += n.to_bytes(4, "big")
    return bytes(out[:true_len]) if true_len is not None else bytes(out)


def serialize_roaring_array(indexes) -> bytes:
    """Sorted-unique row indexes → RoaringBitmapArray 'portable'
    bytes: [magic int32 LE][numBitmaps int64 LE] then per bitmap
    [key int32 LE][32-bit roaring 'portable' spec bytes] — the 64-bit
    value's high 32 bits pick the bitmap, the low 32 live in it.
    Containers use the no-run-container layout (cookie 12346, always
    with the offset table): array containers (<=4096 values, uint16
    LE each) or 8 KiB bitset containers — valid under the public
    RoaringFormatSpec, so any conforming reader accepts it."""
    import struct

    by_high: dict[int, list[int]] = {}
    for v in indexes:
        by_high.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", _ROARING_ARRAY_MAGIC, len(by_high)))
    for high in sorted(by_high):
        out += struct.pack("<i", high)
        out += _serialize_roaring32(sorted(by_high[high]))
    return bytes(out)


def _serialize_roaring32(values: list[int]) -> bytes:
    import struct

    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    out = bytearray(struct.pack("<II", _ROARING_COOKIE_NO_RUN, n))
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    pos = 8 + 4 * n + 4 * n  # cookie+count, headers, offset table
    offsets = []
    for k in keys:
        offsets.append(pos)
        card = len(containers[k])
        pos += card * 2 if card <= _ARRAY_CONTAINER_MAX else 8192
    for o in offsets:
        out += struct.pack("<I", o)
    for k in keys:
        vals = containers[k]
        if len(vals) <= _ARRAY_CONTAINER_MAX:
            out += struct.pack(f"<{len(vals)}H", *vals)
        else:
            bitset = bytearray(8192)
            for v in vals:
                bitset[v >> 3] |= 1 << (v & 7)
            out += bitset
    return bytes(out)


def deserialize_roaring_array(raw: bytes) -> list[int]:
    import struct

    if len(raw) < 12:
        raise ValueError(f"not a RoaringBitmapArray payload ({len(raw)} bytes)")
    magic, n_bitmaps = struct.unpack_from("<iq", raw, 0)
    if magic != _ROARING_ARRAY_MAGIC:
        raise ValueError(f"not a RoaringBitmapArray payload (magic {magic})")
    pos = 12
    out: list[int] = []
    for _ in range(n_bitmaps):
        (high,) = struct.unpack_from("<i", raw, pos)
        pos += 4
        lows, pos = _deserialize_roaring32(raw, pos)
        out.extend((high << 32) | lo for lo in lows)
    return out


def _deserialize_roaring32(raw: bytes, start: int) -> tuple[list[int], int]:
    import struct

    cookie, n = struct.unpack_from("<II", raw, start)
    if cookie != _ROARING_COOKIE_NO_RUN:
        raise ValueError(f"unsupported roaring cookie {cookie}")
    headers = [
        struct.unpack_from("<HH", raw, start + 8 + 4 * i) for i in range(n)
    ]
    offsets = [
        struct.unpack_from("<I", raw, start + 8 + 4 * n + 4 * i)[0]
        for i in range(n)
    ]
    values: list[int] = []
    end = start
    for (key, card_minus_1), off in zip(headers, offsets):
        card = card_minus_1 + 1
        pos = start + off
        if card <= _ARRAY_CONTAINER_MAX:
            vals = struct.unpack_from(f"<{card}H", raw, pos)
            end = max(end, pos + card * 2)
        else:
            bitset = raw[pos : pos + 8192]
            vals = [
                (byte_i << 3) | bit
                for byte_i, b in enumerate(bitset)
                if b
                for bit in range(8)
                if b & (1 << bit)
            ]
            end = max(end, pos + 8192)
        values.extend((key << 16) | v for v in vals)
    return values, end


def encode_dv(indexes) -> dict:
    """Sorted-unique row indexes → inline descriptor: a protocol-standard
    RoaringBitmapArray, Z85-encoded.  Rejects negatives — parquet row
    indexes are 0-based."""
    idx = sorted(set(int(i) for i in indexes))
    if idx and idx[0] < 0:
        raise ValueError(f"negative row index {idx[0]} in deletion vector")
    raw = serialize_roaring_array(idx)
    return {
        "storageType": _STORAGE_INLINE,
        "pathOrInlineDv": z85_encode(raw),
        "sizeInBytes": len(raw),
        "cardinality": len(idx),
    }


def decode_dv(descriptor: dict) -> list[int]:
    """Inline descriptor → sorted row-index list (inverse of
    :func:`encode_dv`).  Raises ``ValueError`` on a payload that is not
    a RoaringBitmapArray, or whose row count disagrees with the
    descriptor's ``cardinality``."""
    if descriptor.get("storageType") != _STORAGE_INLINE:
        raise ValueError(
            f"unsupported deletion-vector storageType "
            f"{descriptor.get('storageType')!r} (this engine writes inline)"
        )
    out = sorted(
        deserialize_roaring_array(
            z85_decode(descriptor["pathOrInlineDv"], descriptor.get("sizeInBytes"))
        )
    )
    if len(out) != descriptor.get("cardinality", len(out)):
        raise ValueError(
            f"deletion vector cardinality mismatch: payload has "
            f"{len(out)}, descriptor says {descriptor.get('cardinality')}"
        )
    return out


def merge_dv(existing: dict | None, new_indexes) -> dict:
    """Union an existing descriptor (or None) with newly deleted row
    indexes — successive MOR deletes on one file accumulate into ONE
    descriptor (the protocol allows at most one DV per live add)."""
    idx = set(new_indexes)
    if existing is not None:
        idx.update(decode_dv(existing))
    return encode_dv(idx)


def scan_with_row_index(
    spark: SparkSession, schema: T.StructType | None, paths: list[str]
) -> DataFrame:
    """Parquet scan carrying (file path, row index) — Spark's
    ``_metadata`` struct, generated JVM-side during the scan (no
    Python, no window).  The file key is the scheme-stripped absolute
    path (``file:///a/b`` → ``/a/b``): base names are NOT unique
    across hive partition directories (one write job reuses its UUID
    in every partition's part file), so only the full path
    disambiguates."""
    from guidewire_spark.sources.snapshot import physical_name

    reader = spark.read
    if schema is not None:
        phys = T.StructType(
            [
                # keep field metadata (EXISTS_DEFAULT et al.) visible
                # to the reader — defaulted columns must fill on DV'd
                # files exactly as on plain ones
                T.StructField(
                    physical_name(f),
                    f.dataType,
                    f.nullable,
                    metadata=f.metadata,
                )
                for f in schema.fields
            ]
        )
        reader = reader.schema(phys)
    df = reader.parquet(*paths).select(
        "*",
        F.regexp_replace(
            F.col("_metadata.file_path"), "^file:/+", "/"
        ).alias(META_FILE),
        F.col("_metadata.row_index").alias(META_ROW),
    )
    if schema is not None:
        keep = [
            F.col(physical_name(f)).alias(f.name) for f in schema.fields
        ]
        df = df.select(*keep, META_FILE, META_ROW)
    return df


# Above this many total deleted row indexes (summed descriptor
# cardinality), the read path stops decoding vectors on the driver and
# decodes them executor-side with a shuffle anti-join instead.  2e6
# (path, long) rows is ~100 MB of broadcast — comfortably under the
# 8 GB broadcast cap with headroom for wide paths.  Module-level so
# tests (and operators) can tighten it.
BROADCAST_DV_MAX_ROWS = 2_000_000


def normalize_path(path: str) -> str:
    """The DV join key for a log file path: absolute, scheme-stripped,
    and URI-percent-encoded EXACTLY the way Spark's
    ``_metadata.file_path`` renders it (java.net.URI path encoding:
    space and other non-URI-path bytes become %XX, while the
    sub-delims ``!$&'()*+,;=`` and ``:@~`` stay literal — verified
    empirically against the scan side, which
    :func:`scan_with_row_index` leaves in encoded form).  Without the
    matching encoding, a table path containing a space would KeyError
    on write and silently skip the anti-join on read."""
    import re
    from urllib.parse import quote

    # Strip the file: scheme BEFORE abspath: abspath of a still-
    # schemed 'file:///tmp/x' would glue it under the cwd
    # ('<cwd>/file:/tmp/x') and the regex would never fire.
    bare = os.path.abspath(re.sub("^file:/+", "/", path))
    return quote(bare, safe="/!$&'()*+,;=:@~")


def deleted_rows_frame(
    spark: SparkSession, dvs: dict[str, dict]
) -> DataFrame:
    """``{file path: descriptor}`` → DataFrame of (normalized path,
    dead row index) pairs, the broadcast side of the anti-join.  Size
    is the total DV cardinality — bounded by deleted rows, not
    data."""
    rows = [
        (normalize_path(path), int(i))
        for path, d in dvs.items()
        for i in decode_dv(d)
    ]
    return spark.createDataFrame(
        rows, f"{META_FILE} string, {META_ROW} long"
    )


def dv_total_cardinality(dvs: dict[str, dict]) -> int:
    """Total deleted-row count across descriptors — read straight off
    the descriptor metadata, NO payload decode (that is the point: the
    routing decision must be free)."""
    return sum(int(d.get("cardinality", 0)) for d in dvs.values())


def deleted_rows_frame_distributed(
    spark: SparkSession, dvs: dict[str, dict]
) -> DataFrame:
    """Executor-side twin of :func:`deleted_rows_frame`: the driver
    ships only the descriptor rows — one per file, compressed bytes —
    and each executor decodes its files' payloads inside an
    Arrow-batched ``mapInPandas``, with the same cardinality check.  No
    row-index list ever materializes on the driver, so total DV
    cardinality is bounded by cluster memory, not driver memory.
    Decoded output is chunked so a single dense vector (one file, many
    millions of dead rows) still yields bounded Arrow batches."""
    import pandas as pd

    desc_rows = [(normalize_path(p), json.dumps(d)) for p, d in dvs.items()]
    n_part = max(
        1, min(len(desc_rows), spark.sparkContext.defaultParallelism)
    )
    desc = spark.createDataFrame(
        desc_rows, f"{META_FILE} string, __descriptor string"
    ).repartition(n_part, META_FILE)

    out_schema = T.StructType(
        [
            T.StructField(META_FILE, T.StringType()),
            T.StructField(META_ROW, T.LongType()),
        ]
    )
    chunk = 1 << 20

    def _decode(batches):
        for pdf in batches:
            for path, desc_json in zip(pdf[META_FILE], pdf["__descriptor"]):
                idx = decode_dv(json.loads(desc_json))
                for lo in range(0, len(idx), chunk):
                    part = idx[lo : lo + chunk]
                    yield pd.DataFrame(
                        {META_FILE: [path] * len(part), META_ROW: part}
                    )

    return desc.mapInPandas(_decode, out_schema)


def dead_rows_for_join(
    spark: SparkSession, dvs: dict[str, dict]
) -> tuple[DataFrame, bool]:
    """Route the anti-join side by total cardinality: (frame,
    broadcastable).  Small vectors decode on the driver and broadcast;
    large ones decode executor-side and shuffle."""
    if dv_total_cardinality(dvs) <= BROADCAST_DV_MAX_ROWS:
        return deleted_rows_frame(spark, dvs), True
    return deleted_rows_frame_distributed(spark, dvs), False


def subtract_dead_rows(
    df: DataFrame, spark: SparkSession, dvs: dict[str, dict]
) -> DataFrame:
    """LEFT ANTI the dead (file, row) pairs out of a
    :func:`scan_with_row_index`-shaped frame, keeping the metadata
    columns: broadcast below the cardinality guard, shuffled above it.
    Every read, rewrite and change-feed diff calls it through
    ``snapshot.scan_live_files``, so the guard holds on all of them."""
    if not dvs:
        return df
    dead, small = dead_rows_for_join(spark, dvs)
    dead = F.broadcast(dead) if small else dead
    return df.join(dead, [META_FILE, META_ROW], "left_anti")


def encode_dead_rows(
    spark: SparkSession, hits: DataFrame, existing: dict[str, dict]
) -> dict[str, dict]:
    """Newly dead (``META_FILE``, ``META_ROW``) rows + the table's
    existing descriptors → ``{normalized path: merged inline
    descriptor}`` for every TOUCHED file.

    The union-with-existing and the roaring/Z85 encode both run
    EXECUTOR-side (``applyInPandas`` keyed by file), so the driver
    never holds a Python list of row indexes — it collects one
    (path, payload, cardinality) row per touched file, compressed
    bytes only.  This is the write-path half of the DV scale guard:
    a 1e8-row MOR delete moves ~1e8 longs through a shuffle and
    ~100-500 MB of payload to the driver, not ~10 GB of Row objects.
    Files with an existing vector but no new hits are left alone
    (the left join keys off the hits side)."""
    import pandas as pd

    exist_rows = [(normalize_path(p), json.dumps(d)) for p, d in existing.items()]
    if exist_rows:
        ex = spark.createDataFrame(
            exist_rows, f"{META_FILE} string, __existing string"
        )
        joined = hits.join(F.broadcast(ex), META_FILE, "left")
    else:
        joined = hits.withColumn("__existing", F.lit(None).cast("string"))

    out_schema = T.StructType(
        [
            T.StructField(META_FILE, T.StringType()),
            T.StructField("__payload", T.StringType()),
            T.StructField("__size", T.LongType()),
            T.StructField("__card", T.LongType()),
        ]
    )

    def _encode(key, pdf):
        prior = pdf["__existing"].dropna().unique()
        d = merge_dv(
            json.loads(prior[0]) if len(prior) else None,
            (int(i) for i in pdf[META_ROW]),
        )
        return pd.DataFrame(
            {
                META_FILE: [key[0]],
                "__payload": [d["pathOrInlineDv"]],
                "__size": [d["sizeInBytes"]],
                "__card": [d["cardinality"]],
            }
        )

    collected = (
        joined.groupBy(META_FILE).applyInPandas(_encode, out_schema).collect()
    )
    return {
        r[META_FILE]: {
            "storageType": _STORAGE_INLINE,
            "pathOrInlineDv": r["__payload"],
            "sizeInBytes": int(r["__size"]),
            "cardinality": int(r["__card"]),
        }
        for r in collected
    }
