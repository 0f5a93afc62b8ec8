"""CDA commit folders as a native Spark STREAMING source (Spark 4
Python DataSourceStreamReader).

Reference parity: the reference's incremental story is "re-run the
job; new timestamp folders become new Delta commits"
(`/root/reference/README.md:39-43`, the Guidewire.scala batch loop).
This module re-expresses that subscribe loop as a first-class
``spark.readStream.format("gw_cda_stream")`` source: the stream's
OFFSETS are the CDA commit timestamps themselves, each micro-batch's
partitions are the parquet files of the commit folders inside
``(start, end]``, and Spark's own offset checkpointing provides
exactly-once over the folder feed — no side-channel watermark file,
no re-listing of already-consumed commits.

Scale shape: ``latestOffset`` is one directory listing (metadata,
driver-side, proportional to commit count, never data size);
``partitions`` returns ONE InputPartition PER PARQUET FILE, so a
micro-batch's read parallelism equals its file count and each
executor streams its file as Arrow record batches (zero rows through
the driver).  A 1000-executor cluster drains a day of CDA commits at
file-level parallelism, exactly like the batch indexer's fan-out.

Scope: one schema fingerprint directory per stream (the common tail
case — new commits land under the manifest's LATEST fingerprint).
Historical schema evolution across fingerprints is the batch
indexer's job (`sources/indexer.py`); a stream subscribes to the
post-evolution feed.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


from guidewire_spark.sources.manifest import _ts_int


def _is_remote(path: str) -> bool:
    """True for object-store schemes (s3://, memory://, …) — anything
    the connector delegates to fsspec.  Bare paths and file:// are the
    local POSIX arm."""
    from urllib.parse import urlparse

    return urlparse(path).scheme not in ("", "file")


def _sink_marker_ts(root: str) -> int | None:
    """``lastSuccessfulWriteTimestamp`` from the table-level marker
    manifest a marker-last sink publish maintains NEXT TO the
    fingerprint dir (``<table_dir>/manifest.json``), or None when no
    marker governs this tree.

    This is the reader half of the object-store commit protocol (see
    ``_CdaRemoteArrowWriter``), and the same gate the reference's own
    readers apply (``Guidewire.scala:133-137``): a commit folder with
    ts beyond the marker is an in-flight publish, not a commit.
    Non-sink trees (the POSIX sink's rename-published folders,
    reference-produced feeds) have no such file and list ungated; a
    FOREIGN manifest.json is treated the same way.  A CORRUPT one
    splits by arm: on object-store trees it fails the listing loudly
    (the remote sink's visibility gate IS this marker — folders beyond
    a corrupt one could be in-flight publishes), while on local trees
    it lists ungated (the POSIX sink publishes by atomic rename, so
    every listed folder is complete regardless of any marker).
    "Corrupt" covers every shape whose gate cannot be read, not just
    invalid JSON: a non-object document, a non-object or
    non-watermark-bearing entry under this table's key, and an
    unparseable ``epochWatermarks`` value for this fingerprint
    (silently widening that gate to the shared watermark would expose
    exactly the part-filled folder the field exists to hide).  The
    remote arm additionally refuses a KEY-MATCHED entry whose
    ``dataFilesPath`` claims a different deployment — a copied
    manifest standing where this table's marker should be; the local
    arm keeps adopting by key, because a local MIRROR of a remote
    tree legitimately carries a marker naming the remote path, and
    that marker is what hides the mirror's copied in-flight folders.

    When the entry carries THIS fingerprint's own epoch watermark
    (``epochWatermarks``, sink-written in the same atomic PUT as the
    table watermark), the LOWER of the two gates the listing: the
    shared table watermark can run ahead of a fingerprint's epoch (a
    co-tenant stream advancing past a crashed stream's part-filled
    folder), and gating this dir on the shared value alone would make
    that junk folder reader-visible before the crashed stream replays
    and cleans it.  Manifests without the field (pre-upgrade, or
    reference-produced — whose model IS the single table watermark)
    gate on ``lastSuccessfulWriteTimestamp`` as before."""
    import json

    if _is_remote(root):
        from guidewire_spark.sources.fs import read_text

        table_dir = root.rstrip("/").rpartition("/")[0]
        # ABSENT (FileNotFoundError) → no marker governs the tree,
        # list ungated.  PRESENT but undecodable/unparseable → LOUD:
        # this arm's visibility gate is the marker itself, so listing
        # ungated past a corrupt one could expose in-flight publishes.
        # Any OTHER read failure (throttle, auth — OSError from the
        # backend) also PROPAGATES: treating a transient error as "no
        # marker" would briefly un-gate the listing the same way.
        # Consequence: a reader's credentials must be able to GET (or
        # receive a clean 404 for) <table_dir>/manifest.json — an IAM
        # policy scoped so narrowly that the probe 403s will fail
        # every poll loudly rather than risk reading uncommitted
        # folders.
        mpath = f"{table_dir}/manifest.json"
        corrupt = (
            f"gw_cda: marker manifest {mpath!r} exists but cannot be "
            f"parsed — refusing to list {root!r} ungated (folders "
            "beyond a corrupt marker could be in-flight publishes). "
            "Restore the manifest or remove it deliberately."
        )
        try:
            text = read_text(mpath)
        except FileNotFoundError:
            return None
        except UnicodeDecodeError as e:
            raise ValueError(corrupt) from e
        try:
            raw = json.loads(text)
        except ValueError as e:
            raise ValueError(corrupt) from e
        table_name = table_dir.rsplit("/", 1)[-1]
    else:
        table_dir = os.path.dirname(os.path.abspath(root.rstrip("/")))
        mpath = os.path.join(table_dir, "manifest.json")
        if not os.path.isfile(mpath):
            return None
        try:
            with open(mpath, encoding="utf-8") as fh:
                raw = json.load(fh)
        except (FileNotFoundError, ValueError):
            return None
        table_name = os.path.basename(table_dir)
    loud = _is_remote(root)

    def _refuse(detail: str):
        """Remote arm: a marker whose gate cannot be read fails the
        listing (folders beyond it could be in-flight publishes).
        Local arm: list ungated (POSIX rename publishes are atomic, a
        marker is advisory there)."""
        if loud:
            raise ValueError(
                f"gw_cda: marker manifest {mpath!r} names table "
                f"{table_name!r} but its gate cannot be read "
                f"({detail}) — refusing to list {root!r} ungated. "
                "Restore the manifest or remove it deliberately."
            )
        return None

    if not isinstance(raw, dict):
        return _refuse("document is not a table -> entry object")
    entry = raw.get(table_name)
    if entry is not None:
        if not isinstance(entry, dict):
            return _refuse(f"entry under key {table_name!r} is not an object")
        # REMOTE key-matched entries must still CLAIM this table: a
        # manifest copied from another deployment of a same-named
        # table carries the matching key but a foreign dataFilesPath,
        # and adopting its watermark would hide this table's committed
        # folders (same bug class as the single-entry fallback below).
        # The LOCAL arm keeps adopting by key: a local MIRROR of a
        # remote tree legitimately carries a marker whose
        # dataFilesPath names the remote path, and that marker is the
        # only thing hiding the mirror's copied in-flight folders.
        if loud and not _entry_claims_table(entry, table_dir, table_name):
            _refuse(
                f"entry under key {table_name!r} claims a different "
                f"deployment ({entry.get('dataFilesPath')!r})"
            )
    if entry is None and len(raw) == 1:
        # single-entry fallback ONLY when the sole entry actually
        # claims THIS table (dataFilesPath names it) — a foreign
        # manifest sitting next to the fingerprint dir must not gate
        # the listing with an unrelated timestamp and hide
        # legitimately committed folders
        sole = next(iter(raw.values()))
        if _entry_claims_table(sole, table_dir, table_name):
            entry = sole
    if entry is None:
        return None
    try:
        marker = _ts_int(entry["lastSuccessfulWriteTimestamp"])
    except (ValueError, KeyError, TypeError):
        return _refuse("lastSuccessfulWriteTimestamp missing or unparseable")
    # this fingerprint's own epoch watermark lowers the gate when
    # present; an unreadable one must neither UN-GATE the listing nor
    # silently widen it to the shared watermark (remote arm: refuse)
    wms = entry.get("epochWatermarks")
    fingerprint = root.rstrip("/").rsplit("/", 1)[-1]
    if wms is not None and not isinstance(wms, dict):
        _refuse("epochWatermarks is not a fingerprint -> ts map")
        return marker  # local arm: the shared gate still applies
    if isinstance(wms, dict) and fingerprint in wms:
        try:
            marker = min(marker, _ts_int(wms[fingerprint]))
        except (ValueError, TypeError):
            _refuse(
                f"epochWatermarks value for fingerprint "
                f"{fingerprint!r} is unparseable"
            )
            # local arm: fall back to the shared table watermark
    return marker


def _entry_claims_table(entry, table_dir: str, table_name: str) -> bool:
    """True when a manifest entry's ``dataFilesPath`` names this table
    dir — full-path equality modulo trailing slash and scheme
    SPELLING only (``s3://`` vs ``s3a://`` vs scheme-stripped, the
    aliases fsspec and Hadoop interchange for one store).  Used to
    reject FOREIGN manifests in the single-entry fallback, both reader
    (``_sink_marker_ts``) and writer (``_manifest_state``) side.  A
    bare ``endswith('/<table_name>')`` rule is NOT enough: a manifest
    copied from another deployment of a same-named table (e.g.
    ``.../archive/events_out`` next to ``.../prod/events_out``) would
    gate this table's listing with the other deployment's watermark —
    the exact hidden-folder bug this check exists to prevent."""
    if not isinstance(entry, dict):
        return False
    dfp = entry.get("dataFilesPath")
    if not isinstance(dfp, str) or not dfp:
        return False

    from urllib.parse import urlparse

    def _canon(p: str) -> str:
        # scheme dropped, port spelling deferred to _port below,
        # slashes normalized.  Everything else — host/bucket and the
        # full path — must match: the contract is that writer and
        # readers address a table by the same URI (endpoint aliases
        # and local mount spellings of one store are not resolvable
        # from strings and are treated as foreign).
        u = urlparse(p)
        if u.scheme and u.netloc:
            return f"{u.hostname or ''}/{u.path.strip('/')}".strip("/")
        return p.partition("://")[2].strip("/") if "://" in p else p.strip("/")

    def _port(p: str) -> int | None:
        # None = no explicit port (or no URI authority at all)
        u = urlparse(p)
        if not (u.scheme and u.netloc):
            return None
        try:
            return u.port
        except ValueError:  # non-numeric port spelling
            return None

    if _canon(dfp) != _canon(table_dir):
        return False
    # default-port tolerance only (hdfs://nn vs hdfs://nn:8020): when
    # BOTH sides spell an explicit port, they must agree — nn:9000 and
    # nn:9002 are two different services on one host, and adopting
    # across them is exactly the foreign-manifest bug this check
    # exists to prevent
    pa, pb = _port(dfp), _port(table_dir)
    return pa is None or pb is None or pa == pb


def _list_commit_ts(root: str) -> list[int]:
    """Timestamp folders under the fingerprint dir (the batch
    connector's fs.list_timestamp_dirs, local or object store), gated
    on the sink marker manifest when one governs the tree."""
    from guidewire_spark.sources.fs import list_timestamp_dirs

    out = list_timestamp_dirs(root)
    marker = _sink_marker_ts(root)
    if marker is not None:
        out = [t for t in out if t <= marker]
    return out


def _list_parquet(folder: str) -> list[str]:
    """Non-hidden, non-empty .parquet files (the batch connector's
    fs.list_parquet_files, S3Access.scala:39-41 rules).  The underscore
    rule also excludes marker/staging artifacts (_SUCCESS-style files,
    and any stray object under a sink's ``_staging`` tree)."""
    from guidewire_spark.sources.fs import list_parquet_files

    return [
        f.path
        for f in list_parquet_files(folder)
        if not f.path.rsplit("/", 1)[-1].startswith("_")
    ]


def _join(root: str, name) -> str:
    """Child path under the fingerprint dir, URI- and POSIX-safe."""
    return f"{root.rstrip('/')}/{name}"


def _open_parquet(path: str):
    """A pyarrow-readable handle for a data file: bare paths pass
    through (pyarrow memory-maps them); object-store URIs open through
    fsspec.  Runs on EXECUTORS for remote feeds — fsspec must be
    installed cluster-wide there, same as any Spark s3a deployment."""
    if _is_remote(path):
        import fsspec

        fs, p = fsspec.core.url_to_fs(path)
        return fs.open(p, "rb")
    return path


def _require_fsspec_for(path: str) -> None:
    """Fail fast at PLAN time when a remote feed needs fsspec: the
    executor-side read would otherwise die mid-job with a bare
    ModuleNotFoundError.  A driver-side import is the best available
    proxy for cluster state (same premise as Spark's own s3a jars:
    installed everywhere or nowhere)."""
    if _is_remote(path):
        try:
            import fsspec  # noqa: F401
        except ImportError as e:
            raise ImportError(
                f"reading the CDA feed at {path!r} requires fsspec on "
                "driver AND executors (object-store scheme)"
            ) from e


class _CdaFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _CdaStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, columns: list[str]):
        self.root = root
        self.columns = columns

    def initialOffset(self) -> dict:
        return {"ts": -1}

    def latestOffset(self) -> dict:
        ts = _list_commit_ts(self.root)
        return {"ts": ts[-1] if ts else -1}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["ts"]), int(end["ts"])
        parts: list[InputPartition] = []
        for t in _list_commit_ts(self.root):
            if lo < t <= hi:
                for f in _list_parquet(_join(self.root, t)):
                    parts.append(_CdaFilePartition(f))
        return parts

    def read(self, partition: _CdaFilePartition):
        import pyarrow.parquet as pq

        if partition is None:
            return  # Spark substitutes [None] for an empty partition list
        # Arrow record batches straight off the file — column-pruned
        # to the stream schema, never materialized as Python rows
        handle = _open_parquet(partition.path)
        try:
            pf = pq.ParquetFile(handle)
            yield from pf.iter_batches(columns=self.columns)
        finally:
            if hasattr(handle, "close"):  # fsspec handle, not a path
                handle.close()

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to ack


class CdaStreamSource(DataSource):
    """``spark.readStream.format("gw_cda_stream")
    .option("path", <fingerprint dir>)``."""

    @classmethod
    def name(cls) -> str:
        return "gw_cda_stream"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        root = self.options["path"]
        ts = _list_commit_ts(root)
        if not ts:
            raise ValueError(f"no CDA commit folders under {root}")
        for t in ts:  # first commit WITH data (an empty folder — e.g. a
            # crashed sink publish — must not poison the whole feed)
            files = _list_parquet(_join(root, t))
            if files:
                handle = _open_parquet(files[0])
                try:
                    return from_arrow_schema(pq.read_schema(handle))
                finally:
                    if hasattr(handle, "close"):
                        handle.close()
        raise ValueError(f"no CDA commit under {root} holds any parquet")

    def streamReader(self, schema):
        _require_fsspec_for(self.options["path"])
        return _CdaStreamReader(
            self.options["path"], [f.name for f in schema.fields]
        )


def register_cda_stream_source(spark) -> None:
    """Idempotent per session: re-registering replaces the entry."""
    spark.dataSource.register(CdaStreamSource)


# ---------------------------------------------------------------------------
# Batch reader with FILTER PUSHDOWN (Spark 4.1 pushFilters): the
# commit-timestamp column prunes FOLDERS before any file is opened —
# the Python-DataSource rendition of Delta's metadata-only partition
# pruning, and the scale move for "read yesterday's commits" over a
# years-deep CDA feed.
# ---------------------------------------------------------------------------


class _CdaBatchReader(DataSourceReader):
    def __init__(self, root: str, columns: list[str]):
        self.root = root
        self.columns = columns  # data columns (commit_ts excluded)
        self.lo = None  # inclusive pushed bounds on commit_ts
        self.hi = None

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            val = getattr(f, "value", None)
            if attr == ("commit_ts",) and isinstance(val, int):
                if isinstance(f, EqualTo):
                    self.lo = val if self.lo is None else max(self.lo, val)
                    self.hi = val if self.hi is None else min(self.hi, val)
                    continue  # fully handled
                if isinstance(f, GreaterThan):
                    b = val + 1
                    self.lo = b if self.lo is None else max(self.lo, b)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = val if self.lo is None else max(self.lo, val)
                    continue
                if isinstance(f, LessThan):
                    b = val - 1
                    self.hi = b if self.hi is None else min(self.hi, b)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = val if self.hi is None else min(self.hi, val)
                    continue
            yield f  # unsupported: Spark evaluates it post-scan

    def partitions(self):
        parts = []
        for t in _list_commit_ts(self.root):
            if self.lo is not None and t < self.lo:
                continue
            if self.hi is not None and t > self.hi:
                continue
            for f in _list_parquet(_join(self.root, t)):
                p = _CdaFilePartition(f)
                p.commit_ts = t
                parts.append(p)
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition is None:
            return  # empty micro-batch: Spark passes a [None] placeholder
        handle = _open_parquet(partition.path)
        try:
            pf = pq.ParquetFile(handle)
            for b in pf.iter_batches(columns=self.columns):
                yield b.append_column(
                    "commit_ts",
                    pa.array([partition.commit_ts] * b.num_rows, pa.int64()),
                )
        finally:
            if hasattr(handle, "close"):
                handle.close()


class CdaBatchSource(DataSource):
    """``spark.read.format("gw_cda")
    .option("path", <fingerprint dir>)`` — every commit folder's rows
    with a ``commit_ts`` column; range/equality predicates on
    commit_ts push down to folder pruning."""

    @classmethod
    def name(cls) -> str:
        return "gw_cda"

    def schema(self):
        from pyspark.sql import types as T

        base = CdaStreamSource.schema(self)  # same inference
        return T.StructType(
            list(base.fields) + [T.StructField("commit_ts", T.LongType(), True)]
        )

    def reader(self, schema):
        _require_fsspec_for(self.options["path"])
        cols = [f.name for f in schema.fields if f.name != "commit_ts"]
        return _CdaBatchReader(self.options["path"], cols)


def register_cda_batch_source(spark) -> None:
    """Idempotent per session.

    Also enables Python-datasource filter pushdown HERE, not only in
    the repo's own session factory (plans/session.py): _CdaBatchReader
    implements ``pushFilters`` and Spark refuses to plan such a source
    while ``spark.sql.python.filterPushdown.enabled`` is false — a
    vanilla driver session would error before reading a single row
    (CORRECTNESS_r07 stream_cda_sink_roundtrip).  The conf is
    runtime-settable, so registration is the right chokepoint: every
    consumer (queries, tests, external callers) inherits it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CdaBatchSource)


# ---------------------------------------------------------------------------
# Streaming SINK producing the CDA layout (Spark 4 Python
# DataSourceStreamArrowWriter): each micro-batch lands as one commit
# folder <base_ts + batchId>/ of parquet files — the engine both
# consumes AND emits the reference's on-disk contract, so a stream
# can feed the indexer (or another team's reference deployment)
# directly.  Exactly-once: executors stage files and return
# WriterCommitMessages; the driver's commit() publishes the folder
# atomically-enough (replace-on-retry), so a retried batch republishes
# the SAME folder instead of duplicating rows.
# ---------------------------------------------------------------------------


class _CdaSinkMessage(WriterCommitMessage):
    def __init__(self, staged: str | None, rows: int):
        self.staged = staged
        self.rows = rows


class _CdaStreamArrowWriter(DataSourceStreamArrowWriter):
    def __init__(self, root: str, base_ts: int):
        self.root = root
        self.base_ts = base_ts
        self.staging = os.path.join(root, "_staging")

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _CdaSinkMessage(None, 0)
        os.makedirs(self.staging, exist_ok=True)
        path = os.path.join(self.staging, f"stage-{_uuid.uuid4().hex}.parquet")
        tbl = pa.Table.from_batches(batches)
        pq.write_table(tbl, path)
        return _CdaSinkMessage(path, tbl.num_rows)

    def commit(self, messages, batchId: int) -> None:
        import shutil
        import uuid as _uuid

        # assemble the COMPLETE folder under a non-digit temp name (the
        # commit listing only accepts digit-named dirs, so readers can
        # never observe a partial publish), then ONE atomic rename
        folder = os.path.join(self.root, str(self.base_ts + batchId))
        tmp = os.path.join(self.root, f"publish-{_uuid.uuid4().hex}.tmp")
        try:
            os.makedirs(tmp)
            i = 0
            for m in messages:
                if m is not None and m.staged:
                    os.replace(
                        m.staged, os.path.join(tmp, f"part-{i:05d}.parquet")
                    )
                    i += 1
            if os.path.isdir(folder):
                shutil.rmtree(folder)  # retried batch: republish, not duplicate
            os.rename(tmp, folder)
            # staging GC: files still present now belong to failed or
            # speculative task attempts of THIS batch (all its tasks
            # are done, the next batch's writes have not started) —
            # orphans, never referenced by any commit
            if os.path.isdir(self.staging):
                for name in os.listdir(self.staging):
                    try:
                        os.remove(os.path.join(self.staging, name))
                    except OSError:
                        pass
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)  # no orphaned .tmp dirs
            raise

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


class _CdaRemoteArrowWriter(DataSourceStreamArrowWriter):
    """Marker-last exactly-once publish for OBJECT STORES (fsspec).

    The POSIX writer's atomic-directory-rename publish (above) does
    not exist on object stores: an s3 "rename" is a per-object
    copy+delete, so a reader could list a folder half-published
    mid-rename.  The primitive that IS atomic there is a
    single-object PUT — so this writer commits the way the
    reference's own feed gates visibility (the manifest's
    ``lastSuccessfulWriteTimestamp``, ``Guidewire.scala:133-137``;
    S3-native writes at ``S3Access.scala:12-59``):

      1. executors stage parquet objects under ``<fp>/_staging/``
         (non-digit prefix — invisible to every commit listing);
      2. the driver's commit() moves them into the digit-named commit
         folder ``<fp>/<ts>/part-*.parquet``;
      3. LAST, it PUTs the table-level marker manifest
         ``<table_dir>/manifest.json`` (reference manifest format,
         one entry keyed by the table-dir basename) with
         ``lastSuccessfulWriteTimestamp = ts``.

    Readers gate on the marker, so none can observe a partial
    publish: ``index()`` pointed at the marker manifest applies the
    EDGE CASE#1 committed filter (``ts <= lastSuccessfulWrite
    Timestamp``), and the gw_cda / gw_cda_stream sources apply the
    same gate via ``_sink_marker_ts`` when a marker manifest sits
    next to their fingerprint dir.

    Exactly-once across Spark batch retries, with NO replace window
    once committed: if the marker already covers this batch's ts, the
    previous attempt fully published (marker-last invariant) and the
    retry is a pure no-op that discards its own staging; otherwise
    any partial folder from a crashed attempt is reader-invisible and
    is deleted + rewritten before the marker advances.

    Single writer per table, like the reference connector's
    one-writer-per-table fan-out (P2).  The contract is additionally
    ENFORCED one notch: every marker PUT re-reads the manifest object
    and fails loudly if it changed since this commit's read
    (``_put_manifest``), so two streams racing one marker manifest
    (two fingerprint streams of a table, or co-tenant tables on a
    shared bucket-root manifest) lose at most the aborted batch —
    never the other writer's entry.  Each entry also carries a
    monotone ``generation`` counter for external auditing.  A small
    check-then-PUT window remains; backends exposing a conditional
    PUT (If-Match etag / generation precondition) can close it to a
    true CAS.

    Because the manifest holds ONE watermark per table, fingerprint
    epochs must be SEQUENTIAL with ascending ts domains (the
    reference's own evolution model, ``Guidewire.scala:221-237``) —
    and commit() makes every violation loud rather than lossy: a NEW
    fingerprint stream joining a table must start above the table
    watermark and find no foreign in-flight folders above it; the
    already-committed retry short-circuit verifies the folder
    actually exists (a missing folder means a co-tenant advanced the
    shared watermark past this stream's domain — refusing beats
    silently dropping the batch); and a publish losing the staleness
    race deletes its just-filled folder when the winner's watermark
    would otherwise expose it.  All four guards are driven through a
    hypothesis property test interleaving two writers at arbitrary
    data-plane mutation points (test_remote_fs.py).
    """

    def __init__(self, root_uri: str, base_ts: int):
        self.root = root_uri.rstrip("/")
        self.base_ts = base_ts
        table_dir, _, self.fingerprint = self.root.rpartition("/")
        self.table_dir = table_dir
        self.table_name = table_dir.rsplit("/", 1)[-1]
        self.manifest_uri = f"{table_dir}/manifest.json"
        try:  # fail fast at STREAM START, not first micro-batch
            import fsspec  # noqa: F401
        except ImportError as e:
            raise ImportError(
                "gw_cda_sink on an object-store path requires fsspec "
                f"(path {root_uri!r})"
            ) from e

    def _fs(self):
        import fsspec

        return fsspec.core.url_to_fs(self.root)

    def write(self, iterator):
        import io
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _CdaSinkMessage(None, 0)
        fs, root_path = self._fs()
        tbl = pa.Table.from_batches(batches)
        # buffer then single PUT: parquet needs its footer last, and a
        # single object PUT is the atomic unit the protocol builds on
        buf = io.BytesIO()
        pq.write_table(tbl, buf)
        staged = f"{root_path}/_staging/stage-{_uuid.uuid4().hex}.parquet"
        with fs.open(staged, "wb") as f:
            f.write(buf.getvalue())
        return _CdaSinkMessage(staged, tbl.num_rows)

    def _manifest_bytes(self):
        """Raw manifest object bytes, or None when ABSENT — the unit
        the staleness check compares (an etag stand-in for stores
        whose API doesn't surface one through fsspec).  Only
        FileNotFoundError maps to None: a transient read failure
        (throttle, auth hiccup — s3fs surfaces these as OSError)
        must FAIL the commit so Spark retries it, not masquerade as
        'manifest absent' and send an established stream down the
        init path, where the CAS pre-check would ALSO read None and a
        successful PUT would reset the row-count audit and wipe the
        schemaHistory epochs.  Bytes are read raw (no utf-8 decode) so
        a corrupt object is the json.loads caller's loud problem, not
        a silent None."""
        import fsspec

        fs, path = fsspec.core.url_to_fs(self.manifest_uri)
        try:
            with fs.open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def _manifest_state(self):
        """(full manifest dict, this table's entry, raw bytes) — the
        full dict is kept so a marker sharing its manifest object with
        other tables (a bucket-root manifest, reference-style) is
        UPDATED in place, never truncated to this table's entry; the
        raw bytes anchor the read-modify-write staleness check
        (``_put_manifest``).  The single-entry fallback only fires
        when the sole entry actually claims this table
        (``_entry_claims_table``) — a foreign manifest must not be
        adopted as this table's state.

        An UNPARSEABLE manifest object fails the commit loudly: its
        contents cannot be merged, so proceeding would take the init
        path — whose PUT (staleness-clean, since the object still
        equals the corrupt snapshot) replaces the manifest with a
        fresh single-entry one, wiping the row-count audit, the
        schemaHistory epochs, and every co-tenant table's entry.  A
        corrupt marker is an operator problem (restore it or remove
        it deliberately), never something a writer repairs by
        clobbering."""
        import json

        snapshot = self._manifest_bytes()
        if snapshot is None:
            return {}, None, None
        try:
            raw = json.loads(snapshot)
        except ValueError as e:
            raise ValueError(
                f"gw_cda_sink: marker manifest {self.manifest_uri!r} "
                "exists but is not valid JSON — refusing to publish "
                "over state that cannot be merged (the init path "
                "would clobber the audit count, schema epochs, and "
                "any co-tenant entries). Restore the manifest or "
                "remove it deliberately before restarting the stream."
            ) from e
        if not isinstance(raw, dict):
            raise ValueError(
                f"gw_cda_sink: marker manifest {self.manifest_uri!r} "
                "is valid JSON but not an object (table -> entry map) "
                "— refusing to publish over unmergeable state."
            )
        entry = raw.get(self.table_name)
        if entry is not None:
            # a key-matched entry must still CLAIM this table: a
            # manifest copied from another deployment of a same-named
            # table carries the matching key but a foreign
            # dataFilesPath, and merging into it would adopt the other
            # deployment's watermark/audit as this stream's own
            if not isinstance(entry, dict) or not _entry_claims_table(
                entry, self.table_dir, self.table_name
            ):
                raise ValueError(
                    f"gw_cda_sink: marker manifest {self.manifest_uri!r} "
                    f"entry under key {self.table_name!r} does not claim "
                    f"this table dir ({self.table_dir!r}) — it looks "
                    "copied from another deployment. Refusing to merge "
                    "into foreign state; restore the manifest or remove "
                    "it deliberately before restarting the stream."
                )
        if entry is None and len(raw) == 1:
            sole = next(iter(raw.values()))
            if _entry_claims_table(sole, self.table_dir, self.table_name):
                entry = sole
        return raw, entry, snapshot

    @staticmethod
    def _mv(fs, src: str, dst: str) -> None:
        if hasattr(fs, "mv"):
            fs.mv(src, dst)
            return
        with fs.open(src, "rb") as fi, fs.open(dst, "wb") as fo:
            fo.write(fi.read())
        fs.rm(src)

    def _drop_staged(self, fs, messages) -> None:
        for m in messages:
            if m is not None and m.staged:
                try:
                    fs.rm(m.staged)
                except FileNotFoundError:
                    pass

    def _put_manifest(self, fs, manifest: dict, expected: bytes | None):
        """PUT the marker manifest with a FAIL-LOUD staleness check on
        the read-modify-write: ``expected`` is the raw bytes this
        commit's state was derived from (None = object must still be
        absent).  If another writer's PUT interleaved since that read
        (two fingerprint streams of one table, or co-tenant tables on
        a shared bucket-root manifest), blindly writing would silently
        drop its update (entry, row count, or marker advance) — the
        last-PUT-wins hazard.  Instead the loser raises; Spark fails
        the batch and the retry re-reads fresh state and merges
        cleanly.  A small check-then-PUT window remains — true CAS
        needs a conditional PUT (If-Match / x-amz-*generation*), noted
        in the class docstring for backends that expose one.

        Returns the bytes written (the caller's next ``expected``).

        Backends exposing a CONDITIONAL PUT take the true-CAS path:
        if the fs object implements ``cas_put(path, data, expected)
        -> bool`` (atomically write ``data`` iff the object's current
        bytes equal ``expected``, with ``expected=None`` meaning the
        object must not exist; return False on precondition failure),
        the read-back pre-check is skipped entirely and the
        check-then-PUT window closes to zero.  fsspec has no uniform
        conditional-write API today, so ``cas_put`` is this repo's
        documented extension hook — implementable over S3 PutObject
        If-Match / If-None-Match or a GCS generation precondition;
        tests/fake_fsspec.CasMemoryFS provides the reference
        implementation and the two-writer property test drives both
        paths."""
        import fsspec
        import json

        data = json.dumps(manifest).encode("utf-8")
        _, mpath = fsspec.core.url_to_fs(self.manifest_uri)
        if hasattr(fs, "cas_put"):
            if not fs.cas_put(mpath, data, expected):
                raise RuntimeError(
                    "gw_cda_sink: concurrent writer detected on marker "
                    f"manifest {self.manifest_uri!r}: the conditional "
                    "PUT's precondition failed (the object changed "
                    "since this commit's read). Aborting rather than "
                    "overwriting the other writer's update; this batch "
                    "will be retried against fresh manifest state."
                )
            return data
        current = self._manifest_bytes()
        if current != expected:
            raise RuntimeError(
                "gw_cda_sink: concurrent writer detected on marker "
                f"manifest {self.manifest_uri!r}: the object changed "
                "between this commit's read and its publish PUT. "
                "Aborting rather than overwriting the other writer's "
                "update (last-PUT-wins would silently drop it); this "
                "batch will be retried against fresh manifest state."
            )
        with fs.open(mpath, "wb") as f:
            f.write(data)
        return data

    def _inflight_foreign_folders(self, fs, last: int) -> list:
        """(fingerprint, ts) of commit folders ABOVE the table
        watermark in OTHER fingerprint dirs — publishes still in
        flight (or crashed) whose stream has not advanced the marker
        yet.  My own dir is excluded: my unpublished folders are mine
        to replace on retry.  One-time cost at a stream's first
        commit only (one table-dir listing + one listing per sibling
        fingerprint dir)."""
        import fsspec
        from urllib.parse import urlparse

        from guidewire_spark.sources.fs import list_timestamp_dirs

        scheme = urlparse(self.root).scheme
        _, tpath = fsspec.core.url_to_fs(self.table_dir)
        try:
            infos = fs.ls(tpath, detail=True)
        except FileNotFoundError:
            return []
        out = []
        for info in infos:
            if info.get("type") != "directory":
                continue
            name = info["name"].rstrip("/").rsplit("/", 1)[-1]
            if name == self.fingerprint:
                continue
            sib = f"{scheme}://{info['name'].lstrip('/')}"
            for t in list_timestamp_dirs(sib):
                if t > last:
                    out.append((name, t))
        return out

    def commit(self, messages, batchId: int) -> None:
        ts = self.base_ts + batchId
        fs, _ = self._fs()
        raw, entry, snapshot = self._manifest_state()
        if entry is None:
            # INIT MARKER, before the first folder mutation: a tree
            # with no marker lists UNGATED (readers cannot tell it
            # from a non-sink tree), so a crash during the very first
            # publish would leave a partial folder reader-visible —
            # the one hole the property test (test_remote_fs.py)
            # found in the marker-last scheme.  Pre-existing digit
            # folders BELOW this stream's ts (a reference-produced
            # feed this sink appends to) are presumed committed and
            # stay visible under the ts-1 init marker; folders AT or
            # ABOVE it are a misconfiguration (wrong base_ts, or a
            # foreign feed still advancing) — presuming THOSE
            # committed would make every batch with ts <= their max
            # hit the already-committed short-circuit below and
            # silently drop its rows, so fail loudly instead.
            from guidewire_spark.sources.fs import list_timestamp_dirs

            existing = list_timestamp_dirs(self.root)
            if existing and max(existing) >= ts:
                raise RuntimeError(
                    f"gw_cda_sink: fingerprint dir {self.root!r} "
                    f"already contains commit folder(s) up to ts "
                    f"{max(existing)} >= this stream's next ts {ts} "
                    "(base_ts + batchId). Presuming them committed "
                    "would silently no-op this and later batches as "
                    "'already published'. Point the sink at a fresh "
                    "fingerprint dir, or set base_ts beyond the "
                    "existing maximum."
                )
            entry = {
                # reference manifest types (package.scala:11-14):
                # timestamps are JSON Strings, record count an Int
                "lastSuccessfulWriteTimestamp": str(ts - 1),
                "totalProcessedRecordsCount": 0,
                "dataFilesPath": self.table_dir,
                "schemaHistory": {},
                "epochWatermarks": {},
                "generation": "0",
            }
            raw = dict(raw)
            raw[self.table_name] = entry
            snapshot = self._put_manifest(fs, raw, snapshot)
        try:
            last = _ts_int(entry["lastSuccessfulWriteTimestamp"])
        except (KeyError, TypeError, ValueError) as e:
            raise ValueError(
                f"gw_cda_sink: marker manifest {self.manifest_uri!r} "
                f"entry for {self.table_name!r} has a missing or "
                "unparseable lastSuccessfulWriteTimestamp — its commit "
                "gate is undefined, so this stream cannot tell replays "
                "from fresh publishes. Restore the manifest or remove "
                "it deliberately before restarting the stream."
            ) from e
        for fld in ("schemaHistory", "epochWatermarks"):
            v = entry.get(fld)
            if v is not None and not isinstance(v, dict):
                raise ValueError(
                    f"gw_cda_sink: marker manifest {self.manifest_uri!r} "
                    f"entry for {self.table_name!r} has a non-map "
                    f"{fld} — refusing to publish over unmergeable "
                    "state."
                )
        history = entry.get("schemaHistory") or {}
        if self.fingerprint not in history:
            # JOINING a table that already has a watermark (the next
            # schema-evolution epoch, the reference's sequential
            # fingerprint model — or a misconfigured second writer).
            # The manifest has ONE lastSuccessfulWriteTimestamp per
            # table, so this stream's ts domain must sit strictly
            # ABOVE it: a domain at/below the watermark would hit the
            # already-committed short-circuit and silently drop every
            # batch (found by the two-writer interleave property
            # test).  And no OTHER stream's publish may be in flight
            # above the watermark — advancing the marker past a
            # co-tenant's unpublished folder would make that partial
            # folder reader-visible.
            if ts <= last:
                raise RuntimeError(
                    f"gw_cda_sink: table {self.table_dir!r} watermark "
                    f"is {last} >= this NEW stream's first ts {ts} "
                    f"(fingerprint {self.fingerprint!r}, base_ts + "
                    "batchId). Its batches would silently no-op as "
                    "'already published'. Fingerprint epochs must be "
                    "sequential with ascending timestamps (the "
                    "reference's evolution model) — set base_ts above "
                    "the table watermark."
                )
            stale = self._inflight_foreign_folders(fs, last)
            if stale:
                raise RuntimeError(
                    f"gw_cda_sink: table {self.table_dir!r} has "
                    f"in-flight (unpublished) commit folder(s) above "
                    f"the watermark {last} in OTHER fingerprint "
                    f"dir(s): {stale!r}. Advancing the shared marker "
                    "would make those partial publishes "
                    "reader-visible. Let the other stream finish (or "
                    "clean its crashed folders) before starting this "
                    "fingerprint epoch."
                )
        if ts <= last:
            # marker-last invariant: marker >= ts means folder <ts>
            # was FULLY published by a previous attempt of THIS stream
            # — the retry must not touch it (that would reopen a
            # visibility window on a folder readers already trust).
            # That presumption only holds if it really was THIS stream
            # that advanced the marker past ts, so it is checked
            # against this fingerprint's OWN epoch watermark
            # (``epochWatermarks``, written in the same atomic PUT as
            # the table watermark): a shared marker advanced past a ts
            # this stream never published means a co-tenant ran over
            # this stream's domain — no-opping would silently drop the
            # batch's rows, and worse, a folder this stream part-filled
            # before crashing is now reader-visible junk.  Manifests
            # written before epochWatermarks existed fall back to the
            # folder-existence check, skipped for EMPTY batches (a
            # zero-row batch publishes no folder — objects stores have
            # no empty directories — so demanding one would wedge the
            # stream on every empty-batch replay).
            import fsspec

            _, done = fsspec.core.url_to_fs(f"{self.root}/{ts}")
            has_staged = any(m is not None and m.staged for m in messages)
            wms = (entry or {}).get("epochWatermarks") or {}
            my_wm = None
            if self.fingerprint in wms:
                try:
                    my_wm = _ts_int(wms[self.fingerprint])
                except (TypeError, ValueError) as e:
                    # PRESENT but unparseable: the gate this replay
                    # decision hangs on is undefined — falling back to
                    # the folder-existence heuristic could silently
                    # accept a co-tenant-exposed part-filled folder as
                    # committed (the exact hole the field closes)
                    raise ValueError(
                        f"gw_cda_sink: marker manifest "
                        f"{self.manifest_uri!r} epochWatermarks value "
                        f"for fingerprint {self.fingerprint!r} is "
                        "unparseable — cannot tell this stream's own "
                        "replay from a co-tenant overrun. Restore the "
                        "manifest before restarting the stream."
                    ) from e
            if my_wm is not None:
                if my_wm < ts:
                    # this stream never published <ts>; the folder (if
                    # any) is its own crashed part-fill, made visible
                    # by the co-tenant's marker — remove the junk
                    # before failing so readers never see it
                    if fs.exists(done):
                        fs.rm(done, recursive=True)
                    self._drop_staged(fs, messages)
                    raise RuntimeError(
                        f"gw_cda_sink: table watermark {last} covers "
                        f"this batch's ts {ts} but this stream's own "
                        f"epoch watermark is {my_wm} — a co-tenant "
                        "stream advanced the shared marker past this "
                        "stream's ts domain. Refusing to drop the "
                        "batch; restart this stream with base_ts "
                        "above the table watermark."
                    )
            elif has_staged and not fs.exists(done):
                raise RuntimeError(
                    f"gw_cda_sink: table watermark {last} covers this "
                    f"batch's ts {ts} but {self.root!r}/{ts} was never "
                    "published by this stream — a co-tenant stream "
                    "advanced the shared marker past this stream's ts "
                    "domain. Refusing to drop the batch; restart this "
                    "stream with base_ts above the table watermark."
                )
            self._drop_staged(fs, messages)
            return
        import fsspec

        _, folder = fsspec.core.url_to_fs(f"{self.root}/{ts}")
        if fs.exists(folder):  # crashed attempt: reader-invisible junk
            fs.rm(folder, recursive=True)
        i = 0
        for m in messages:
            if m is not None and m.staged:
                self._mv(fs, m.staged, f"{folder}/part-{i:05d}.parquet")
                i += 1
        # marker LAST — the single atomic PUT that makes <ts> visible.
        # Timestamp values serialize as JSON Strings to match the
        # reference's ManifestEntry declaration (package.scala:11-14:
        # lastSuccessfulWriteTimestamp: String, schemaHistory:
        # Map[String, String]) so a reference/json4s consumer can
        # deserialize a sink-produced manifest; our own readers int()
        # them either way.  ``generation`` is a monotone per-entry
        # write counter (extra String field — json4s extraction
        # ignores unknown keys) backing the staleness check.
        rows = sum(m.rows for m in messages if m is not None)
        history = dict((entry or {}).get("schemaHistory") or {})
        history.setdefault(self.fingerprint, ts)
        # per-fingerprint epoch watermark (extra String-map field —
        # json4s extraction ignores unknown keys): lets a replay of
        # ts <= last distinguish "I published this" from "a co-tenant
        # ran over my domain" (short-circuit above), which the single
        # shared lastSuccessfulWriteTimestamp cannot encode
        epoch_wms = dict((entry or {}).get("epochWatermarks") or {})
        epoch_wms[self.fingerprint] = ts
        # preserve co-tenant tables' entries, but MIGRATE an entry the
        # single-entry fallback adopted under a nonstandard key: its
        # state is republished below under this table's canonical key,
        # and leaving the old key behind would freeze a duplicate
        # entry whose stale watermark could gate an old-key consumer
        # forever (and break the reader's single-entry fallback once a
        # co-tenant entry joins the manifest)
        manifest = {
            k: v
            for k, v in raw.items()
            if not (v is entry and k != self.table_name)
        }
        manifest[self.table_name] = {
            "lastSuccessfulWriteTimestamp": str(ts),
            "totalProcessedRecordsCount": int(
                (entry or {}).get("totalProcessedRecordsCount", 0)
            )
            + rows,
            "dataFilesPath": self.table_dir,
            "schemaHistory": {
                fp: str(int(hts)) for fp, hts in history.items()
            },
            "epochWatermarks": {
                fp: str(int(wts)) for fp, wts in epoch_wms.items()
            },
            "generation": str(
                int((entry or {}).get("generation", 0) or 0) + 1
            ),
        }
        try:
            self._put_manifest(fs, manifest, snapshot)
        except RuntimeError:
            # Concurrent-writer conflict on the publish PUT.  If the
            # winner advanced the SHARED watermark to/past this ts,
            # the folder just filled above — never committed by this
            # stream — is now reader-visible (the scan-vs-publish
            # TOCTOU a conditional PUT cannot see): delete it before
            # surfacing the conflict so a loud loser never leaks
            # uncommitted rows into the feed.  Below the watermark it
            # stays invisible and the retry republishes it.
            _, cur_entry, _ = self._manifest_state()
            try:
                cur_last = _ts_int(cur_entry["lastSuccessfulWriteTimestamp"])
            except (TypeError, KeyError, ValueError):
                cur_last = None
            if cur_last is not None and cur_last >= ts and fs.exists(folder):
                fs.rm(folder, recursive=True)
            raise
        # staging GC (after the marker so the publish is never delayed
        # by cleanup): objects still under _staging/ belong to failed
        # or speculative task attempts of THIS batch — all its tasks
        # finished before commit(), the next batch has not started
        # writing, and no commit references them.  Single writer per
        # table (class contract) makes this race-free.
        _, staging = fsspec.core.url_to_fs(f"{self.root}/_staging")
        if fs.exists(staging):
            for obj in fs.ls(staging, detail=False):
                try:
                    fs.rm(obj)
                except (FileNotFoundError, IsADirectoryError):
                    pass

    def abort(self, messages, batchId: int) -> None:
        fs, _ = self._fs()
        self._drop_staged(fs, messages)


class CdaStreamSink(DataSource):
    """``df.writeStream.format("gw_cda_sink")
    .option("path", <fingerprint dir>).option("base_ts", <epoch ms>)``.

    Two publish protocols, dispatched on the path scheme, because the
    two storage classes offer different atomic primitives:

    * local / ``file://`` → ``_CdaStreamArrowWriter``: POSIX atomic
      directory rename (assemble complete folder under a non-digit
      temp name, one ``os.rename``) — unchanged fast path.
    * any other scheme (``s3://``, ``memory://``, …) →
      ``_CdaRemoteArrowWriter``: marker-last commit (stage objects,
      fill the digit folder, PUT the table-level manifest marker
      LAST; readers gate folder visibility on the marker) — the
      storage the reference itself targets (``S3Access.scala:12-59``),
      using the same manifest-timestamp gating its readers use
      (``Guidewire.scala:133-137``)."""

    @classmethod
    def name(cls) -> str:
        return "gw_cda_sink"

    def streamWriter(self, schema, overwrite):
        from urllib.parse import urlparse

        path = self.options["path"]
        base_ts = int(self.options.get("base_ts", 1800000000000))
        parsed = urlparse(path)
        if parsed.scheme == "file":
            # os-level rename needs the bare path
            return _CdaStreamArrowWriter(parsed.path, base_ts)
        if parsed.scheme:
            return _CdaRemoteArrowWriter(path, base_ts)
        return _CdaStreamArrowWriter(path, base_ts)


def register_cda_stream_sink(spark) -> None:
    """Idempotent per session: re-registering replaces the entry."""
    spark.dataSource.register(CdaStreamSink)
