"""Delta table sink + maintenance (reference parity: the consumer-side
operations the reference documents — ``README.md:39-51``).

* ``write_delta`` — a physical Delta sink (append/overwrite) for
  DataFrames: Spark writes the parquet, we commit the transaction log.
  This is the engine's equivalent of the reference's checkpoint-table
  write (``Guidewire.scala:261``, the one place it physically writes).
* ``optimize_table`` — OPTIMIZE: compact the current snapshot's many
  small files into few large ones in a ``dataChange=false`` commit
  (readers see identical rows; README.md:50-51 "materializes the
  latest snapshot", which for shallow-cloned tables also localizes
  remote data).
* ``vacuum_table`` — VACUUM with the shallow-clone guard: only files
  *inside* the table directory are ever deleted; external (cloned)
  data files are untouchable, mirroring the reference's warning that
  vacuuming a shallow clone would destroy source data
  (``README.md:45-49``).

Every writer operation loads its table's snapshot once, checks
everything (protocol gate, appendOnly, identity, constraints,
generated columns, defaults, row tracking, stats spec) against that
snapshot, and commits on it through ``_commit``: the helpers take the
snapshot, never a path to reload.  ``_commit`` is the one commit tail.
It adds the protocol upgrade the operation's features need and the
``commitInfo``, whose metrics ``deltalog.commit_info_action`` derives
from the commit's own actions.  It returns the committed snapshot, so
no operation computes its own version.

``stage_add_actions(df, snap, ...)`` is the only way an operation turns
the data it writes into ``add`` actions (``convert_to_delta``, which
writes nothing, hands its listed files to the same
``_new_file_adds``): stats under the snapshot's stats spec, hive
``partitionValues``, and on row-tracked tables ``baseRowId``s above the
high-water mark, whose bumped configuration the operation commits in
the same commit.  A file that is already live (a deletion-vector
change, row-tracking enablement, RESTORE, clones) is re-recorded from
its snapshot record through ``_live_add``.  ``tests/test_staging_guard.py``
fails on a hand-built copy of either.

Every read of live files (rewrites, MERGE targets, DML match passes)
goes through ``snapshot.scan_live_files``.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from guidewire_spark.sources.deltalog import (
    ConcurrentModificationException,
    add_action,
    commit_info_action,
    commit_transaction,
    delta_log_dir,
    feature_upgrade_action,
    list_versions,
    metadata_action,
    protocol_action,
    remove_action,
    write_commit,
)
from guidewire_spark.sources.fs import walk_parquet_files
from guidewire_spark.sources.snapshot import (
    empty_snapshot,
    load_snapshot,
    load_snapshot_or_empty,
    scan_live_files,
)


def _stage_files(
    df: DataFrame, table_path: str, partition_by: list[str] | None = None
) -> tuple[list, str]:
    """Physically write df as parquet into a per-commit subdirectory of
    the table (unique name → concurrent commits never collide).
    Returns (files, commit_dir); partitioned writes land in the
    hive-style ``col=value`` tree below it."""
    commit_dir = os.path.join(table_path, f"data-{uuid.uuid4().hex[:12]}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(commit_dir)
    return walk_parquet_files(commit_dir), commit_dir


def _partition_values(
    path: str, commit_dir: str, partition_by: list[str]
) -> dict[str, str | None]:
    """Recover hive-style partition values from a staged file path."""
    from urllib.parse import unquote

    values: dict[str, str | None] = {}
    rel = os.path.relpath(path, commit_dir)
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            values[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
    return {c: values.get(c) for c in partition_by}


class _StagedAdds(list):
    """The ``add`` actions of newly written data files, plus
    ``configuration``: the table configuration their commit carries —
    the snapshot's own, or on a row-tracked table a copy whose id
    high-water mark moved past the files' ``baseRowId`` ranges (ids and
    mark land in ONE commit, the identity-column discipline)."""

    def __init__(self, adds: list[dict], configuration: dict):
        super().__init__(adds)
        self.configuration = configuration


def _new_file_adds(
    snap,
    files,
    partition_by: list[str] | None = None,
    commit_dir: str | None = None,
    data_change: bool = True,
) -> _StagedAdds:
    """The one way a newly written data file becomes an ``add`` action
    of the table of ``snap``: footer stats under the snapshot's stats
    spec, hive ``partitionValues`` recovered from the file's path below
    ``commit_dir``, and on a row-tracked snapshot a fresh ``baseRowId``
    above the high-water mark (the bumped mark is the returned
    ``configuration``)."""
    from guidewire_spark.sources.stats import footer_stats, stats_spec

    spec = stats_spec(snap.configuration)
    base_ids: dict[str, int] = {}
    config = snap.configuration
    if _row_tracking_enabled(snap):
        base_ids, config = _assign_base_row_ids(files, config)
    adds = []
    for f in files:
        add = add_action(
            f.path,
            f.size,
            f.modification_time,
            stats=footer_stats(f.path, spec),
            partition_values=(
                _partition_values(f.path, commit_dir, partition_by)
                if partition_by
                else None
            ),
            base_row_id=base_ids.get(f.path),
        )
        add["add"]["dataChange"] = data_change
        adds.append(add)
    return _StagedAdds(adds, config)


def stage_add_actions(
    df: DataFrame,
    snap,
    partition_by: list[str] | None = None,
    *,
    data_change: bool = True,
) -> _StagedAdds:
    """Stage ``df`` as parquet files under the table of the snapshot
    ``snap`` (unique per-call subdirectory — concurrent stagers never
    collide) and return their ``add`` actions WITHOUT committing.
    Every writer operation builds the adds of the files it writes
    here; the commit goes on the same ``snap`` and carries the returned
    ``configuration`` when the table is row-tracked.  Also the building
    block for optimistic-concurrency flows
    (deltalog.commit_transaction on the same ``snap``): data lands
    first, the log race is fought over metadata only, and a losing
    transaction's rebase re-commits the SAME staged files.

    A staged file whose footer counts no rows is deleted and gets no
    ``add``: Spark writes partition 0 even when it is empty."""
    import json as _json

    files, commit_dir = _stage_files(df, snap.table_path, partition_by)
    adds = _new_file_adds(snap, files, partition_by, commit_dir, data_change)
    kept = []
    for f, add in zip(files, adds):
        stats = add["add"].get("stats")
        if stats and _json.loads(stats).get("numRecords") == 0:
            os.remove(f.path)
            crc = os.path.join(os.path.dirname(f.path), f".{os.path.basename(f.path)}.crc")
            if os.path.isfile(crc):
                os.remove(crc)
        else:
            kept.append(add)
    return _StagedAdds(kept, adds.configuration)


def _commit(
    snap,
    operation: str,
    mode: str,
    actions: list[dict],
    now: int,
    *,
    blind: bool = False,
    reader=(),
    writer=(),
):
    """Commit ``actions`` on ``snap`` and return the committed snapshot:
    the one commit tail of every writer operation.

    The commit also carries the protocol upgrade the ``reader`` /
    ``writer`` table features need (so EXTERNAL readers and writers
    are told about them — a DV table advertising minReaderVersion=1
    lets an old reader silently resurface deleted rows), then the
    ``commitInfo`` derived from the actions.  A ``blind`` append
    rebases past concurrent appends through ``commit_transaction``.
    Every other commit was built from ``snap``'s state, so losing the
    race raises ConcurrentModificationException instead of clobbering
    the winner."""
    upgrade = feature_upgrade_action(snap.protocol, reader, writer)
    actions = actions + ([upgrade] if upgrade else [])
    actions.append(commit_info_action(operation, mode, actions, now, blind=blind))
    if blind:
        return commit_transaction(snap, lambda _: actions)
    try:
        return write_commit(snap, actions=actions)
    except FileExistsError:
        raise ConcurrentModificationException(
            f"{operation} lost the race for version {snap.version + 1} of "
            f"{snap.table_path}: another writer committed it first"
        ) from None


def _table_metadata(snap, now: int, schema=None, configuration=None) -> dict:
    """metaData action re-recording the table of ``snap`` (same id and
    partitioning) with ``schema`` / ``configuration`` replacing the
    snapshot's own."""
    return metadata_action(
        snap.schema if schema is None else schema,
        partition_columns=snap.partition_columns or None,
        created_time=now,
        table_id=snap.metadata_id,
        configuration=snap.configuration if configuration is None else configuration,
    )


def _removes(paths, now: int, data_change: bool = True) -> list[dict]:
    """``remove`` actions for ``paths``; compaction passes
    ``data_change=False`` (same rows before and after)."""
    out = [remove_action(p, now) for p in paths]
    for r in out:
        r["remove"]["dataChange"] = data_change
    return out


def _live_add(snap, path: str, now: int, /, data_change: bool = True, **changes) -> dict:
    """``add`` re-recording the live file ``path`` of ``snap`` from its
    record — size, stats, partition values, deletion vector and base
    row id — with ``changes`` (``deletion_vector=``, ``base_row_id=``,
    or ``path=`` for a copy of the file) replacing them."""
    add = snap.adds[path]
    fields = {
        "path": path,
        "size": add.get("size", 0),
        "modification_time": now,
        "stats": add.get("stats"),
        "partition_values": add["partitionValues"],
        "deletion_vector": add.get("deletionVector"),
        "base_row_id": add.get("baseRowId"),
        **changes,
    }
    out = add_action(**fields)
    out["add"]["dataChange"] = data_change
    return out


def _vector_swaps(snap, scanned, vectors: dict[str, dict], now: int) -> list[dict]:
    """remove + re-add of every file whose deletion vector changed:
    ``vectors`` maps the normalized path of each touched file among the
    ``scanned`` live files of ``snap`` to its new descriptor
    (dv.encode_dead_rows)."""
    from guidewire_spark.sources.dv import normalize_path

    by_path = {normalize_path(p): p for p in scanned}
    out = []
    for key, descriptor in sorted(vectors.items()):
        path = by_path[key]
        out.append(remove_action(path, now, size=snap.adds[path].get("size")))
        out.append(_live_add(snap, path, now, deletion_vector=descriptor))
    return out


def _matches_by_file(
    spark: SparkSession, snap, paths: list[str], predicate: str
) -> dict[str, int]:
    """Live rows matching ``predicate`` per file, over the live files
    ``paths`` of ``snap`` (files without a match are absent) — the
    copy-on-write match pass: only these files get rewritten.  Files
    are keyed by the scan's own ``dv.META_FILE`` column, which survives
    the deletion-vector anti-join even when it shuffles."""
    from guidewire_spark.sources.dv import META_FILE, normalize_path

    hits = scan_live_files(spark, snap, paths, file_keys=True).where(predicate)
    counts = dict(hits.groupBy(META_FILE).count().collect())
    keys = {p: normalize_path(p) for p in paths}
    return {p: counts[k] for p, k in keys.items() if k in counts}


def _materialized_row_id_col(config: dict) -> str:
    from guidewire_spark.sources.snapshot import (
        DEFAULT_MATERIALIZED_ROW_ID_COL,
        MATERIALIZED_ROW_ID_KEY,
    )

    return config.get(MATERIALIZED_ROW_ID_KEY) or DEFAULT_MATERIALIZED_ROW_ID_COL


def _is_widening(frm, to) -> bool:
    """True when ``frm`` → ``to`` is a lossless type widening the
    parquet reader resolves at scan time (Delta's type widening table
    feature): byte→short→int→long, float→double, and decimal growth
    that keeps both the scale and the integer-digit budget
    non-decreasing.  Old files stay byte-identical — Spark 4's parquet
    reader upcasts INT32/FLOAT/DECIMAL physical types into the wider
    requested schema natively."""
    from pyspark.sql import types as T

    ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if isinstance(frm, ints) and isinstance(to, ints):
        return ints.index(type(frm)) < ints.index(type(to))
    if isinstance(frm, T.FloatType) and isinstance(to, T.DoubleType):
        return True
    if isinstance(frm, T.DecimalType) and isinstance(to, T.DecimalType):
        return (
            to.scale >= frm.scale
            and to.precision - to.scale >= frm.precision - frm.scale
            and (to.precision, to.scale) != (frm.precision, frm.scale)
        )
    return False


def _merged_schema(old, new):
    """Additive schema merge (Delta mergeSchema semantics): new fields
    append after existing ones; shared fields must agree on type OR
    differ by a legal type widening (the wider of the two wins —
    incoming long into an int table widens the table; incoming int
    into a long table upcasts at read time)."""
    from pyspark.sql import types as T

    by_name = {f.name: f for f in old.fields}
    for f in new.fields:
        if f.name in by_name:
            have = by_name[f.name]
            if have.dataType != f.dataType:
                if _is_widening(have.dataType, f.dataType):
                    by_name[f.name] = T.StructField(
                        have.name, f.dataType, have.nullable, have.metadata
                    )
                elif _is_widening(f.dataType, have.dataType):
                    pass  # incoming is narrower: reader upcasts its files
                else:
                    raise ValueError(
                        f"column {f.name!r}: {have.dataType} != {f.dataType}"
                    )
        else:
            # Evolution-ADDED columns are always nullable, whatever the
            # incoming frame says (a non-null literal types as
            # non-nullable): every pre-evolution row reads this column
            # as NULL, so recording it non-nullable would instantly
            # contradict the data AND make the NOT NULL invariant
            # reject every subsequent narrower write.  Matches Delta's
            # mergeSchema behavior.
            by_name[f.name] = T.StructField(
                f.name, f.dataType, True, f.metadata
            )
    ordered = [f.name for f in old.fields] + [
        f.name for f in new.fields if f.name not in {g.name for g in old.fields}
    ]
    return T.StructType([by_name[n] for n in ordered])


def table_configuration(table_path: str) -> dict[str, str]:
    """Latest ``metaData.configuration`` (last metadata action wins) —
    read THROUGH the snapshot so it seeds from the newest checkpoint
    and replays only the JSON tail. The previous raw-JSON walk assumed
    the trail was never deleted; after ``expire_log`` that walk would
    silently return {} and drop constraints, defaults and feature
    flags from enforcement. Empty for tables that never set
    configuration and for paths with no log yet.

    The one path-keyed reader, for callers that hold only a path
    (matview, bloom, connector queries, tests).  Writer operations
    never call it: each loads its snapshot once and every check reads
    that snapshot, so what is checked is what the commit is built on
    (``write_commit`` collides if the table moved in between)."""
    try:
        return dict(load_snapshot(table_path).configuration)
    except FileNotFoundError:
        return {}


def table_constraints(snap) -> dict[str, str]:
    """CHECK constraints stored Delta-style as
    ``delta.constraints.<name> = <sql expr>`` in the configuration of
    the snapshot ``snap``."""
    prefix = "delta.constraints."
    return {
        k[len(prefix):]: v
        for k, v in snap.configuration.items()
        if k.startswith(prefix)
    }


def _enforce_constraints(
    df: DataFrame,
    snap,
    absent_exempt: frozenset[str] | set[str] = frozenset(),
    require_all: bool = True,
) -> None:
    """Writer-side invariant enforcement (Delta's ``invariants``
    writer feature, minWriterVersion 2): reject the whole write if any
    incoming row violates a CHECK constraint OR carries NULL in a
    column the table schema declares non-nullable — Delta treats
    schema nullability as an invariant, not a hint. One combined
    predicate pass over the incoming DataFrame — the same work Delta's
    CheckDeltaInvariant exec node does inline.  Constraints and
    nullability come from ``snap``, the snapshot the write commits on."""
    constraints = table_constraints(snap)
    schema = snap.schema
    # A write that simply OMITS a non-nullable column is as much a
    # NOT NULL violation as writing literal NULLs: the append path
    # accepts narrower DataFrames (absent columns read back as NULL),
    # so Delta's rule — reject writes missing a non-nullable column —
    # must be enforced here, not deferred to read time.  Columns with
    # a declared default were already materialized by
    # _apply_column_defaults before this check runs.
    absent = [
        f.name
        for f in (schema.fields if schema is not None else [])
        if not f.nullable
        and f.name not in df.columns
        and f.name not in absent_exempt
    ]
    if require_all and absent:
        raise ValueError(
            f"NOT NULL violation writing to {snap.table_path}: non-nullable "
            f"column(s) {absent} absent from the incoming DataFrame"
        )
    not_null = [
        f.name
        for f in (schema.fields if schema is not None else [])
        if not f.nullable and f.name in df.columns
    ]
    preds = [f"({e})" for e in constraints.values()] + [
        f"(`{c}` IS NOT NULL)" for c in not_null
    ]
    if not preds:
        return
    from pyspark.sql import functions as F

    violated = df.where(~F.expr(" AND ".join(preds))).limit(1)
    if violated.count() > 0:
        kinds = " / ".join(
            (["CHECK constraint violation"] if constraints else [])
            + (["NOT NULL violation"] if not_null else [])
        )
        raise ValueError(
            f"{kinds} writing to {snap.table_path}: "
            + "; ".join(
                [f"{n}: {e}" for n, e in constraints.items()]
                + [f"NOT NULL: {c}" for c in not_null]
            )
        )


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): validates the
    EXISTING rows first (Delta refuses constraints the current data
    violates), then commits a metadata action carrying the constraint
    in the configuration. Returns the new version."""
    from pyspark.sql import functions as F

    snap = load_snapshot(table_path)
    _gate_write(snap)
    if snap.files and scan_live_files(spark, snap, snap.files).where(
        ~F.expr(expr)
    ).limit(1).count() > 0:
        raise ValueError(
            f"existing rows violate CHECK ({expr}); constraint not added"
        )
    config = {**snap.configuration, f"delta.constraints.{name}": expr}
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "ADD CONSTRAINT",
        f"{name} CHECK ({expr})",
        [_table_metadata(snap, now, configuration=config)],
        now,
        writer={"checkConstraints"},
    ).version


def drop_check_constraint(table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: removes the configuration key
    in a new metadata commit."""
    key = f"delta.constraints.{name}"
    snap = load_snapshot(table_path)
    config = dict(snap.configuration)
    if key not in config:
        raise KeyError(f"no CHECK constraint {name!r} on {table_path}")
    del config[key]
    _gate_write(snap)
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "DROP CONSTRAINT",
        name,
        [_table_metadata(snap, now, configuration=config)],
        now,
    ).version


def _to_physical(df: DataFrame, schema) -> DataFrame:
    """Rename logical columns to their physical parquet names before
    staging, so files written after a RENAME COLUMN stay readable with
    the stable physical schema (column mapping, mode=name)."""
    from guidewire_spark.sources.snapshot import physical_name

    if schema is None:
        return df
    renames = {
        f.name: physical_name(f) for f in schema.fields if f.name in df.columns
    }
    if all(k == v for k, v in renames.items()):
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
    )


def rename_column(table_path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — metadata-only (column mapping,
    Delta mode=name): the field keeps its original *physical* parquet
    name in field metadata; no data file is rewritten. Returns the new
    version.  Renaming partition columns or columns referenced by
    CHECK constraints / generated columns is rejected."""
    from pyspark.sql import types as T

    from guidewire_spark.sources.snapshot import PHYSICAL_NAME_KEY, physical_name

    snap = load_snapshot(table_path)
    _gate_write(snap)
    names = [f.name for f in snap.schema.fields]
    if old not in names:
        raise KeyError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old in (snap.partition_columns or []):
        raise ValueError("renaming a partition column is not supported")
    for label, exprs in (
        ("CHECK constraint", table_constraints(snap)),
        ("generated column", table_generated_columns(snap)),
    ):
        for cname, expr in exprs.items():
            if old in expr or old == cname:
                raise ValueError(
                    f"column {old!r} is referenced by {label} {cname!r}; "
                    "drop it first"
                )
    fields = []
    for f in snap.schema.fields:
        if f.name == old:
            md = dict(f.metadata or {})
            md[PHYSICAL_NAME_KEY] = physical_name(f)
            fields.append(T.StructField(new, f.dataType, f.nullable, md))
        else:
            fields.append(f)
    config = {**snap.configuration, "delta.columnMapping.mode": "name"}
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "RENAME COLUMN",
        f"{old} -> {new}",
        [_table_metadata(snap, now, T.StructType(fields), config)],
        now,
        reader={"columnMapping"},
        writer={"columnMapping"},
    ).version


def _apply_column_defaults(df: DataFrame, snap) -> DataFrame:
    """Write-time half of column DEFAULTs: any column of ``snap``'s
    schema the incoming frame OMITS that declares a
    ``CURRENT_DEFAULT`` is materialized from its default expression
    before staging (Spark's own INSERT-with-defaults contract)."""
    from pyspark.sql import functions as F

    if snap.schema is None:
        return df
    for f in snap.schema.fields:
        meta = f.metadata or {}
        if f.name not in df.columns and "CURRENT_DEFAULT" in meta:
            df = df.withColumn(
                f.name, F.expr(meta["CURRENT_DEFAULT"]).cast(f.dataType)
            )
    return df


def add_column(
    table_path: str,
    name: str,
    type_str: str,
    default: str | None = None,
    after_metadata: dict | None = None,
) -> int:
    """ALTER TABLE ... ADD COLUMN — metadata-only (no file rewrite).

    Without ``default``, pre-existing files read NULL for the new
    column (plain additive evolution).  With ``default`` (a SQL
    expression string), the field carries Spark's two default-value
    metadata keys — ``EXISTS_DEFAULT`` (what pre-existing rows read:
    the parquet scan itself fills it for files missing the column,
    while explicit NULLs in newer files stay NULL) and
    ``CURRENT_DEFAULT`` (what writes that omit the column insert,
    applied in ``write_delta``) — the same keys Delta's
    allowColumnDefaults feature stores in the schema string, so the
    semantics ride the log, not engine-side bookkeeping."""
    from pyspark.sql import types as T

    snap = load_snapshot(table_path)
    _gate_write(snap)
    if snap.schema is None:
        raise ValueError(f"{table_path} has no schema to evolve")
    if name in snap.schema.fieldNames():
        raise ValueError(f"column {name!r} already exists")
    meta = dict(after_metadata or {})
    if default is not None:
        meta["CURRENT_DEFAULT"] = default
        meta["EXISTS_DEFAULT"] = default
    dtype = T._parse_datatype_string(type_str)
    new_schema = T.StructType(
        list(snap.schema.fields)
        + [T.StructField(name, dtype, True, metadata=meta or None)]
    )
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "ADD COLUMNS",
        f"{name} {type_str}",
        [_table_metadata(snap, now, new_schema)],
        now,
        writer={"allowColumnDefaults"} if default is not None else (),
    ).version


def widen_column_type(table_path: str, column: str, new_type: str) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE — Delta TYPE WIDENING:
    a metadata-only commit swaps the column to a strictly wider type
    (byte→short→int→long, float→double, decimal growth); existing
    files stay byte-identical and the parquet reader upcasts their
    physical values into the new logical type at scan time.  The
    schema-evolution story for long-lived CDA tables whose upstream
    key outgrows INT — no table rewrite, old versions still time
    travel with the old type.  Narrowing and cross-family changes
    raise."""
    from pyspark.sql import types as T

    snap = load_snapshot(table_path)
    _gate_write(snap)
    names = [f.name for f in snap.schema.fields]
    if column not in names:
        raise KeyError(f"no column {column!r} in {names}")
    if column in (snap.partition_columns or []):
        raise ValueError("widening a partition column is not supported")
    target = T._parse_datatype_string(new_type)
    old_f = snap.schema[column]
    if not _is_widening(old_f.dataType, target):
        raise ValueError(
            f"{old_f.dataType.simpleString()} -> {target.simpleString()} "
            "is not a legal type widening"
        )
    fields = [
        T.StructField(f.name, target, f.nullable, f.metadata)
        if f.name == column
        else f
        for f in snap.schema.fields
    ]
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "ALTER COLUMN",
        f"{column}: {old_f.dataType.simpleString()} -> {target.simpleString()}",
        [_table_metadata(snap, now, T.StructType(fields))],
        now,
        reader={"typeWidening"},
        writer={"typeWidening"},
    ).version


def drop_column(table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only: the field leaves
    the logical schema; data files are untouched and readers simply
    stop requesting the column."""
    from pyspark.sql import types as T

    snap = load_snapshot(table_path)
    _gate_write(snap)
    names = [f.name for f in snap.schema.fields]
    if name not in names:
        raise KeyError(f"no column {name!r} in {names}")
    if name in (snap.partition_columns or []):
        raise ValueError("dropping a partition column is not supported")
    for label, exprs in (
        ("CHECK constraint", table_constraints(snap)),
        ("generated column", table_generated_columns(snap)),
    ):
        for cname, expr in exprs.items():
            if name in expr or name == cname:
                raise ValueError(
                    f"column {name!r} is referenced by {label} {cname!r}; "
                    "drop it first"
                )
    config = {**snap.configuration, "delta.columnMapping.mode": "name"}
    schema = T.StructType([f for f in snap.schema.fields if f.name != name])
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "DROP COLUMN",
        name,
        [_table_metadata(snap, now, schema, config)],
        now,
        reader={"columnMapping"},
        writer={"columnMapping"},
    ).version


def table_generated_columns(snap) -> dict[str, str]:
    """Generated columns stored Delta-style as
    ``delta.generatedColumns.<col> = <sql expr>`` in the configuration
    of the snapshot ``snap`` (Delta proper keeps the expression in
    schema field metadata; the configuration keeps this engine's log
    replay simple while preserving the semantics)."""
    prefix = "delta.generatedColumns."
    return {
        k[len(prefix):]: v
        for k, v in snap.configuration.items()
        if k.startswith(prefix)
    }


def _apply_generated_columns(df: DataFrame, snap) -> DataFrame:
    """Compute absent generated columns; validate supplied ones (a
    provided value that disagrees with its generation expression is
    rejected, matching Delta's generated-column write check)."""
    gen = table_generated_columns(snap)
    if not gen:
        return df
    from pyspark.sql import functions as F

    for col, expr in gen.items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = df.where(
                ~(F.col(col).eqNullSafe(F.expr(expr)))
            ).limit(1)
            if bad.count() > 0:
                raise ValueError(
                    f"generated column {col!r} was supplied with values "
                    f"that contradict its expression ({expr})"
                )
    return df


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    generated_columns: dict[str, str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Write a DataFrame as a new Delta version; returns the version.

    ``generated_columns`` (first write only): declare ``{col: sql
    expr}`` generated columns — materialized from the expression when
    the writer omits them, validated when supplied. Stored in the
    table configuration so every later ``write_delta`` enforces them
    (a generated partition column gives Delta's classic
    generated-partition pruning pattern).

    ``partition_by`` writes hive-layout files and records each file's
    ``partitionValues`` in its add action (standard Delta), enabling
    metadata-only partition pruning at read time — at 100 TB the
    difference between listing a day and scanning a year.

    ``merge_schema`` (append only): additive schema evolution — new
    columns join the table schema via a metaData action; old files are
    NOT rewritten (the explicit-schema read fills their missing
    columns with null), exactly Delta's mergeSchema behavior and the
    additive complement of the connector's fingerprint-overwrite
    evolution (P10).

    ``txn_app_id``/``txn_version``: Delta's idempotent-write protocol
    (SetTransaction actions). When the table already records a ``txn``
    for this app at >= txn_version, the write is a no-op (returns the
    current version) — so a failed-then-retried loader batch commits
    its rows exactly once, the property every at-least-once upstream
    (the reference's CDA batch fan-out included) needs from its sink.

    The table's snapshot is loaded once, before anything else: the
    txn, identity, generated-column, default, constraint, partition,
    protocol, schema, stats and row-tracking checks all read it, and
    the commit is built on it.  A blind append that loses the commit
    race rebases through ``deltalog.commit_transaction`` only when the
    winning commits changed no metadata (a concurrent ADD CONSTRAINT or
    row-tracking enablement raises MetadataChangedException); every
    other write that loses the race raises
    ConcurrentModificationException.
    """
    mode = mode.lower()
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r} not supported (append|overwrite)")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    base = load_snapshot_or_empty(table_path)
    prev = base.version if base.version >= 0 else None
    if txn_app_id is not None and prev is not None:
        seen = base.txns.get(txn_app_id)
        if seen is not None and seen >= txn_version:
            return prev  # already committed by this app at this version
    if prev is None:
        if generated_columns:
            from pyspark.sql import functions as F

            for col, expr in generated_columns.items():
                if col not in df.columns:
                    df = df.withColumn(col, F.expr(expr))
    else:
        if generated_columns:
            raise ValueError(
                "generated_columns may only be declared on the first write"
            )
        # Generated columns materialize/validate first (constraints may
        # reference them); CHECK constraints survive overwrite (Delta
        # semantics: the table definition outlives its data), so both
        # are enforced on every write into an existing table before any
        # file is staged.
        idents = _identity_specs(base)
        if idents:
            # GENERATED ALWAYS AS IDENTITY: only the identity writer
            # may append (it assigns values and bumps the high-water
            # mark atomically); a plain write would commit NULL or
            # user-chosen identities and break uniqueness
            raise ValueError(
                f"table has identity column(s) {sorted(idents)}; write "
                "through append_with_identity, not write_delta"
            )
        df = _apply_generated_columns(df, base)
        df = _apply_column_defaults(df, base)
        # The absent-non-nullable-column rule applies to APPENDS only:
        # an overwrite replaces the table's metadata with df.schema in
        # the same commit, so the old schema's non-nullable columns
        # leave with the old rows (value-level CHECK constraints still
        # apply — the table definition outlives its data; nullability
        # does not survive a schema-replacing overwrite).
        _enforce_constraints(df, base, require_all=(mode == "append"))
        if mode == "overwrite":
            _reject_on_append_only(base, "overwrite")
    if prev is not None:
        existing = base.partition_columns
        if partition_by:
            if existing != partition_by:
                raise ValueError(
                    f"partition_by {partition_by} != table's {existing}"
                )
        elif existing and mode == "append":
            # appends inherit the table's partitioning — omitting
            # partition_by must not silently stage unpartitioned files
            # into a partitioned table
            partition_by = list(existing)
    incoming_schema = df.schema  # logical, pre-column-mapping
    if prev is not None:
        # gate BEFORE staging: a refused write must not first dump the
        # whole dataset into the table directory as orphan files
        _gate_write(base)
    if prev is not None and mode == "append":
        # mapped tables stage files under physical column names
        df = _to_physical(df, base.schema)
    if base.configuration.get("delta.autoOptimize.optimizeWrite") == "true":
        # Optimized writes (Delta's autoOptimize.optimizeWrite): the
        # small-files cure applied at write time — one exchange —
        # rather than later, where it is a rewrite.
        from pyspark.sql import functions as F

        if partition_by:
            # one pre-write shuffle clusters each partition VALUE into
            # a single task, so an append whose input is spread over
            # many upstream tasks stages ONE file per partition
            # directory instead of (input tasks x values) slivers
            df = df.repartition(*[F.col(c) for c in partition_by])
        else:
            # unpartitioned: AQE REBALANCE sizes output partitions to
            # the advisory target (splitting skew, coalescing slivers)
            # — exactly Delta's binPacking-at-write behavior, and a
            # no-op degradation when AQE is off (hint ignored)
            df = df.hint("rebalance")
    adds = stage_add_actions(df, base, partition_by)
    now = int(time.time() * 1000)
    actions: list[dict] = []
    if prev is None:
        from pyspark.sql import types as _T

        first_writer_feats = set()
        first_reader_feats = set()
        if generated_columns:
            first_writer_feats.add("generatedColumns")
        if any(
            isinstance(f.dataType, _T.TimestampNTZType) for f in df.schema.fields
        ):
            # TIMESTAMP WITHOUT TIME ZONE is a reader+writer table
            # feature: an old reader would misread the values as
            # zoned instants
            first_reader_feats.add("timestampNtz")
            first_writer_feats.add("timestampNtz")
        if first_writer_feats or first_reader_feats:
            actions.append(
                feature_upgrade_action(
                    None, first_reader_feats, first_writer_feats
                )
            )
        else:
            actions.append(protocol_action())
        actions.append(
            metadata_action(
                df.schema,
                partition_columns=partition_by,
                created_time=now,
                configuration={
                    f"delta.generatedColumns.{c}": e
                    for c, e in (generated_columns or {}).items()
                },
            )
        )
        op_mode, blind = "Overwrite" if mode == "overwrite" else "Append", False
    elif mode == "overwrite":
        actions.append(
            metadata_action(
                df.schema,
                partition_columns=partition_by,
                created_time=now,
                table_id=base.metadata_id,
                configuration=adds.configuration,
            )
        )
        actions.extend(_removes(base.files, now))
        op_mode, blind = "Overwrite", False
    else:
        schema = base.schema
        if schema is not None and schema != incoming_schema:
            if not merge_schema:
                missing = {f.name for f in schema.fields} - {
                    f.name for f in incoming_schema.fields
                }
                extra = {f.name for f in incoming_schema.fields} - {
                    f.name for f in schema.fields
                }
                # narrower incoming types into a previously-widened
                # table are fine without merge_schema (read-time
                # upcast); anything else mismatched still raises
                if extra or any(
                    f.name not in missing
                    and schema[f.name].dataType != f.dataType
                    and not _is_widening(f.dataType, schema[f.name].dataType)
                    for f in incoming_schema.fields
                    if f.name in {g.name for g in schema.fields}
                ):
                    raise ValueError(
                        f"schema mismatch on append (extra={sorted(extra)}); "
                        "pass merge_schema=True for additive evolution"
                    )
            else:
                schema = _merged_schema(schema, incoming_schema)
        if schema != base.schema or _row_tracking_enabled(base):
            # one metaData carries the evolved schema and the row-id
            # high-water mark the staged adds moved (a second metaData
            # would win the replay and clobber the first)
            actions.append(_table_metadata(base, now, schema, adds.configuration))
        # an evolving or row-id-assigning commit is not a blind append:
        # it was built from table state, so it must not rebase
        op_mode, blind = "Append", not actions
    actions.extend(adds)
    if txn_app_id is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": txn_version,
                    "lastUpdated": now,
                }
            }
        )
    # a blind append rebases past concurrent appends (the staged files
    # are untouched) but not past a metadata change; create, overwrite,
    # evolution and row-id commits were built from table state, so a
    # collision surfaces as a conflict instead of silently clobbering
    committed = _commit(base, "WRITE", op_mode, actions, now, blind=blind)
    _maybe_auto_compact(df.sparkSession, committed, mode)
    return committed.version


def _maybe_auto_compact(spark, snap, mode: str) -> None:
    """Auto compaction (Delta's ``delta.autoOptimize.autoCompact``):
    after a successful APPEND, bin-pack accumulated small files
    (< ``gw.autoCompact.minFileSize`` bytes, default 16 MiB) in a
    follow-up dataChange=false commit once at least
    ``gw.autoCompact.minNumFiles`` of them (default 8) have piled up.
    The COUNTING UNIT is the compaction unit, exactly like Delta: on a
    partitioned table the threshold applies PER PARTITION VALUE and
    each tripped partition compacts through the where_partitions scope
    — a healthy one-file-per-partition layout never re-triggers (a
    table-wide count would see |partitions| small files forever and
    rewrite the whole table on every append).  Runs as its own commit
    AFTER the write lands: the write's version is what the caller
    sees; compaction racing never un-commits data.  Streaming-quiet —
    the OPTIMIZE path emits dataChange=false adds.  BEST-EFFORT,
    like Delta's autoCompact: the triggering write has already
    committed by the time this runs, so any maintenance failure
    (version collision with a concurrent writer, optimize error) is
    swallowed with a warning — the caller's returned version must not
    depend on the maintenance commit succeeding.  ``snap`` is the
    snapshot the write's commit returned."""
    if mode != "append":
        return
    try:
        _auto_compact_once(spark, snap)
    except Exception as exc:  # noqa: BLE001 — maintenance is best-effort
        import warnings

        warnings.warn(
            f"auto-compact skipped at {snap.table_path}: {exc!r}", stacklevel=2
        )


def _auto_compact_once(spark, snap) -> None:
    config = snap.configuration
    if config.get("delta.autoOptimize.autoCompact") != "true":
        return
    min_files = int(config.get("gw.autoCompact.minNumFiles", "8"))
    small_cut = int(
        config.get("gw.autoCompact.minFileSize", str(16 * 1024 * 1024))
    )
    table_path = snap.table_path
    small = [p for p in snap.files if snap.adds[p].get("size", 0) < small_cut]
    pcols = list(snap.partition_columns or [])
    if not pcols:
        if len(small) >= min_files:
            optimize_table(
                spark, table_path, target_files=1, min_file_size=small_cut
            )
        return
    from collections import Counter

    per_part: Counter = Counter(
        tuple(sorted(snap.adds[p]["partitionValues"].items())) for p in small
    )
    tripped = [dict(pv) for pv, count in per_part.items() if count >= min_files]
    if tripped:
        # ONE OPTIMIZE commit for every tripped partition (Delta's
        # autoCompact batches the same way): the sequential
        # per-partition loop paid a snapshot reload + read job +
        # write job + log commit PER VALUE — measured round-12 on
        # delta_auto_optimize as a ~100-job storm of 60 ms driver-
        # sequential jobs.  The partitioned write inside
        # optimize_table (repartition by the partition columns)
        # still emits one compacted file per partition value.
        optimize_table(
            spark,
            table_path,
            target_files=1,
            min_file_size=small_cut,
            where_partitions=tripped,
        )


def optimize_table(
    spark: SparkSession,
    table_path: str,
    target_files: int = 1,
    zorder_by: list[str] | None = None,
    min_file_size: int | None = None,
    hilbert_by: list[str] | None = None,
    where_partitions: dict[str, str] | list[dict[str, str]] | None = None,
) -> int:
    """Compact the current snapshot into ``target_files`` files.

    The commit removes every current file and adds the compacted ones
    with ``dataChange=false`` semantics (same rows before and after) —
    streaming readers are not re-triggered. Returns the new version.

    ``zorder_by`` clusters rows by the given column(s) while
    compacting: one column → exact range clustering; several → a true
    Morton (bit-interleaved) Z-order over quantile-bucketed dimensions
    (``sources/zorder.py``), so each output file covers a compact
    hyper-rectangle and ``add.stats`` min/max are tight on EVERY
    clustered column — range predicates on any of them skip most
    files, the effect OPTIMIZE ZORDER BY has in Delta.

    ``hilbert_by`` (exactly 2 columns) clusters on the Hilbert curve
    instead (``sources/hilbert.py``): strictly better locality than
    Morton — no diagonal jumps — which is the curve Delta's liquid
    clustering uses; mutually exclusive with ``zorder_by``.

    A table with declared clustering columns
    (:func:`set_clustering_columns`, Delta's CLUSTER BY) reclusters on
    them AUTOMATICALLY when neither ``zorder_by`` nor ``hilbert_by``
    is passed — plain ``OPTIMIZE`` maintains the declared layout, the
    liquid-clustering maintenance contract (2 columns ride the Hilbert
    curve like Delta's liquid; 1 or 3+ use range/Morton).
    """
    if zorder_by and hilbert_by:
        raise ValueError("zorder_by and hilbert_by are mutually exclusive")
    snap = load_snapshot(table_path)
    if not zorder_by and not hilbert_by:
        cols = clustering_columns(snap)
        if cols:
            if len(cols) == 2:
                hilbert_by = cols
            else:
                zorder_by = cols
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to optimize at {table_path}")
    # Incremental bin-packing (Delta's minFileSize behavior): only
    # files below the threshold are rewritten; already-compacted big
    # files stay in place — re-running OPTIMIZE on a maintained table
    # touches just the new small-file tail, not the whole history.
    # zorder recluster needs every row, so it always takes all files
    # WITHIN the optimize scope.
    victims = snap.files
    if where_partitions:
        # OPTIMIZE ... WHERE partition predicate (Delta's partition-
        # scoped compaction): restrict to files whose add.partitionValues
        # match — metadata-only selection, the form every maintained
        # 100 TB table uses (you compact yesterday's partition, never
        # the table).  A LIST of scopes matches any of them (one
        # commit compacts every listed partition — how auto-compact
        # batches all tripped partitions into a single OPTIMIZE
        # instead of one commit + read + write cycle per value).
        scopes = (
            where_partitions
            if isinstance(where_partitions, list)
            else [where_partitions]
        )
        unknown = {
            c for scope in scopes for c in scope
        } - set(snap.partition_columns or [])
        if unknown:
            raise ValueError(
                f"where_partitions keys {sorted(unknown)} are not "
                f"partition columns {snap.partition_columns}"
            )
        victims = [
            p
            for p in victims
            if any(
                all(
                    snap.adds[p]["partitionValues"].get(c) == v
                    for c, v in scope.items()
                )
                for scope in scopes
            )
        ]
        if not victims:
            return snap.version
    if min_file_size is not None and not zorder_by and not hilbert_by:
        # filter WITHIN the (possibly partition-scoped) victim set —
        # rebuilding from snap.files would silently escape the
        # where_partitions scope
        victims = [
            p for p in victims if snap.adds[p].get("size", 0) < min_file_size
        ]
        if len(victims) < 2:
            return snap.version  # nothing worth packing
    if where_partitions and len(victims) < 2 and not zorder_by and not hilbert_by:
        return snap.version  # a single in-scope file is already compact
    pcols = list(snap.partition_columns or [])
    tracked = _row_tracking_enabled(snap)
    if tracked:
        # id-preserving compaction (Delta's materialized row ids):
        # every row's stable id rides the rewrite as a physical
        # column; readers coalesce it ahead of baseRowId + index
        from guidewire_spark.sources.snapshot import MATERIALIZED_ROW_ID_KEY

        mat_col = _materialized_row_id_col(snap.configuration)
        df = scan_live_files(
            spark, snap, victims, row_ids=True
        ).withColumnRenamed("_row_id", mat_col)
    else:
        df = scan_live_files(spark, snap, victims)
    if zorder_by:
        from guidewire_spark.sources.zorder import cluster_by_zorder

        df = cluster_by_zorder(df, zorder_by, target_files)
    elif hilbert_by:
        from guidewire_spark.sources.hilbert import cluster_by_hilbert

        df = cluster_by_hilbert(df, hilbert_by, target_files)
    elif pcols:
        # one write task per partition value → target_files files per
        # partition, compacted in parallel across partitions
        df = df.repartition(*pcols)
    else:
        df = df.coalesce(target_files)
    adds = stage_add_actions(
        _to_physical(df, snap.schema), snap, pcols or None, data_change=False
    )
    now = int(time.time() * 1000)
    actions = []
    if tracked:
        actions.append(
            _table_metadata(
                snap,
                now,
                configuration={**adds.configuration, MATERIALIZED_ROW_ID_KEY: mat_col},
            )
        )
    actions += _removes(victims, now, data_change=False)
    actions += adds
    # Commit at the version AFTER the snapshot we read: if anything
    # committed in between, the commit collides and the conflict
    # surfaces instead of silently resurrecting stale state (Delta's
    # read-version conflict detection).
    version = _commit(snap, "OPTIMIZE", "Compaction", actions, now).version
    # Self-maintaining bloom index: compaction output files have no
    # sidecars (reads stay sound but stop skipping); on tables with
    # bloom columns configured, re-cover them now — one executor-side
    # pass over just the new files, plus sidecar GC for the removed
    # ones.  Unconfigured tables skip both calls entirely.
    from guidewire_spark.sources.bloom import (
        CONFIG_COLUMNS,
        reindex_bloom,
        vacuum_bloom_sidecars,
    )

    if any(snap.configuration.get(CONFIG_COLUMNS, "").split(",")):
        reindex_bloom(spark, table_path)
        vacuum_bloom_sidecars(table_path)
    return version


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: str | list[str],
    *,
    merge_schema: bool = False,
) -> int:
    """MERGE (upsert): update target rows matching ``source`` on the
    key column(s), insert source rows with no match. Source must be
    unique on the key. Returns the new version.

    Scale design — rewrite only touched files: the source's key bounds
    prune the target file list via ``add.stats`` (data skipping), so a
    merge of a day's updates into a years-deep table rewrites the few
    files whose [min,max] key range overlaps the update set, never the
    whole table. Files without stats are conservatively rewritten
    (pruning must be sound). Matching itself is a left-anti join on
    the candidate subset — the classic copy-on-write MERGE.

    ``merge_schema=True`` (Delta's MERGE WITH SCHEMA EVOLUTION /
    autoMerge): source columns absent from the target append to the
    schema additively (`_merged_schema` rules — shared columns must
    agree on type); kept target rows read NULL for the new columns,
    and the commit carries the metaData action alongside the file
    swaps, so evolution and upsert land atomically in ONE version.
    Without the flag, extra source columns raise (accidental drift
    must not silently widen a table).
    """
    keys = [on] if isinstance(on, str) else list(on)
    snap = load_snapshot(table_path)
    _reject_identity_dml(snap, "MERGE")
    _reject_rewrite_on_row_tracking(snap, "MERGE")
    _reject_on_append_only(snap, "MERGE")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to merge into at {table_path}")
    pcols = list(snap.partition_columns or [])

    from pyspark.sql import functions as F

    # Delta enforces invariants on MERGE like any other write: generated
    # columns materialize/validate and CHECK constraints reject the
    # whole merge before any file is staged (mirrors write_delta /
    # update_table / overwrite_partitions). Only the source needs the
    # pass — kept target rows were validated when they were written.
    source = _apply_generated_columns(source, snap)
    # A narrower source is legal for MERGE (updates may touch a column
    # subset); the full-width merged output is constraint-checked
    # before staging, so only value-level enforcement runs here.
    _enforce_constraints(source, snap, require_all=False)

    target_names = {f.name for f in snap.schema.fields}
    extra = [f.name for f in source.schema.fields if f.name not in target_names]
    evolved = None
    if extra:
        if not merge_schema:
            raise ValueError(
                f"source adds columns {sorted(extra)}; pass "
                "merge_schema=True for additive MERGE schema evolution"
            )
        # evolution adds NEW columns; it must never silently NULL
        # EXISTING target columns on updated rows (this merge replaces
        # matched rows wholesale, so a source missing a target column
        # would destroy its values — Delta's autoMerge preserves them)
        missing = sorted(
            target_names - {f.name for f in source.schema.fields}
        )
        if missing:
            raise ValueError(
                f"merge_schema source must carry every target column; "
                f"missing {missing} (their values on updated rows would "
                "be lost)"
            )
        evolved = _merged_schema(snap.schema, source.schema)
    out_schema = evolved or snap.schema
    out_cols = [f.name for f in out_schema.fields]

    bounds = source.agg(
        F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
    ).collect()[0]
    candidates = snap.pruned_files(keys[0], bounds["lo"], bounds["hi"])

    if candidates:
        target = scan_live_files(spark, snap, candidates)
        kept = target.join(source.select(*keys), keys, "left_anti")
        if evolved is not None:
            merged = kept.unionByName(
                source, allowMissingColumns=True
            ).select(*out_cols)
        else:
            merged = kept.unionByName(source.select(*target.columns))
    else:
        merged = source
        if evolved is not None:
            for f in out_schema.fields:
                if f.name not in set(source.columns):
                    merged = merged.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            merged = merged.select(*out_cols)
    adds = stage_add_actions(_to_physical(merged, out_schema), snap, pcols or None)
    now = int(time.time() * 1000)
    actions = [_table_metadata(snap, now, evolved)] if evolved is not None else []
    actions += _removes(candidates, now)
    actions += adds
    # snapshot-version commit: intervening writers collide, not clobber
    return _commit(snap, "MERGE", "Upsert", actions, now).version


def _merge_insert_exprs(ins, out_cols, src_names):
    """Column list for one WHEN NOT MATCHED INSERT clause: explicit
    mapping wins, else same-name source column, else NULL.  Shared by
    the full-join path and the insert-only fast path so their insert
    semantics cannot drift."""
    from pyspark.sql import functions as F

    exprs = []
    for col in out_cols:
        if ins is not None and col in ins:
            exprs.append(F.expr(ins[col]).alias(col))
        elif ins is None and col in src_names:
            exprs.append(F.col(f"s.{col}").alias(col))
        else:
            exprs.append(F.lit(None).alias(col))
    return exprs


def _merge_insert_only(
    spark: SparkSession,
    table_path: str,
    snap,
    source: DataFrame,
    keys: list[str],
    not_matched: list[dict],
    candidates: list[str],
    evolved,
    out_schema,
    out_cols: list[str],
    pcols: list[str],
) -> int:
    """Pure-append tail of ``merge_clauses`` for insert-only merges:
    anti-join the source against the pruned candidates' keys, apply
    the not-matched clauses first-applicable, append ONE new file set
    — zero removes, so row-tracked and append-only tables both accept
    it, and the commit cost is the inserted rows, not the candidate
    files."""
    from pyspark.sql import functions as F

    if candidates:
        target_keys = scan_live_files(spark, snap, candidates).select(*keys)
        fresh = source.alias("s").join(target_keys, keys, "left_anti")
    else:
        fresh = source.alias("s")

    src_names = set(source.columns)
    gen_cols = table_generated_columns(snap)
    pieces = []
    earlier = F.lit(False)
    for c in not_matched:
        cond = (
            F.coalesce(F.expr(c["condition"]), F.lit(False))
            if c.get("condition")
            else F.lit(True)
        )
        flag = ~earlier & cond
        earlier = earlier | cond
        piece = fresh.where(flag).select(
            *_merge_insert_exprs(c.get("insert"), out_cols, src_names)
        )
        for gcol, gexpr in gen_cols.items():
            piece = piece.withColumn(gcol, F.expr(gexpr))
        pieces.append(piece.select(*out_cols))

    merged = pieces[0]
    for p in pieces[1:]:
        merged = merged.unionByName(p)
    merged = merged.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in out_schema.fields]
    )
    merged = _to_physical(merged, out_schema)
    _enforce_constraints(merged, snap)

    adds = stage_add_actions(merged, snap, pcols or None)
    now = int(time.time() * 1000)
    actions: list[dict] = []
    if evolved is not None or (adds and _row_tracking_enabled(snap)):
        actions.append(_table_metadata(snap, now, evolved, adds.configuration))
    actions += adds
    return _commit(snap, "MERGE", "Insert-only", actions, now).version


def merge_clauses(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: str | list[str],
    clauses: list[dict],
    *,
    merge_schema: bool = False,
) -> int:
    """Full ANSI/Delta MERGE clause surface (``merge_into`` is the
    plain-upsert fast path).  ``clauses`` is an ORDERED list; within
    each match group the first clause whose condition holds applies,
    later ones are dead for that row — Delta's documented evaluation
    order.  Each clause is a dict:

    * ``{"when": "matched", "condition": sql|None,
       "update": {col: expr}}`` — WHEN MATCHED [AND cond] UPDATE SET
    * ``{"when": "matched", "condition": sql|None, "delete": True}``
    * ``{"when": "not_matched", "condition": sql|None,
       "insert": {col: expr} | None}`` — None inserts source columns
       by name (missing target columns become NULL)
    * ``{"when": "not_matched_by_source", "condition": sql|None,
       "update": {...} | "delete": True}``

    Conditions and expressions are SQL strings over aliases ``t``
    (target) and ``s`` (source); not_matched conditions may reference
    only ``s``, not_matched_by_source only ``t``.

    Semantics pinned to Delta: join keys match by plain equality (a
    NULL key never matches); a target row matched by MORE THAN ONE
    source row raises (the protocol's deterministic-merge requirement)
    when any matched clause exists; a target row no clause applies to
    is kept byte-identical.

    Scale design: same copy-on-write shape as ``merge_into`` — when no
    not_matched_by_source clause exists, the source's key bounds prune
    the target file list via add.stats, so a day's updates into a
    years-deep table rewrite only overlapping files; by-source clauses
    are definitionally whole-table (every unmatched target row is
    inspected), so they scan all files.  The clause routing itself is
    one full-outer join plus JVM-side CASE chains — no Python in the
    row path.

    appendOnly interaction (Delta parity): an INSERT-ONLY merge is a
    legal append and passes; any update/delete clause is refused on an
    append-only table."""
    from pyspark.sql import functions as F

    keys = [on] if isinstance(on, str) else list(on)
    removes_rows = any(
        c.get("delete") or c.get("update") for c in clauses
    )
    snap = load_snapshot(table_path)
    _reject_identity_dml(snap, "MERGE")
    if removes_rows:
        # insert-only merges move no existing row: legal on row-tracked
        # AND append-only tables (Delta parity); anything that
        # updates/deletes is a rewrite and takes the guards
        _reject_rewrite_on_row_tracking(snap, "MERGE")
        _reject_on_append_only(snap, "MERGE (with update/delete clauses)")
    if not clauses:
        raise ValueError("MERGE requires at least one clause")
    for c in clauses:
        when = c.get("when")
        if when not in ("matched", "not_matched", "not_matched_by_source"):
            raise ValueError(f"unknown merge clause group {when!r}")
        if when == "not_matched" and ("update" in c or c.get("delete")):
            raise ValueError("WHEN NOT MATCHED supports INSERT only")
        if when == "not_matched_by_source" and "insert" in c:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE only"
            )
        if when in ("matched", "not_matched_by_source") and not (
            c.get("delete") or "update" in c
        ):
            raise ValueError(f"WHEN {when} clause needs 'update' or 'delete'")

    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to merge into at {table_path}")
    pcols = list(snap.partition_columns or [])

    source = _apply_generated_columns(source, snap)
    gen_cols = table_generated_columns(snap)
    for c in clauses:
        assigned = set(c.get("update") or {}) | set(c.get("insert") or {})
        bad = assigned & set(gen_cols)
        if bad:
            raise ValueError(
                f"column(s) {sorted(bad)} are GENERATED ALWAYS AS — a merge "
                "clause may not assign them (they re-materialize from their "
                "expression over the written row)"
            )
    # ``merge_schema=True`` (MERGE WITH SCHEMA EVOLUTION): source-only
    # columns extend the table additively; kept target rows read NULL
    # for them.  WITHOUT the flag, extra source columns are simply not
    # part of the output (the CDC op-tag pattern: clause conditions
    # read them, the target never stores them) — evolution must be
    # opted into, never inferred from a wider source.
    evolved = None
    if merge_schema:
        extra = [
            f.name
            for f in source.schema.fields
            if f.name not in {g.name for g in snap.schema.fields}
        ]
        if extra:
            evolved = _merged_schema(snap.schema, source.schema)
    out_schema = evolved or snap.schema
    out_cols = [f.name for f in out_schema.fields]
    t_names = {f.name for f in snap.schema.fields}
    out_types = {f.name: f.dataType for f in out_schema.fields}

    matched = [c for c in clauses if c["when"] == "matched"]
    not_matched = [c for c in clauses if c["when"] == "not_matched"]
    by_source = [c for c in clauses if c["when"] == "not_matched_by_source"]

    if by_source:
        candidates = list(snap.files)
    else:
        bounds = source.agg(
            F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
        ).collect()[0]
        if bounds["lo"] is None and bounds["hi"] is None:
            # no non-NULL source key: nothing can match (NULL never
            # joins), so no candidate file — an empty CDC micro-batch
            # must not rewrite the table as a no-op
            candidates = []
        else:
            candidates = snap.pruned_files(keys[0], bounds["lo"], bounds["hi"])

    if (matched or by_source) and candidates:
        # Delta's deterministic-merge rule: a target row may match at
        # most one source row.  Required whenever the full-outer join
        # runs (a by-source-only merge would otherwise DUPLICATE every
        # multiply-matched kept row).  Equi-key merge → equivalent
        # check: duplicated source keys that also exist in the target;
        # scans only the stats-pruned candidates, keys column only.
        dup_keys = (
            source.groupBy(*keys).count().where(F.col("count") > 1).drop("count")
        )
        target_keys = scan_live_files(spark, snap, candidates).select(*keys)
        if dup_keys.join(target_keys, keys, "left_semi").limit(1).count():
            raise ValueError(
                "MERGE source has multiple rows matching one target row; "
                "deduplicate the source on the join key first"
            )

    if not candidates and not not_matched:
        return snap.version  # nothing to touch, nothing to insert: no-op

    if not matched and not by_source:
        # INSERT-ONLY fast path: no target row changes, so no file is
        # rewritten — the merge is a pure APPEND of source rows whose
        # keys are absent from the target (anti-join against the
        # pruned candidates' keys, read-only).  Kept rows never move,
        # which is also what makes this legal on row-tracked tables.
        return _merge_insert_only(
            spark, table_path, snap, source, keys, not_matched,
            candidates, evolved, out_schema, out_cols, pcols,
        )

    t = scan_live_files(spark, snap, candidates).withColumn("__tp", F.lit(1)).alias("t")
    s = source.withColumn("__sp", F.lit(1)).alias("s")
    joined = t.join(
        s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys], "full_outer"
    )

    def _first_applicable(group: list[dict], base: str):
        """Per clause index: its condition AND no earlier clause's.
        Everything is coalesced to FALSE — full-outer markers are NULL
        on the unmatched side and a clause condition may itself be
        NULL-valued, and either would poison the kept-rows conjunction
        under three-valued logic (a NULL flag negates to NULL, and
        WHERE drops the row that should have been kept)."""
        out, earlier = [], F.lit(False)
        for c in group:
            cond = (
                F.coalesce(F.expr(c["condition"]), F.lit(False))
                if c.get("condition")
                else F.lit(True)
            )
            out.append(F.coalesce(F.expr(base), F.lit(False)) & ~earlier & cond)
            earlier = earlier | cond
        return out

    pieces = []
    # kept target rows: matched with no applicable clause, or
    # by-source-unmatched with no applicable clause, or (no by_source
    # clauses) every unmatched target row
    m_flags = _first_applicable(matched, "__tp = 1 AND __sp = 1")
    bs_flags = _first_applicable(by_source, "__tp = 1 AND __sp IS NULL")
    none_applies = F.lit(True)
    for f in m_flags + bs_flags:
        none_applies = none_applies & ~f
    kept = joined.where(
        F.coalesce(F.expr("__tp = 1"), F.lit(False)) & none_applies
    )
    pieces.append(
        kept.select(
            *[
                F.col(f"t.{c}").alias(c)
                if c in t_names
                else F.lit(None).cast(out_types[c]).alias(c)
                for c in out_cols
            ]
        )
    )

    for c, flag in zip(matched + by_source, m_flags + bs_flags):
        if c.get("delete"):
            continue  # delete = drop the rows; nothing to union
        upd = c["update"]
        base_proj = joined.where(flag).select(
            *[
                F.expr(upd[col]).alias(col)
                if col in upd
                else (
                    F.col(f"t.{col}").alias(col)
                    if col in t_names
                    else F.lit(None).cast(out_types[col]).alias(col)
                )
                for col in out_cols
            ]
        )
        for gcol, gexpr in gen_cols.items():
            base_proj = base_proj.withColumn(gcol, F.expr(gexpr))
        pieces.append(base_proj.select(*out_cols))

    nm_flags = _first_applicable(not_matched, "__tp IS NULL AND __sp = 1")
    src_names = set(source.columns)
    for c, flag in zip(not_matched, nm_flags):
        ins_proj = joined.where(flag).select(
            *_merge_insert_exprs(c.get("insert"), out_cols, src_names)
        )
        for gcol, gexpr in gen_cols.items():
            ins_proj = ins_proj.withColumn(gcol, F.expr(gexpr))
        pieces.append(ins_proj.select(*out_cols))

    merged = pieces[0]
    for p in pieces[1:]:
        merged = merged.unionByName(p)
    # pin every output column to the table type — an update expression
    # may widen (int + 1 → bigint) and the staged files must match the
    # logged schema exactly
    merged = merged.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in out_schema.fields]
    )
    merged = _to_physical(merged, out_schema)
    _enforce_constraints(merged, snap)

    adds = stage_add_actions(merged, snap, pcols or None)
    now = int(time.time() * 1000)
    actions = [_table_metadata(snap, now, evolved)] if evolved is not None else []
    actions += _removes(candidates, now)
    actions += adds
    return _commit(snap, "MERGE", "Merge", actions, now).version


def delete_from(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    prune_column: str | None = None,
    prune_lo=None,
    prune_hi=None,
) -> int:
    """DELETE FROM ... WHERE ``predicate`` (SQL expression string).

    Three-way file handling (Delta's own strategy):
    * files whose stats DISPROVE any match (via the optional
      ``prune_column`` range hint) are untouched — pure metadata,
    * remaining candidate files are scanned; files with no matching
      rows are also untouched,
    * only files that actually contain matches are rewritten without
      the matching rows (copy-on-write).
    At 100 TB a targeted delete (GDPR erasure, bad-batch rollback)
    rewrites a handful of files, never the table.
    """
    return _delete_cow(
        spark, load_snapshot(table_path), predicate, prune_column, prune_lo, prune_hi
    )


def _delete_cow(spark, snap, predicate, prune_column, prune_lo, prune_hi) -> int:
    """Copy-on-write DELETE on the snapshot ``snap`` (``delete_from``)."""
    _reject_rewrite_on_row_tracking(snap, "copy-on-write DELETE")
    _reject_on_append_only(snap, "DELETE")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to delete from at {snap.table_path}")
    pcols = list(snap.partition_columns or [])
    candidates = (
        snap.pruned_files(prune_column, prune_lo, prune_hi)
        if prune_column
        else list(snap.files)
    )
    # partition columns are materialized from the log, so predicates
    # may reference them
    rewrite = list(_matches_by_file(spark, snap, candidates, predicate))
    if not rewrite:
        raise ValueError("predicate matches no rows; nothing to delete")
    survivors = scan_live_files(spark, snap, rewrite).where(f"NOT ({predicate})")
    adds = stage_add_actions(
        _to_physical(survivors, snap.schema), snap, pcols or None
    )
    now = int(time.time() * 1000)
    # snapshot-version commit: intervening writers collide, not clobber
    return _commit(
        snap, "DELETE", predicate, _removes(rewrite, now) + adds, now
    ).version


def delete_from_mor(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    prune_column: str | None = None,
    prune_lo=None,
    prune_hi=None,
) -> int:
    """DELETE FROM ... WHERE — MERGE-ON-READ: record the matching row
    indexes as per-file deletion vectors (``add.deletionVector``,
    sources/dv.py) instead of rewriting files.  The commit is
    metadata-sized no matter how many files are touched — the shape
    Delta ships as deletion vectors, and the right tool when a
    predicate clips a few rows from MANY files (copy-on-write
    ``delete_from`` wins when whole files die, and
    ``purge_deletion_vectors`` / OPTIMIZE folds vectors back into
    physical files once they accumulate).

    Successive MOR deletes on one file MERGE into a single descriptor;
    rows already dead under an existing vector are invisible to the
    predicate scan (no double counting, and a predicate matching only
    dead rows raises like any no-op DELETE).  Stats stay attached to
    the add (the protocol's tightBounds=false reading: min/max remain
    valid bounds, numRecords is corrected by cardinality at
    ``metadata_count``)."""
    return _delete_mor(
        spark, load_snapshot(table_path), predicate, prune_column, prune_lo, prune_hi
    )


def _delete_mor(spark, snap, predicate, prune_column, prune_lo, prune_hi) -> int:
    """Merge-on-read DELETE on the snapshot ``snap`` (``delete_from_mor``)."""
    from guidewire_spark.sources.dv import META_FILE, META_ROW, encode_dead_rows

    _reject_on_append_only(snap, "DELETE (merge-on-read)")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to delete from at {snap.table_path}")
    candidates = (
        snap.pruned_files(prune_column, prune_lo, prune_hi)
        if prune_column
        else list(snap.files)
    )
    scan = scan_live_files(spark, snap, candidates, file_keys=True)
    # Indexes aggregate + encode executor-side; the driver sees one
    # (path, payload) descriptor per touched file, never a row list.
    hits = scan.where(predicate).select(META_FILE, META_ROW)
    merged = encode_dead_rows(spark, hits, snap.deletion_vectors(candidates))
    if not merged:
        raise ValueError("predicate matches no rows; nothing to delete")
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "DELETE",
        f"MOR {predicate}",
        _vector_swaps(snap, candidates, merged, now),
        now,
        reader={"deletionVectors"},
        writer={"deletionVectors"},
    ).version


_ROW_TRACKING_KEY = "delta.enableRowTracking"
_ROW_HWM_KEY = "delta.rowTracking.rowIdHighWaterMark"


def _row_tracking_enabled(snap) -> bool:
    return snap.configuration.get(_ROW_TRACKING_KEY) == "true"


def _reject_rewrite_on_row_tracking(snap, op: str) -> None:
    """Row-tracked tables accept merge-on-read DML (plus the
    id-PRESERVING rewrites: OPTIMIZE, REORG PURGE and MOR UPDATE, which
    materialize each row's id through the rewrite — writer paths at
    optimize_table / purge_deletion_vectors / update_table_mor).  The
    remaining copy-on-write paths (DELETE/UPDATE/MERGE / replaceWhere /
    partition overwrite) move rows to new files without carrying ids
    and would reassign them, so they are refused."""
    if _row_tracking_enabled(snap):
        raise ValueError(
            f"{op} would reassign stable row ids on a row-tracked table; "
            "use merge-on-read DML (delete_from_mor / update_table_mor)"
        )


def _reject_on_append_only(snap, op: str) -> None:
    """``delta.appendOnly=true`` (the protocol's appendOnly writer
    feature, PROTOCOL.md "Append-only Tables"): the table accepts only
    commits that ADD rows — any operation that deletes or rewrites
    existing rows is refused.  OPTIMIZE / REORG PURGE stay allowed
    (``dataChange=false`` compaction does not change the logical
    table), matching delta-spark's enforcement.  The property arrives
    through the generic SET TBLPROPERTIES path; enforcement is
    writer-side, the same place CHECK constraints live."""
    if snap.configuration.get("delta.appendOnly", "").strip().lower() == "true":
        raise ValueError(
            f"{op} is not allowed on append-only table {snap.table_path} "
            "(delta.appendOnly=true); unset the property to run DML"
        )


def _gate_write(snap) -> None:
    """Writer-protocol gate at every mutation head: a table demanding
    writer features this engine doesn't implement is refused BEFORE
    any action is staged (deltalog.check_writer_protocol)."""
    from guidewire_spark.sources.deltalog import check_writer_protocol

    check_writer_protocol(snap.protocol, snap.table_path)


def _file_record_counts(files_or_paths, name_hint: str) -> list[tuple[str, int]]:
    """(path, numRecords) per staged/live file from footer stats,
    sorted by path for a deterministic base-row-id assignment order.
    Raises when a footer carries no count — silent guessing would
    alias row ids."""
    import json as _json

    from guidewire_spark.sources.stats import footer_stats

    out = []
    for p in sorted(files_or_paths):
        raw = footer_stats(p)
        n = _json.loads(raw).get("numRecords") if raw else None
        if n is None:
            raise ValueError(
                f"{name_hint}: no numRecords in footer stats for {p}; "
                "cannot assign base row ids"
            )
        out.append((p, int(n)))
    return out


_CLUSTERING_KEY = "delta.clusteringColumns"  # legacy config spelling
_CLUSTERING_DOMAIN = "delta.clustering"  # protocol domainMetadata domain


def clustering_columns(snap) -> list[str]:
    """Declared liquid-clustering columns of the snapshot ``snap``: the
    protocol's ``delta.clustering`` domainMetadata (current writer),
    falling back to the legacy ``delta.clusteringColumns`` config key
    so tables written before the domain migration keep their layout
    contract."""
    import json as _json

    dconf = snap.domains.get(_CLUSTERING_DOMAIN)
    if dconf:
        try:
            return list(_json.loads(dconf).get("clusteringColumns") or [])
        except ValueError:
            pass
    declared = snap.configuration.get(_CLUSTERING_KEY, "")
    return [c for c in declared.split(",") if c]


def enable_in_commit_timestamps(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES delta.enableInCommitTimestamps
    (the public Delta table feature): from this commit on, every
    commitInfo carries a MONOTONIC ``inCommitTimestamp`` (computed at
    commit time as max(now, previous + 1) in deltalog.write_commit)
    and timestamp time travel resolves against it instead of the
    wall-clock ``timestamp`` — so a writer with a skewed or
    rolled-back clock can no longer make ``TIMESTAMP AS OF`` pick the
    wrong version.  The enabling commit stamps itself and records its
    version and stamp as the enablement version/timestamp in the
    configuration (deltalog's in-commit-timestamp step), per the
    protocol, letting readers know timestamps before that point are
    NOT monotonic."""
    from guidewire_spark.sources.deltalog import ICT_KEY

    snap = load_snapshot(table_path)
    _gate_write(snap)
    if snap.configuration.get(ICT_KEY) == "true":
        raise ValueError(f"in-commit timestamps already enabled at {table_path}")
    config = {**snap.configuration, ICT_KEY: "true"}
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "SET TBLPROPERTIES",
        "inCommitTimestamps",
        [_table_metadata(snap, now, configuration=config)],
        now,
        writer={"inCommitTimestamp"},
    ).version


_FEATURE_MANAGED_KEYS = {
    "delta.enableInCommitTimestamps": "enable_in_commit_timestamps",
    "delta.enableRowTracking": "enable_row_tracking",
    "delta.columnMapping.mode": "rename_column/drop_column",
    "delta.clusteringColumns": "set_clustering_columns",
}


def set_table_properties(table_path: str, props: dict[str, str]) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES (generic): merge ``props``
    into the table configuration in a metadata-only commit. Keys whose
    enablement has protocol side effects beyond the key itself
    (in-commit timestamps seed a clock chain, row tracking assigns
    base ids, column mapping rewrites the physical schema binding)
    are refused with a pointer at their dedicated path — a raw
    property write would advertise a feature whose invariants were
    never established.  A ``None``/empty value UNSETS the key."""
    for key in props:
        if key in _FEATURE_MANAGED_KEYS:
            raise ValueError(
                f"{key} is feature-managed; use "
                f"writer.{_FEATURE_MANAGED_KEYS[key]}() instead"
            )
    snap = load_snapshot(table_path)
    _gate_write(snap)
    if snap.schema is None:
        raise ValueError(f"no table at {table_path}")
    config = dict(snap.configuration)
    for key, value in props.items():
        if value in (None, ""):
            config.pop(key, None)
        else:
            config[key] = str(value)
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "SET TBLPROPERTIES",
        "setProperties",
        [_table_metadata(snap, now, configuration=config)],
        now,
    ).version


def set_clustering_columns(table_path: str, columns: list[str]) -> int:
    """ALTER TABLE ... CLUSTER BY (Delta liquid clustering's
    declaration half): record the clustering columns as a table
    property in a metadata-only commit.  Existing files are NOT
    rewritten — clustering is maintained lazily by ``optimize_table``,
    which reclusters on the declared columns whenever it runs without
    explicit ``zorder_by``/``hilbert_by`` (Delta's own contract:
    CLUSTER BY declares, OPTIMIZE maintains).  Pass an empty list to
    drop clustering (ALTER TABLE ... CLUSTER BY NONE).

    Stored as the protocol's ``delta.clustering`` domainMetadata
    action (CLUSTER BY NONE removes the domain); tables written before
    the domain migration are still honored via the legacy
    configuration key (see ``clustering_columns``)."""
    snap = load_snapshot(table_path)
    _gate_write(snap)
    pcols = set(snap.partition_columns or [])
    known = set(snap.schema.fieldNames()) if snap.schema else set()
    for c in columns:
        if c not in known:
            raise ValueError(f"clustering column {c!r} not in table schema")
        if c in pcols:
            raise ValueError(
                f"clustering column {c!r} is a partition column — "
                "cluster within partitions on data columns instead"
            )
    if len(columns) > 4:
        raise ValueError(
            "at most 4 clustering columns (beyond that, per-column "
            "skipping power collapses — the same cap Delta applies)"
        )
    import json as _json

    from guidewire_spark.sources.deltalog import domain_metadata_action

    domain = domain_metadata_action(
        _CLUSTERING_DOMAIN,
        _json.dumps({"clusteringColumns": columns}, separators=(",", ":")),
        removed=not columns,
    )
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "CLUSTER BY",
        ",".join(columns) or "NONE",
        [domain],
        now,
        writer={"domainMetadata", "clustering"},
    ).version


def enable_row_tracking(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES delta.enableRowTracking=true:
    assign each LIVE file a ``baseRowId`` (cumulative record counts in
    sorted-path order — a file row's stable id is baseRowId + its
    position in the file, the public Delta protocol's row-tracking
    identity) and record the fresh-id high-water mark.  Metadata-only
    (dataChange=false — enabling tracking changes no data; the change
    feed stays silent); subsequent appends assign ids above the mark
    in the same commit that adds the files."""
    snap = load_snapshot(table_path)
    _gate_write(snap)
    if _row_tracking_enabled(snap):
        raise ValueError(f"row tracking already enabled at {table_path}")
    counts = _file_record_counts(snap.files, "enable_row_tracking")
    now = int(time.time() * 1000)
    base = 0
    adds = []
    for p, n in counts:
        adds.append(_live_add(snap, p, now, data_change=False, base_row_id=base))
        base += n
    config = {
        **snap.configuration,
        _ROW_TRACKING_KEY: "true",
        _ROW_HWM_KEY: str(base - 1),
    }
    return _commit(
        snap,
        "SET TBLPROPERTIES",
        "rowTracking",
        [_table_metadata(snap, now, configuration=config)] + adds,
        now,
        writer={"rowTracking", "domainMetadata"},
    ).version


def _assign_base_row_ids(files, config: dict) -> tuple[dict[str, int], dict]:
    """Base row ids for newly staged files, above the recorded
    high-water mark; returns ({path: base}, updated config).  The
    caller must commit the updated config's metadata action in the
    SAME commit as the adds (id assignment and the mark move
    atomically, the identity-column discipline)."""
    counts = _file_record_counts((f.path for f in files), "row tracking")
    base = int(config.get(_ROW_HWM_KEY, "-1")) + 1
    assignment = {}
    for p, n in counts:
        assignment[p] = base
        base += n
    config = dict(config)
    config[_ROW_HWM_KEY] = str(base - 1)
    return assignment, config


def delete_auto(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    *,
    mor_threshold: float = 0.3,
    prune_column: str | None = None,
    prune_lo=None,
    prune_hi=None,
) -> tuple[int, str]:
    """Cost-based DELETE: pick copy-on-write vs merge-on-read from the
    MEASURED damage ratio — matched rows over total rows in the files
    that contain matches (file totals from add.stats, matched counts
    from one predicate scan).  A dense delete (most rows of the
    touched files die) rewrites those files once and keeps the read
    path vector-free; a sparse delete (a few rows across many files —
    the GDPR-erasure shape) records deletion vectors and rewrites
    nothing.  This is the strategy selection Delta's DELETE performs
    when deletion vectors are enabled.  Returns (new version,
    'cow' | 'mor').

    Cost note: the routing measurement is itself a predicate scan of
    the candidate files, and the routed DELETE scans them again — the
    decision costs one extra pass over the touched files' matching
    columns.  The routed DELETE runs on the snapshot the router
    measured (one load per call).  Callers that already know their delete shape should
    call delete_from / delete_from_mor directly; this router is for
    the generic entry point where the shape is unknown."""
    import json as _json

    snap = load_snapshot(table_path)
    _reject_on_append_only(snap, "DELETE")
    if _row_tracking_enabled(snap):
        # forced routing: copy-on-write would reassign stable row ids,
        # so a row-tracked table always takes merge-on-read — and the
        # damage-ratio measurement pass is skipped (outcome is fixed)
        return (
            _delete_mor(spark, snap, predicate, prune_column, prune_lo, prune_hi),
            "mor",
        )
    if not snap.files:
        raise ValueError(f"nothing to delete from at {table_path}")
    candidates = (
        snap.pruned_files(prune_column, prune_lo, prune_hi)
        if prune_column
        else list(snap.files)
    )
    per_file = _matches_by_file(spark, snap, candidates, predicate)
    if not per_file:
        raise ValueError("predicate matches no rows; nothing to delete")
    matched = sum(per_file.values())
    total = 0
    for p in per_file:
        add = snap.adds[p]
        raw = add.get("stats")
        n = _json.loads(raw).get("numRecords") if raw else None
        if n is None:
            # stats missing: be conservative, assume dense (CoW)
            total = matched
            break
        # the denominator must be LIVE rows: stats count physical
        # rows, but the matched side scanned DV-subtracted rows —
        # without the correction a previously-vectored file's
        # density is understated and dense deletes keep stacking
        # vectors on exactly the files that most need a rewrite
        dv = add.get("deletionVector")
        if dv:
            n -= int(dv.get("cardinality", 0))
        total += max(n, 0)
    ratio = matched / max(total, 1)
    if ratio >= mor_threshold:
        route, delete = "cow", _delete_cow
    else:
        route, delete = "mor", _delete_mor
    return delete(spark, snap, predicate, prune_column, prune_lo, prune_hi), route


def purge_deletion_vectors(spark: SparkSession, table_path: str) -> int:
    """REORG TABLE ... APPLY (PURGE): physically rewrite every file
    carrying a deletion vector WITHOUT its dead rows and drop the
    vectors — ``dataChange=false`` (the logical table is unchanged;
    CDF consumers don't re-fire), exactly Delta's purge contract.
    Files without vectors are untouched (metadata-only).

    Row-tracked tables purge ID-PRESERVINGLY (Delta's materialized
    row ids): each survivor's stable id is written INTO the new file
    as the materialized-row-id column (snapshot.MATERIALIZED_ROW_ID_KEY
    names it in the table config), and readers coalesce it ahead of
    the baseRowId+index default — so vectors no longer stack forever
    on tracked tables (the round-6 gap)."""
    snap = load_snapshot(table_path)
    _gate_write(snap)
    rewrite = list(snap.deletion_vectors())
    if not rewrite:
        raise ValueError(f"no deletion vectors to purge at {table_path}")
    tracked = _row_tracking_enabled(snap)
    pcols = list(snap.partition_columns or [])
    from guidewire_spark.sources.snapshot import MATERIALIZED_ROW_ID_KEY

    if tracked:
        mat_col = _materialized_row_id_col(snap.configuration)
        survivors = scan_live_files(
            spark, snap, rewrite, row_ids=True
        ).withColumnRenamed("_row_id", mat_col)
    else:
        survivors = scan_live_files(spark, snap, rewrite)
    adds = stage_add_actions(
        _to_physical(survivors, snap.schema), snap, pcols or None, data_change=False
    )
    now = int(time.time() * 1000)
    actions = []
    if tracked:
        # fresh bases above the mark keep the protocol invariant
        # (every tracked add carries one); the materialized column
        # wins on read, so survivor ids are unchanged
        actions.append(
            _table_metadata(
                snap,
                now,
                configuration={**adds.configuration, MATERIALIZED_ROW_ID_KEY: mat_col},
            )
        )
    actions += _removes(rewrite, now, data_change=False)
    actions += adds
    return _commit(snap, "REORG", "PURGE", actions, now).version


def update_table_mor(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    assignments: dict[str, str],
) -> int:
    """UPDATE ... SET — MERGE-ON-READ: the matching rows' indexes land
    in per-file deletion vectors and their UPDATED images append as a
    NEW file, one atomic commit — no touched file is rewritten (Delta's
    DV-backed UPDATE).  Copy-on-write ``update_table`` rewrites every
    file containing a match; this writes only the changed rows plus
    metadata, the winning trade when an UPDATE clips a few rows from
    many files of a 100 TB table.

    Same guards as the copy-on-write form: identity-column and
    partition-column assignments are rejected, updated rows re-check
    CHECK constraints.  Under the change feed the update reads as
    delete (the dead indexes) + insert (the new file) — the
    file-granularity CDF representation of an update.

    Row-tracked tables update ID-PRESERVINGLY: each updated image
    carries its OLD stable id in the materialized-row-id column of the
    new file (readers coalesce it ahead of baseRowId + index), so a
    row's id survives UPDATE — Delta's row-tracking contract."""
    from pyspark.sql import functions as F

    from guidewire_spark.sources.dv import META_FILE, META_ROW, encode_dead_rows

    snap = load_snapshot(table_path)
    _reject_on_append_only(snap, "UPDATE (merge-on-read)")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to update at {table_path}")
    ident_hit = set(assignments) & set(_identity_specs(snap))
    if ident_hit:
        raise ValueError(
            f"identity column(s) {sorted(ident_hit)} are GENERATED "
            "ALWAYS — UPDATE may not assign them"
        )
    pcols = list(snap.partition_columns or [])
    for col in assignments:
        if col in pcols:
            raise ValueError(
                f"updating partition column {col!r} is not supported; "
                "use MERGE to move rows between partitions"
            )
    candidates = list(snap.files)
    tracked = _row_tracking_enabled(snap)
    # a tracked row's CURRENT stable id rides along so the updated
    # image carries it forward
    matched = scan_live_files(
        spark, snap, candidates, row_ids=tracked, file_keys=True
    ).where(predicate)
    out = [
        F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
        for c in snap.schema.fieldNames()
    ]
    if tracked:
        from guidewire_spark.sources.snapshot import MATERIALIZED_ROW_ID_KEY

        mat_col = _materialized_row_id_col(snap.configuration)
        out.append(F.col("_row_id").alias(mat_col))
    updated = matched.select(*out)
    _enforce_constraints(updated, snap)
    # Indexes aggregate + encode executor-side (dv.encode_dead_rows):
    # the driver collects one descriptor per touched file, not rows.
    merged = encode_dead_rows(
        spark, matched.select(META_FILE, META_ROW), snap.deletion_vectors(candidates)
    )
    if not merged:
        raise ValueError("predicate matches no rows; nothing to update")
    adds = stage_add_actions(_to_physical(updated, snap.schema), snap, pcols or None)
    now = int(time.time() * 1000)
    actions = []
    if tracked:
        # the updated images carry their OLD ids in the materialized
        # column (read-side coalesce wins); the fresh bases of the new
        # file only keep the every-tracked-add-has-a-base invariant
        actions.append(
            _table_metadata(
                snap,
                now,
                configuration={**adds.configuration, MATERIALIZED_ROW_ID_KEY: mat_col},
            )
        )
    actions += _vector_swaps(snap, candidates, merged, now)
    actions += adds
    return _commit(
        snap,
        "UPDATE",
        f"MOR {predicate}",
        actions,
        now,
        reader={"deletionVectors"},
        writer={"deletionVectors"},
    ).version


def replace_where(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    new_df: DataFrame,
) -> int:
    """Selective overwrite (Delta's ``replaceWhere``): atomically
    delete every row matching ``predicate`` and insert ``new_df`` —
    ONE commit, so readers never observe the half-replaced state that
    a delete-then-append pair exposes. The idiom for reprocessing one
    day / one partition of a 100 TB table in place.

    Delta's contract is enforced: every incoming row must satisfy the
    predicate (otherwise the "overwrite" would silently leak rows
    outside the replaced region). File handling is the same three-way
    copy-on-write as ``delete_from``: untouched files stay metadata-
    only; only files actually containing matches are rewritten.
    """
    snap = load_snapshot(table_path)
    _reject_identity_dml(snap, "replaceWhere")
    _reject_rewrite_on_row_tracking(snap, "replaceWhere")
    _reject_on_append_only(snap, "replaceWhere")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to replace at {table_path}")
    violating = new_df.where(f"NOT ({predicate})").count()
    if violating:
        raise ValueError(
            f"replace_where: {violating} incoming rows violate {predicate!r}"
        )
    pcols = list(snap.partition_columns or [])
    rewrite = list(_matches_by_file(spark, snap, snap.files, predicate))
    adds = []
    if rewrite:
        survivors = scan_live_files(spark, snap, rewrite).where(
            f"NOT ({predicate})"
        )
        adds += stage_add_actions(
            _to_physical(survivors, snap.schema), snap, pcols or None
        )
    adds += stage_add_actions(_to_physical(new_df, snap.schema), snap, pcols or None)
    now = int(time.time() * 1000)
    return _commit(
        snap, "WRITE", f"ReplaceWhere({predicate})", _removes(rewrite, now) + adds, now
    ).version


def update_table(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    assignments: dict[str, str],
    prune_column: str | None = None,
    prune_lo=None,
    prune_hi=None,
) -> int:
    """UPDATE ... SET ... WHERE (copy-on-write): rewrite only the files
    that actually contain matching rows, applying each ``SET col =
    expr`` to the matching rows and copying the rest through.

    Same three-way file handling as DELETE (stats-pruned candidates →
    match detection per file → rewrite only hit files); at 100 TB a
    targeted UPDATE touches a handful of files, never the table.
    Updated rows re-check CHECK constraints — an UPDATE may not
    invalidate the table's invariants.
    """
    snap = load_snapshot(table_path)
    _reject_rewrite_on_row_tracking(snap, "copy-on-write UPDATE")
    _reject_on_append_only(snap, "UPDATE")
    _gate_write(snap)
    if not snap.files:
        raise ValueError(f"nothing to update at {table_path}")
    # UPDATE of non-identity columns preserves the existing identity
    # values (copy-on-write rewrites rows wholesale), so uniqueness
    # holds; only an assignment TARGETING the identity column could
    # mint duplicates — reject exactly that.
    ident_hit = set(assignments) & set(_identity_specs(snap))
    if ident_hit:
        raise ValueError(
            f"identity column(s) {sorted(ident_hit)} are GENERATED "
            "ALWAYS — UPDATE may not assign them"
        )
    for col in assignments:
        if col in (snap.partition_columns or []):
            raise ValueError(
                f"updating partition column {col!r} is not supported; "
                "use MERGE to move rows between partitions"
            )
    pcols = list(snap.partition_columns or [])
    candidates = (
        snap.pruned_files(prune_column, prune_lo, prune_hi)
        if prune_column
        else list(snap.files)
    )
    from pyspark.sql import functions as F

    rewrite = list(_matches_by_file(spark, snap, candidates, predicate))
    if not rewrite:
        raise ValueError("predicate matches no rows; nothing to update")
    base = scan_live_files(spark, snap, rewrite)
    updated = base.select(
        *[
            F.when(F.expr(predicate), F.expr(assignments[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in assignments
            else F.col(c)
            for c in base.columns
        ]
    )
    _enforce_constraints(updated, snap)
    adds = stage_add_actions(_to_physical(updated, snap.schema), snap, pcols or None)
    now = int(time.time() * 1000)
    # snapshot-version commit: intervening writers collide, not clobber
    return _commit(
        snap, "UPDATE", predicate, _removes(rewrite, now) + adds, now
    ).version


def _new_clone_dir(dst_table: str) -> None:
    """Create the directory of a new clone; an existing table there is
    refused."""
    if os.path.isdir(os.path.join(dst_table, "_delta_log")):
        raise FileExistsError(f"destination {dst_table} is already a table")
    os.makedirs(dst_table, exist_ok=True)


def _commit_clone(
    snap, dst_table: str, mode: str, adds: list[dict], now: int
) -> int:
    """Commit version 0 of a clone of ``snap``: the source's protocol
    (the features its files use — deletion vectors, row tracking —
    come along), a metaData with a fresh id and the source's schema,
    partitioning and configuration, the source's domainMetadata
    (clustering columns among them), then ``adds``.  A source with
    in-commit timestamps restarts its chain at the clone's version 0,
    which enables them over an empty table and so is stamped and
    recorded as the enablement version."""
    from guidewire_spark.sources.deltalog import domain_metadata_action

    actions: list[dict] = [{"protocol": dict(snap.protocol)}]
    if snap.schema is not None:
        actions.append(
            metadata_action(
                snap.schema,
                partition_columns=snap.partition_columns or None,
                created_time=now,
                configuration=snap.configuration,
            )
        )
    actions.extend(domain_metadata_action(d, c) for d, c in snap.domains.items())
    actions += adds
    return _commit(empty_snapshot(dst_table), "CLONE", mode, actions, now).version


def shallow_clone(
    src_table: str, dst_table: str, version: int | None = None
) -> int:
    """SHALLOW CLONE (the reference's core concept, generalized): a new
    Delta table whose log references the source snapshot's data files
    in place — zero bytes copied, exactly how the connector interprets
    CDA trees as Delta tables (the reference's ``README.md:22-28``).
    Optionally clones a historical ``version`` (time-travel clone).
    Each file is re-recorded as the source records it, deletion
    vector and ``baseRowId`` included.  The clone's history starts
    fresh at version 0; VACUUM on the clone never touches the source's
    files (they live outside the clone's directory — the guard the
    reference documents at README.md:45-49).
    """
    snap = load_snapshot(src_table, version=version)
    _new_clone_dir(dst_table)
    now = int(time.time() * 1000)
    return _commit_clone(
        snap,
        dst_table,
        f"shallow from {src_table}" + (f"@v{version}" if version is not None else ""),
        [_live_add(snap, p, now) for p in snap.files],
        now,
    )


def deep_clone(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    version: int | None = None,
) -> int:
    """DEEP CLONE: an independent physical copy of the source snapshot.

    Data files are copied (parquet bytes, never decoded) into the
    clone's directory and a fresh version-0 log written with the
    source's schema and each file's record (stats, partition values,
    deletion vector, ``baseRowId``) — so unlike
    :func:`shallow_clone`, whose add paths point into the source,
    VACUUM or destructive rewrites on the source can never break the
    clone.  The per-file loop is metadata-scale (the file list, same
    envelope as the other writer ops); the byte copy itself is the
    only data-proportional cost and at 100 TB runs as a distributed
    object-store server-side copy, not through compute.
    """
    snap = load_snapshot(src_table, version=version)
    _new_clone_dir(dst_table)
    now = int(time.time() * 1000)
    adds = []
    src_root = os.path.abspath(src_table)
    for p in snap.files:
        src_path = p if os.path.isabs(p) else os.path.join(src_table, p)
        inside = os.path.abspath(src_path).startswith(src_root + os.sep)
        if inside:
            # preserve the source's commit-dir / hive-partition layout
            rel = os.path.relpath(os.path.abspath(src_path), src_root)
        else:
            # external (e.g. shallow-cloned) file: flatten; the log's
            # partitionValues carry the partition columns, not the path
            rel = f"clone-{uuid.uuid4().hex}-{os.path.basename(p)}"
        dst_path = os.path.join(dst_table, rel)
        os.makedirs(os.path.dirname(dst_path), exist_ok=True)
        shutil.copy2(src_path, dst_path)
        # log convention: absolute paths
        adds.append(_live_add(snap, p, now, path=os.path.abspath(dst_path)))
    return _commit_clone(
        snap,
        dst_table,
        f"deep from {src_table}" + (f"@v{version}" if version is not None else ""),
        adds,
        now,
    )


def restore_table(table_path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF ``version``: a new commit
    whose net effect is the old snapshot's file set + schema (history
    is preserved — restore is itself a version, per Delta semantics).

    Deletion-vector aware (round-6 review finding): a file live in
    BOTH snapshots whose DV state differs must be re-added with the
    OLD snapshot's vector (a merge-on-read delete between the two
    versions otherwise survives the restore and keeps hiding rows the
    old version contained), and files returning from the old snapshot
    carry its recorded deletionVector so purged-then-restored dead
    rows never resurrect.

    The metaData re-records the old version's (id, schema,
    partitioning and configuration: constraints, appendOnly, column
    mapping, row tracking), except that the row-id high-water mark
    never moves below the current one — ids issued since ``version``
    are never issued again."""
    cur = load_snapshot(table_path)
    _reject_on_append_only(cur, "RESTORE")
    old = load_snapshot(table_path, version=version)
    _gate_write(cur)
    now = int(time.time() * 1000)
    actions: list[dict] = []
    if old.schema is not None:
        config = dict(old.configuration)
        mark = cur.configuration.get(_ROW_HWM_KEY)
        if mark is not None and int(mark) > int(config.get(_ROW_HWM_KEY, "-1")):
            config[_ROW_HWM_KEY] = mark
        actions.append(_table_metadata(old, now, configuration=config))
    old_set, cur_set = set(old.files), set(cur.files)
    actions.extend(_removes([p for p in cur.files if p not in old_set], now))
    # files to (re-)add: absent from the current snapshot, OR present
    # but with a different deletion-vector state.  The DV-change case
    # commits as a remove+add PAIR of the same path: a bare add would
    # read as a brand-new file in the change feed and re-emit the
    # whole file as inserts; the pair lets read_delta_changes compute
    # the row-level DV diff (deaths AND resurrections) instead.
    readd = [
        p
        for p in old.files
        if p not in cur_set
        or any(
            old.adds[p].get(k) != cur.adds[p].get(k)
            for k in ("deletionVector", "baseRowId")
        )
    ]
    # in-place DV-state change: pair the add
    actions.extend(_removes([p for p in readd if p in cur_set], now))
    actions.extend(_live_add(old, p, now) for p in readd)
    return _commit(cur, "RESTORE", f"versionAsOf={version}", actions, now).version


def overwrite_partitions(df: DataFrame, table_path: str) -> int:
    """Dynamic partition overwrite (Delta replaceWhere on partition
    values): replace exactly the partitions present in ``df``, leave
    every other partition untouched — the idempotent daily-reload
    pattern (re-running a day's load replaces that day only).

    The incoming frame's distinct partition tuples are collected
    (partition-count-scale, driver-side); current files in those
    partitions become remove actions and the staged files are added in
    one commit at snapshot-version+1.
    """
    snap = load_snapshot(table_path)
    _reject_identity_dml(snap, "dynamic partition overwrite")
    _reject_rewrite_on_row_tracking(snap, "dynamic partition overwrite")
    _reject_on_append_only(snap, "dynamic partition overwrite")
    _gate_write(snap)
    pcols = list(snap.partition_columns or [])
    if not pcols:
        raise ValueError(f"{table_path} is not partitioned")
    df = _apply_generated_columns(df, snap)
    _enforce_constraints(df, snap)
    from pyspark.sql import functions as F

    # Encode incoming partition tuples Spark-side (cast to string) so
    # they compare equal to the hive-encoded partitionValues in the log
    # — Python str() disagrees with hive for booleans (str(True) ==
    # 'True' vs hive 'true'), which would silently duplicate instead of
    # overwrite the partition.
    incoming = {
        tuple(r[c] for c in pcols)
        for r in df.select(
            *[F.col(c).cast("string").alias(c) for c in pcols]
        )
        .distinct()
        .collect()
    }
    doomed = [
        p
        for p in snap.files
        if tuple(snap.adds[p]["partitionValues"].get(c) for c in pcols)
        in incoming
    ]
    adds = stage_add_actions(_to_physical(df, snap.schema), snap, pcols)
    now = int(time.time() * 1000)
    return _commit(
        snap,
        "WRITE",
        f"dynamic partition overwrite ({len(incoming)} partitions)",
        _removes(doomed, now) + adds,
        now,
    ).version


def convert_to_delta(parquet_dir: str) -> int:
    """CONVERT TO DELTA: generate a transaction log for an existing
    plain-parquet directory in place — no data is moved or rewritten
    (the same shallow trick the CDA connector performs, applied to any
    parquet dataset). Schema comes from the smallest non-empty file's
    footer (P7 machinery); every file gets an add action with footer
    stats so data skipping works immediately. Returns version 0.

    Hive-partitioned layouts are intentionally rejected (their
    partition columns live in directory names, not file footers) —
    convert those by re-writing through ``write_delta(partition_by=)``.
    """
    from guidewire_spark.sources.schema import infer_schema_from_files

    if os.path.isdir(os.path.join(parquet_dir, "_delta_log")):
        raise FileExistsError(f"{parquet_dir} is already a Delta table")
    files = walk_parquet_files(parquet_dir)
    for f in files:
        rel = os.path.relpath(os.path.dirname(f.path), parquet_dir)
        if any("=" in seg for seg in rel.split(os.sep)):
            raise ValueError(
                "hive-partitioned layout detected; re-write through "
                "write_delta(partition_by=) instead"
            )
    if not files:
        raise ValueError(f"no parquet files under {parquet_dir}")
    schema = infer_schema_from_files(files)
    if schema is None:
        raise ValueError(f"no non-empty parquet files under {parquet_dir}")
    now = int(time.time() * 1000)
    base = empty_snapshot(parquet_dir)
    adds = _new_file_adds(base, files)
    actions = [protocol_action(), metadata_action(schema, created_time=now)] + adds
    return _commit(base, "CONVERT", parquet_dir, actions, now).version


def table_detail(table_path: str) -> dict:
    """DESCRIBE DETAIL: table-level facts from the log alone — no data
    file is opened. Mirrors Delta's column set where this engine has
    the information."""
    snap = load_snapshot(table_path)
    return {
        "format": "delta",
        "id": snap.metadata_id,
        "location": os.path.abspath(table_path),
        "numFiles": len(snap.files),
        "sizeInBytes": sum(add.get("size", 0) for add in snap.adds.values()),
        "partitionColumns": list(snap.partition_columns or []),
        "version": snap.version,
        "properties": dict(snap.configuration),
        "numRecords": snap.metadata_count(),  # None if any file lacks stats
    }


def table_history(table_path: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per commit still present as JSON
    (commits compacted away by log checkpointing have no commitInfo —
    mirrored from Delta, where expired log files drop out of HISTORY).
    Newest first."""
    import json as _json

    from guidewire_spark.sources.deltalog import delta_log_dir, list_versions

    rows: list[dict] = []
    for v in list_versions(table_path):
        path = os.path.join(delta_log_dir(table_path), f"{v:020d}.json")
        with open(path, encoding="utf-8") as f:
            for line in f:
                action = _json.loads(line)
                if "commitInfo" in action:
                    info = action["commitInfo"]
                    rows.append(
                        {
                            "version": v,
                            "timestamp": info.get("timestamp"),
                            "operation": info.get("operation"),
                            "operationParameters": info.get("operationParameters"),
                            "operationMetrics": info.get("operationMetrics"),
                            "isBlindAppend": info.get("isBlindAppend"),
                        }
                    )
    return sorted(rows, key=lambda r: -r["version"])


def vacuum_table(
    table_path: str, dry_run: bool = False, retention_ms: int | None = None
) -> list[str]:
    """Delete data files under the table directory that no longer
    appear in the latest snapshot. Files OUTSIDE the table directory
    (shallow-cloned source data) are never touched — the guard the
    reference documents at README.md:45-49. Returns deleted paths.

    ``retention_ms`` (Delta's retention window): orphans whose
    remove-tombstone ``deletionTimestamp`` OR file mtime is younger
    than ``now - retention_ms`` are kept — the mtime half is Delta's
    actual VACUUM rule, and it is what protects files staged by an
    in-flight ``write_delta`` (between ``_stage_files`` and
    ``write_commit``) from being deleted before their commit lands.
    Pass None to reclaim everything (the tests' and Delta-VACUUM-0
    behavior — breaks time travel to removed versions and is unsafe
    under concurrent writers, exactly as Delta warns)."""
    horizon: int | None = None
    recently_removed: set[str] = set()
    if retention_ms is not None:
        import json as _json

        from guidewire_spark.sources.deltalog import delta_log_dir, list_versions

        horizon = int(time.time() * 1000) - retention_ms
        for v in list_versions(table_path):
            path = os.path.join(delta_log_dir(table_path), f"{v:020d}.json")
            with open(path, encoding="utf-8") as f:
                for line in f:
                    action = _json.loads(line)
                    if "remove" in action:
                        ts = action["remove"].get("deletionTimestamp", 0)
                        if ts > horizon:
                            recently_removed.add(
                                os.path.realpath(action["remove"]["path"])
                            )
    snap = load_snapshot(table_path)
    if not dry_run:
        # vacuumProtocolCheck's contract: deleting files from a table
        # whose writer rules we don't understand is the most
        # destructive write there is — check before touching anything
        _gate_write(snap)
    live = set(os.path.realpath(p) for p in snap.files) | recently_removed
    table_real = os.path.realpath(table_path)
    doomed: list[str] = []
    for root, dirs, names in os.walk(table_real):
        # Delta's hidden-file rule: VACUUM never considers directories
        # whose name starts with `_` or `.` (_delta_log, _gw_bloom
        # sidecars, ...) — EXCEPT `_change_data`: real Delta DOES
        # vacuum expired CDC files there (they are never in
        # snapshot.files, so the retention horizon is their only
        # shield — the mtime guard below keeps ones younger than the
        # window, exactly Delta's rule).  Hive partition dirs are
        # `col=value` and never match unless the COLUMN name starts
        # with an underscore — the same sharp edge the spec has.
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(("_", ".")) or d == "_change_data"
        ]
        if "_delta_log" in root:
            continue
        for name in names:
            full = os.path.join(root, name)
            if not name.endswith(".parquet") or os.path.realpath(full) in live:
                continue
            if (
                horizon is not None
                and int(os.stat(full).st_mtime * 1000) > horizon
            ):
                continue  # younger than the retention horizon: may be
                # an in-flight write's staged data — keep it
            doomed.append(full)
    if not dry_run:
        for path in doomed:
            os.remove(path)
        # sweep now-empty per-commit staging dirs
        for root, dirs, names in list(os.walk(table_real, topdown=False)):
            if root != table_real and "_delta_log" not in root and not os.listdir(root):
                shutil.rmtree(root, ignore_errors=True)
    return doomed


def generate_symlink_manifest(table_path: str) -> list[str]:
    """SparkGenerateManifest / GENERATE symlink_format_manifest: write
    the Hive-style ``_symlink_format_manifest`` tree for the CURRENT
    snapshot — one text file per partition listing the absolute data
    file paths — the export that lets Presto/Trino/Athena/external
    Hive readers query the Delta table as plain parquet without
    understanding the log.  Stale-read caveat (same as Delta's):
    the manifest is a point-in-time materialization; re-run after
    every commit (or subscribe via read_delta_changes).  Driver cost
    is metadata-scale (the file list); returns the manifest paths.
    """
    snap = load_snapshot(table_path)
    dvs = snap.deletion_vectors()
    if dvs:
        # manifest readers scan the listed parquet verbatim and would
        # silently see every merge-on-read-deleted row (a GDPR-erasure
        # leak); Delta's own GENERATE refuses on DV tables likewise —
        # purge first, then export
        raise ValueError(
            f"table has deletion vectors on {len(dvs)} file(s); "
            "external manifest readers cannot apply them — run "
            "purge_deletion_vectors (REORG APPLY PURGE) before GENERATE"
        )
    root = os.path.join(table_path, "_symlink_format_manifest")
    if os.path.isdir(root):
        shutil.rmtree(root)
    groups: dict[str, list[str]] = {}
    pcols = snap.partition_columns or []
    for p in snap.files:
        abs_path = p if os.path.isabs(p) else os.path.abspath(
            os.path.join(table_path, p)
        )
        if pcols:
            pv = snap.adds[p]["partitionValues"]
            # Hive/Presto/Trino spell a null partition value
            # __HIVE_DEFAULT_PARTITION__, not the Python repr.
            sub = "/".join(
                f"{c}={pv.get(c) if pv.get(c) is not None else '__HIVE_DEFAULT_PARTITION__'}"
                for c in pcols
            )
        else:
            sub = ""
        groups.setdefault(sub, []).append(abs_path)
    out = []
    for sub, paths in sorted(groups.items()):
        d = os.path.join(root, sub) if sub else root
        os.makedirs(d, exist_ok=True)
        manifest = os.path.join(d, "manifest")
        with open(manifest, "w") as fh:
            fh.write("\n".join(sorted(paths)) + "\n")
        out.append(manifest)
    return out


def _reject_identity_dml(snap, op: str) -> None:
    """GENERATED ALWAYS AS IDENTITY uniqueness guard for the DML
    writers that INSERT rows (merge / replaceWhere / dynamic partition
    overwrite): they would accept user-supplied identity values and
    never bump ``delta.identity.<name>.highWaterMark``, so a later
    ``append_with_identity`` could assign duplicates.  Mirrors the
    ``write_delta`` guard — identity tables take new rows only through
    ``append_with_identity``.  (DELETE stays allowed — removing rows
    cannot duplicate values; UPDATE is guarded per-assignment at its
    call site.)"""
    idents = _identity_specs(snap)
    if idents:
        raise ValueError(
            f"table has identity column(s) {sorted(idents)}; {op} would "
            "accept user-supplied identity values without bumping the "
            "high-water mark — insert rows through append_with_identity"
        )


def _identity_specs(snap) -> dict[str, dict]:
    """Identity column specs recorded in the configuration of ``snap``."""
    import json as _json

    prefix = "delta.identity."
    return {
        k[len(prefix):]: _json.loads(v)
        for k, v in snap.configuration.items()
        if k.startswith(prefix)
    }


def _staged_identity_max(adds: list[dict], name: str) -> int | None:
    """High-water mark from the STAGED files' footer statistics — read
    after the physical write, so the recorded mark always reflects the
    values actually on disk (a driver-side pre-computation would both
    re-execute the plan and race nondeterministic inputs).

    FAILS LOUDLY when a staged file carries rows but no min/max stats
    for the identity column (unreadable footer, or has_min_max false):
    silently skipping it would record a stale high-water mark and let
    the NEXT append reuse identity values — a correctness bug far
    worse than an aborted write.  Returns None only when every staged
    file is genuinely empty (numRecords == 0)."""
    import json as _json

    from guidewire_spark.sources.stats import footer_stats

    hw = None
    for path in (a["add"]["path"] for a in adds):
        raw = footer_stats(path)
        stats = _json.loads(raw) if raw else {}
        v = stats.get("maxValues", {}).get(name)
        if v is None:
            if raw is None or stats.get("numRecords", 0) > 0:
                raise ValueError(
                    f"staged file {path} has rows but no max statistic "
                    f"for identity column {name!r}; refusing to record a "
                    "stale high-water mark (next append would reuse "
                    "identity values)"
                )
            continue  # truly empty file: no contribution to the mark
        hw = v if hw is None else max(hw, int(v))
    return None if hw is None else int(hw)


def create_identity_table(
    df: DataFrame,
    table_path: str,
    name: str,
    start: int = 1,
    step: int = 1,
) -> int:
    """CREATE TABLE with a GENERATED ALWAYS AS IDENTITY column: the
    writer — never the user — assigns ``name``, starting at ``start``
    with stride ``step`` (``step >= 1``; descending identities would
    make the high-water mark meaningless), and records the identity
    spec + high-water mark in the table configuration
    (``delta.identity.<name>``), the same metadata channel CHECK
    constraints and generated columns use.  Delta identity guarantees
    UNIQUENESS and MONOTONIC high-water progression, NOT density:
    values are derived from ``monotonically_increasing_id``
    (partition-local counters under a partition-id prefix), so
    assignment is fully parallel — no global ordering, no
    coordination — and gaps are expected, exactly like Delta's.  The
    recorded mark is read back from the STAGED files' footer stats,
    so it reflects exactly what landed on disk.  Returns the created
    version."""
    import json as _json

    from pyspark.sql import functions as F

    if step < 1:
        raise ValueError(f"identity step must be >= 1, got {step}")
    if name in df.columns:
        raise ValueError(f"identity column {name!r} must not be supplied")
    assigned = df.withColumn(
        name, F.lit(start) + F.monotonically_increasing_id() * step
    )
    base = empty_snapshot(table_path)
    adds = stage_add_actions(assigned, base)
    hw = _staged_identity_max(adds, name)
    if hw is None:
        hw = start - step  # empty create: the first append starts at start
    now = int(time.time() * 1000)
    spec = {"start": start, "step": step, "highWaterMark": int(hw)}
    meta = metadata_action(
        assigned.schema,
        created_time=now,
        configuration={f"delta.identity.{name}": _json.dumps(spec)},
    )
    return _commit(
        base,
        "CREATE TABLE",
        "IdentityCreate",
        [meta] + adds,
        now,
        writer={"identityColumns"},
    ).version


def append_with_identity(df: DataFrame, table_path: str) -> int:
    """Append to an identity table: assign fresh identity values
    strictly above the recorded high-water mark and bump the mark IN
    THE SAME COMMIT (metaData + add actions land atomically — a crash
    between them can't leak or reuse values).  Parallel assignment
    via partition-prefixed counters; gaps allowed, uniqueness and
    monotonic-above-previous-batch guaranteed (the new mark is read
    from the staged files' footer stats, so nondeterministic inputs
    cannot write above it).  Enforces the same invariants as every
    other write path — generated columns materialize, CHECK
    constraints reject, extra input columns raise (the write_delta
    schema-drift contract) — and supports partitioned tables (files
    land hive-layout with their partitionValues recorded)."""
    import json as _json

    from pyspark.sql import functions as F

    snap = load_snapshot(table_path)
    _gate_write(snap)
    idents = _identity_specs(snap)
    if not idents:
        raise ValueError(f"{table_path} has no identity columns")
    (name, spec), = idents.items()
    if name in df.columns:
        raise ValueError(
            f"identity column {name!r} is GENERATED ALWAYS — writers "
            "must not supply it"
        )
    allowed = {f.name for f in snap.schema.fields} - {name}
    extra = sorted(set(df.columns) - allowed)
    if extra:
        raise ValueError(
            f"schema mismatch on identity append (extra={extra})"
        )
    df = _apply_generated_columns(df, snap)
    # the identity column is non-nullable but assigned BELOW — exempt
    # it from the absent-column NOT NULL rule
    _enforce_constraints(df, snap, absent_exempt={name})
    pcols = list(snap.partition_columns or [])
    base = spec["highWaterMark"] + spec["step"]
    assigned = df.withColumn(
        name, F.lit(base) + F.monotonically_increasing_id() * spec["step"]
    ).select(*[f.name for f in snap.schema.fields])
    # on a row-tracked table the adds take fresh row ids, and the moved
    # row-id mark rides the same metaData as the identity mark
    adds = stage_add_actions(
        _to_physical(assigned, snap.schema), snap, pcols or None
    )
    hw = _staged_identity_max(adds, name)
    if hw is None:
        hw = spec["highWaterMark"]  # empty batch: mark unchanged
    now = int(time.time() * 1000)
    new_spec = dict(spec, highWaterMark=int(hw))
    config = {**adds.configuration, f"delta.identity.{name}": _json.dumps(new_spec)}
    actions = [_table_metadata(snap, now, configuration=config)] + adds
    return _commit(snap, "WRITE", "IdentityAppend", actions, now).version
