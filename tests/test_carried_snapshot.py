"""Commits carry their snapshot: ``write_commit(base, actions)`` returns
the post-commit state, so committers never replay the log to learn
what they just wrote.

* load counts — an initial index loads each data table at most once
  and reads no commit back; an incremental index loads only the
  tables that have new folders;
* equivalence — after every commit of a sequence that exercises each
  replay rule, the returned snapshot equals a cold ``load_snapshot``;
* checkpoint rows — a checkpoint written from the carried snapshot is
  row-for-row the one a replay would write;
* one snapshot per writer operation — each loads the table it writes
  once and checks and commits on that snapshot.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

# Imported up front so no module binds a wrapper while one is installed.
from guidewire_spark.sources import checkpoints, matview, writer  # noqa: F401
from guidewire_spark.sources import snapshot as snapshot_mod
from guidewire_spark.sources.deltalog import list_versions
from guidewire_spark.sources.fs import FileMeta
from guidewire_spark.sources.indexer import Batch, commit_batches, index
from guidewire_spark.sources.log_checkpoint import (
    checkpoint_path,
    expire_log,
    write_log_checkpoint,
)
from guidewire_spark.sources.snapshot import load_snapshot

CHECKPOINTS = "_checkpoints"


def _wrap_everywhere(monkeypatch, original, wrapper) -> None:
    """Point every ``guidewire_spark`` module-level name bound to
    ``original`` — or to an earlier wrapper of it — at ``wrapper``
    (modules import these by name)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("guidewire_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original or getattr(value, "__wrapped__", None) is original:
                monkeypatch.setattr(mod, attr, wrapper)


def _count_calls(monkeypatch, original) -> list[str]:
    """Record the table path of every call to ``original``."""
    calls: list[str] = []

    @functools.wraps(original)
    def counted(table_path, *args, **kwargs):
        calls.append(os.path.basename(os.path.normpath(table_path)))
        return original(table_path, *args, **kwargs)

    _wrap_everywhere(monkeypatch, original, counted)
    return calls


def _folder(root: str, fp: str, ts: int, rows: int, wide: bool) -> None:
    path = f"{root}/{fp}/{ts}/part-00000-c000.snappy.parquet"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {"id": list(range(rows))}
    if wide:
        cols["name"] = [f"n{i}" for i in range(rows)]
    pq.write_table(pa.table(cols), path)


def _tree(tmp_path, folders: dict[str, list[tuple[str, int]]], watermark: int):
    """A multi-table CDA tree: per table, (fingerprint, timestamp)
    folders of one small parquet file each; the second fingerprint of
    a table adds a column (an UPGRADE_SCHEMA commit)."""
    manifest = {}
    for table, entries in folders.items():
        root = str(tmp_path / "source" / table)
        fps = list(dict.fromkeys(fp for fp, _ in entries))
        for fp, ts in entries:
            _folder(root, fp, ts, rows=3, wide=fp != fps[0])
        manifest[table] = {
            "lastSuccessfulWriteTimestamp": str(watermark),
            "totalProcessedRecordsCount": 0,
            "dataFilesPath": root,
            "schemaHistory": {
                fp: str(min(ts for f, ts in entries if f == fp)) for fp in fps
            },
        }
    path = str(tmp_path / "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    return path, str(tmp_path / "db")


_BASE_TS = 1_700_000_000_000


def _initial_folders():
    return {
        # 12 folders, schema change at the 7th: UPGRADE_SCHEMA plus a
        # checkpoint at version 9
        "claims": [("fpa", _BASE_TS + i) for i in range(6)]
        + [("fpb", _BASE_TS + i) for i in range(6, 12)],
        "policies": [("fpc", _BASE_TS + i) for i in range(3)],
        "accounts": [("fpd", _BASE_TS + i) for i in range(2)],
    }


def test_initial_index_loads_each_table_at_most_once(tmp_path, monkeypatch):
    manifest, db = _tree(tmp_path, _initial_folders(), _BASE_TS + 100)
    loads = _count_calls(monkeypatch, snapshot_mod.load_snapshot)
    reads = _count_calls(monkeypatch, snapshot_mod._read_commit)

    index(manifest, db, save_mode="overwrite")

    data_loads = [t for t in loads if t != CHECKPOINTS]
    assert sorted(data_loads) == sorted(set(data_loads))
    assert set(data_loads) <= {"claims", "policies", "accounts"}
    assert [t for t in reads if t != CHECKPOINTS] == []
    for table, n in (("claims", 12), ("policies", 3), ("accounts", 2)):
        assert list_versions(os.path.join(db, table)) == list(range(n))
    claims = load_snapshot(os.path.join(db, "claims"))
    assert len(claims.files) == 6  # the upgrade removed fpa's files
    assert "name" in claims.schema.fieldNames()


def test_append_index_skips_tables_without_new_folders(tmp_path, monkeypatch):
    folders = _initial_folders()
    manifest, db = _tree(tmp_path, folders, _BASE_TS + 100)
    index(manifest, db, save_mode="overwrite")

    folders["policies"] += [("fpc", _BASE_TS + 200), ("fpc", _BASE_TS + 201)]
    manifest, db = _tree(tmp_path, folders, _BASE_TS + 300)
    loads = _count_calls(monkeypatch, snapshot_mod.load_snapshot)

    index(manifest, db, save_mode="append")

    assert [t for t in loads if t != CHECKPOINTS] == ["policies"]
    assert list_versions(os.path.join(db, "policies")) == [0, 1, 2, 3, 4]
    assert load_snapshot(os.path.join(db, "policies")).num_files == 5
    assert list_versions(os.path.join(db, "claims")) == list(range(12))


def _assert_replays_to(carried) -> None:
    """``carried`` equals a cold replay of its table on every field;
    ``commit_timestamps`` may hold more (a checkpoint-seeded replay
    carries only the JSON tail's)."""
    replayed = load_snapshot(carried.table_path)
    assert dataclasses.replace(carried, commit_timestamps={}) == (
        dataclasses.replace(replayed, commit_timestamps={})
    )
    assert replayed.commit_timestamps.items() <= carried.commit_timestamps.items()


def _check_every_commit(monkeypatch) -> list:
    """Wrap ``write_commit``: compare each returned snapshot with a
    replay of the log right after the commit."""
    from guidewire_spark.sources import deltalog

    original = deltalog.write_commit
    carried: list = []

    @functools.wraps(original)
    def checked(base, actions):
        snap = original(base, actions=actions)
        _assert_replays_to(snap)
        carried.append(snap)
        return snap

    _wrap_everywhere(monkeypatch, original, checked)
    return carried


def test_indexer_snapshots_equal_replay(tmp_path, monkeypatch):
    """Create, blind appends, UPGRADE_SCHEMA and the indexer's own
    checkpoint at version 9, checked commit by commit."""
    narrow = T.StructType([T.StructField("id", T.LongType())])
    wide = T.StructType(narrow.fields + [T.StructField("name", T.StringType())])
    batches = [
        Batch(
            "fp1" if i < 5 else "fp2",
            _BASE_TS + i,
            [FileMeta(f"/data/f{i}_{j}.parquet", 10 + j, 1000 + i) for j in range(2)],
            narrow if i == 0 else wide if i == 5 else None,
        )
        for i in range(12)
    ]
    carried = _check_every_commit(monkeypatch)
    table = str(tmp_path / "t")
    commit_batches(table, batches)
    assert [s.version for s in carried] == list(range(12))
    assert os.path.isfile(checkpoint_path(table, 9))


def test_indexers_racing_from_one_high_water_mark(tmp_path, monkeypatch):
    """Two indexers that loaded the same table snapshot race for its
    next version.  The loser's append of the CDA files the winner
    already committed raises, naming the table and version, instead of
    adding them a second time; a loser with other files rebases.  A
    ``_checkpoints`` append on a stale snapshot rebases too (its rows
    are per-table high-water marks, each row a file of its own)."""
    from guidewire_spark.sources import indexer
    from guidewire_spark.sources.checkpoints import (
        checkpoints_path,
        load_checkpoints,
        save_checkpoints,
    )
    from guidewire_spark.sources.deltalog import ConcurrentModificationException
    from guidewire_spark.sources.indexer import BatchResult
    from guidewire_spark.sources.snapshot import load_snapshot_or_empty

    schema = T.StructType([T.StructField("id", T.LongType())])
    table = str(tmp_path / "db" / "t")

    def batch(i, with_schema=False):
        files = [FileMeta(f"/data/f{i}.parquet", 10, 1000 + i)]
        return Batch("fp1", _BASE_TS + i, files, schema if with_schema else None)

    commit_batches(table, [batch(0, with_schema=True)])
    stale = load_snapshot(table)
    commit_batches(table, [batch(1)])  # the winner takes version 1
    monkeypatch.setattr(indexer, "load_snapshot_or_empty", lambda path: stale)
    with pytest.raises(ConcurrentModificationException) as lost:
        commit_batches(table, [batch(1)])
    assert "version 1 already added '/data/f1.parquet'" in str(lost.value)
    assert table in str(lost.value)
    commit_batches(table, [batch(2)])  # other files: rebased to version 2
    monkeypatch.undo()
    snap = load_snapshot(table)
    assert snap.version == 2
    assert snap.files == [f"/data/f{i}.parquet" for i in range(3)]

    ckpts = checkpoints_path(str(tmp_path / "db"))
    save_checkpoints({"t": [BatchResult("fp1", 5, 1)]}, load_snapshot_or_empty(ckpts))
    stale = load_snapshot(ckpts)
    save_checkpoints({"t": [BatchResult("fp1", 7, 1)]}, stale)
    save_checkpoints({"u": [BatchResult("fp1", 9, 1)]}, stale)
    assert load_checkpoints(str(tmp_path / "db")) == {"t": 7, "u": 9}
    assert load_snapshot(ckpts).version == 2


def test_writer_snapshots_equal_replay(spark, sf_dir, tmp_path, monkeypatch):
    """Every writer commit kind the sequence reaches: create, append,
    ``delta.checkpointInterval`` set (auto checkpoints follow), a
    merge-on-read DV delete, row tracking, in-commit timestamps, and
    commits on a log truncated behind a checkpoint."""
    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_in_commit_timestamps,
        enable_row_tracking,
        set_table_properties,
        write_delta,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "seq")
    carried = _check_every_commit(monkeypatch)
    write_delta(n.where(F.col("n_nationkey") < 10), t, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), t, mode="append")
    set_table_properties(t, {"delta.checkpointInterval": "3"})
    delete_from_mor(spark, t, "n_nationkey % 5 = 0")
    enable_row_tracking(t)
    write_delta(n.where(F.col("n_nationkey") < 3), t, mode="append")
    enable_in_commit_timestamps(t)
    write_delta(n.where(F.col("n_nationkey") < 2), t, mode="append")
    assert os.path.isfile(checkpoint_path(t, 5))
    assert expire_log(t, keep_versions=1)["commits"] > 0
    write_delta(n.where(F.col("n_nationkey") < 1), t, mode="append")
    write_delta(n.where(F.col("n_nationkey") < 1), t, mode="overwrite")

    assert [s.version for s in carried] == list(range(10))
    assert carried[-1].configuration["delta.checkpointInterval"] == "3"
    assert carried[3].deletion_vectors() and any(
        "baseRowId" in a for a in carried[5].adds.values()
    )
    assert "inCommitTimestamp" in carried[-1].protocol["writerFeatures"]


def test_indexer_checkpoint_rows_equal_replay_checkpoint(tmp_path):
    """The checkpoint the indexer writes from its carried snapshot has
    the rows a checkpoint written from a cold replay has."""
    manifest, db = _tree(tmp_path, _initial_folders(), _BASE_TS + 100)
    index(manifest, db, save_mode="overwrite")
    table = os.path.join(db, "claims")
    target = checkpoint_path(table, 9)
    carried_rows = pq.read_table(target).to_pylist()
    os.remove(target)
    write_log_checkpoint(load_snapshot(table, version=9))
    assert pq.read_table(target).to_pylist() == carried_rows
    assert any(r["metaData"] for r in carried_rows)
    assert sum(1 for r in carried_rows if r["add"]) == 4


def test_checkpoint_table_is_log_checkpointed_every_tenth_index(tmp_path):
    """``_checkpoints`` follows the one checkpoint rule: after ten
    ``index()`` runs (versions 0..9) it has a log checkpoint at 9."""
    from guidewire_spark.sources.log_checkpoint import read_last_checkpoint

    folders = {"claims": [("fpa", _BASE_TS)]}
    manifest, db = _tree(tmp_path, folders, _BASE_TS + 1)
    index(manifest, db, save_mode="overwrite")
    for i in range(1, 10):
        folders["claims"].append(("fpa", _BASE_TS + i))
        manifest, db = _tree(tmp_path, folders, _BASE_TS + i + 1)
        index(manifest, db, save_mode="append")
    ckpt_table = os.path.join(db, CHECKPOINTS)
    assert list_versions(ckpt_table) == list(range(10))
    assert read_last_checkpoint(ckpt_table) == 9
    assert checkpoints.load_checkpoints(db) == {"claims": _BASE_TS + 9}


def _writer_ops():
    """(name, setup(spark, t), op(spark, t, rows), max loads of ``t``)."""
    from guidewire_spark.sources import writer as w

    def nothing(spark, t):
        pass

    def delete_auto(predicate, route):
        def op(spark, t, rows):
            assert w.delete_auto(spark, t, predicate)[1] == route

        return op

    return [
        ("append", nothing,
         lambda spark, t, rows: w.write_delta(rows, t, mode="append"), 1),
        ("append_row_tracked", lambda spark, t: w.enable_row_tracking(t),
         lambda spark, t, rows: w.write_delta(rows, t, mode="append"), 1),
        ("overwrite", nothing,
         lambda spark, t, rows: w.write_delta(rows, t, mode="overwrite"), 1),
        ("merge_into", nothing,
         lambda spark, t, rows: w.merge_into(spark, t, rows, on="n_nationkey"), 1),
        ("update_table_mor", nothing,
         lambda spark, t, rows: w.update_table_mor(
             spark, t, "n_nationkey = 1", {"n_name": "'X'"}), 1),
        ("update_table", nothing,
         lambda spark, t, rows: w.update_table(
             spark, t, "n_nationkey = 1", {"n_name": "'X'"}), 1),
        ("optimize_table", nothing,
         lambda spark, t, rows: w.optimize_table(spark, t), 1),
        ("delete_from", nothing,
         lambda spark, t, rows: w.delete_from(spark, t, "n_nationkey = 2"), 1),
        ("delete_from_mor", nothing,
         lambda spark, t, rows: w.delete_from_mor(spark, t, "n_nationkey = 2"), 1),
        # the routed delete runs on the snapshot the router measured
        ("delete_auto_dense", nothing, delete_auto("n_nationkey < 8", "cow"), 1),
        ("delete_auto_row_tracked", lambda spark, t: w.enable_row_tracking(t),
         delete_auto("n_nationkey = 2", "mor"), 1),
        ("set_table_properties", nothing,
         lambda spark, t, rows: w.set_table_properties(t, {"k": "v"}), 1),
        # its existing-rows check reads the table through read_delta
        ("add_check_constraint", nothing,
         lambda spark, t, rows: w.add_check_constraint(
             spark, t, "key", "n_nationkey >= 0"), 2),
    ]


@pytest.mark.parametrize("name", [op[0] for op in _writer_ops()])
def test_writer_operation_loads_its_table_once(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """Every check of a writer operation reads the one snapshot its
    commit is built on: the table is loaded at most once (twice for
    ADD CONSTRAINT, whose data check is a ``read_delta``)."""
    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.writer import write_delta

    (_, setup, op, limit), = [o for o in _writer_ops() if o[0] == name]
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "t")
    write_delta(n.where(F.col("n_nationkey") < 10), t, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), t, mode="append")
    setup(spark, t)
    version = load_snapshot(t).version
    loads = _count_calls(monkeypatch, snapshot_mod.load_snapshot)

    op(spark, t, n.where(F.col("n_nationkey") < 5))

    assert loads.count("t") <= limit, loads
    assert list_versions(t)[-1] == version + 1


def test_index_with_stats_loads_each_table_once(tmp_path, monkeypatch):
    """``index(collect_stats=True)`` takes the stats spec from the
    carried snapshot, and reads its high-water marks from the same
    ``_checkpoints`` snapshot it commits on: every table, the
    checkpoint table included, is loaded at most once."""
    folders = _initial_folders()
    manifest, db = _tree(tmp_path, folders, _BASE_TS + 100)
    index(manifest, db, save_mode="overwrite", collect_stats=True)
    folders["claims"] += [("fpb", _BASE_TS + 200 + i) for i in range(3)]
    folders["policies"] += [("fpc", _BASE_TS + 200 + i) for i in range(2)]
    manifest, db = _tree(tmp_path, folders, _BASE_TS + 300)
    loads = _count_calls(monkeypatch, snapshot_mod.load_snapshot)

    index(manifest, db, save_mode="append", collect_stats=True)

    assert sorted(loads) == ["_checkpoints", "claims", "policies"]
    assert list_versions(os.path.join(db, "claims")) == list(range(15))
    claims = load_snapshot(os.path.join(db, "claims"))
    assert all(claims.adds[p]["stats"] for p in claims.files)
