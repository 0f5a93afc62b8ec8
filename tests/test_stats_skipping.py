"""Data-skipping tests: footer stats into add.stats, sound file
pruning, and the indexer/writer integration."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.fs import list_parquet_files
from guidewire_spark.sources.snapshot import load_snapshot
from guidewire_spark.sources.stats import footer_stats, prune_files
from guidewire_spark.sources.writer import write_delta


def test_footer_stats_shape(tmp_path):
    path = str(tmp_path / "x.parquet")
    pq.write_table(
        pa.table({"a": [1, 5, None], "b": ["x", "y", "z"]}), path
    )
    stats = json.loads(footer_stats(path))
    assert stats["numRecords"] == 3
    assert stats["minValues"]["a"] == 1 and stats["maxValues"]["a"] == 5
    assert stats["minValues"]["b"] == "x" and stats["maxValues"]["b"] == "z"
    assert stats["nullCount"]["a"] == 1


def test_prune_is_sound(tmp_path):
    paths = []
    for i, (lo, hi) in enumerate([(0, 9), (10, 19), (20, 29)]):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"k": list(range(lo, hi + 1))}), p)
        paths.append(p)
    stats = {p: footer_stats(p) for p in paths}
    # predicate k between 12 and 14 → only the middle file can match
    assert prune_files(stats, paths, "k", 12, 14) == [paths[1]]
    # open-ended predicates
    assert prune_files(stats, paths, "k", lo=20) == [paths[2]]
    assert prune_files(stats, paths, "k", hi=9) == [paths[0]]
    # file without stats must be kept
    stats[paths[0]] = None
    assert paths[0] in prune_files(stats, paths, "k", 25, 27)


def test_write_delta_stats_and_snapshot_prune(spark, sf_dir, tmp_path):
    table = str(tmp_path / "li")
    li = load_table(spark, sf_dir, "lineitem")
    kmax = li.agg(F.max("l_orderkey")).collect()[0][0]
    third = kmax // 3
    # three commits, each a disjoint l_orderkey range → prunable layout
    splits = [(0, third), (third, 2 * third), (2 * third, kmax + 1)]
    for lo, hi in splits:
        write_delta(
            li.where((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)),
            table,
            mode="append",
        )
    snap = load_snapshot(table)
    assert all(snap.adds[p]["stats"] for p in snap.files)
    probe_lo, probe_hi = third + third // 2, third + third // 2 + 50
    kept = snap.pruned_files("l_orderkey", probe_lo, probe_hi)
    assert len(kept) < snap.num_files
    # correctness: reading only the kept files yields the same result
    full = (
        spark.read.schema(snap.schema).parquet(*snap.files)
        .where(F.col("l_orderkey").between(probe_lo, probe_hi))
        .count()
    )
    pruned = (
        spark.read.schema(snap.schema).parquet(*kept)
        .where(F.col("l_orderkey").between(probe_lo, probe_hi))
        .count()
    )
    assert pruned == full > 0


def test_indexer_collect_stats_flag(spark, sf_dir, tmp_path):
    import json as _json

    from guidewire_spark.sources.indexer import index
    from guidewire_spark.sources.snapshot import read_delta

    staged = str(tmp_path / "src" / "t" / "fp1" / "1700000000000")
    load_table(spark, sf_dir, "orders").coalesce(1).write.parquet(staged)
    manifest = {
        "t": {
            "lastSuccessfulWriteTimestamp": "1700000000000",
            "totalProcessedRecordsCount": 0,
            "dataFilesPath": str(tmp_path / "src" / "t"),
            "schemaHistory": {"fp1": "1700000000000"},
        }
    }
    mpath = str(tmp_path / "m.json")
    with open(mpath, "w") as f:
        _json.dump(manifest, f)

    db1 = str(tmp_path / "db_nostats")
    index(mpath, db1, save_mode="overwrite")
    snap = load_snapshot(os.path.join(db1, "t"))
    assert all(a.get("stats") is None for a in snap.adds.values())  # reference parity

    db2 = str(tmp_path / "db_stats")
    index(mpath, db2, save_mode="overwrite", collect_stats=True)
    snap2 = load_snapshot(os.path.join(db2, "t"))
    assert all(a.get("stats") for a in snap2.adds.values())
    stats = _json.loads(next(iter(snap2.adds.values()))["stats"])
    assert stats["numRecords"] == read_delta(spark, os.path.join(db2, "t")).count()


def test_stats_columns_config(spark, sf_dir, tmp_path):
    """delta.dataSkippingStatsColumns: files written AFTER the config
    lands carry min/max/nullCount for the listed columns only;
    numRecords always survives (metadata COUNT depends on it)."""
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "narrow")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    write_delta(li.limit(100), table, mode="append")
    set_table_properties(
        table, {"delta.dataSkippingStatsColumns": "l_orderkey"}
    )
    write_delta(li.limit(50), table, mode="append")
    snap = load_snapshot(table)
    by_version: dict[str, dict] = {}
    for p in snap.files:
        by_version[p] = json.loads(snap.adds[p]["stats"])
    wide = [s for s in by_version.values() if "l_suppkey" in s["minValues"]]
    narrow = [s for s in by_version.values() if "l_suppkey" not in s["minValues"]]
    assert wide and narrow, "pre-config file keeps wide stats; post-config is narrow"
    for s in narrow:
        assert set(s["minValues"]) == {"l_orderkey"}
        assert set(s["nullCount"]) == {"l_orderkey"}
        assert s["numRecords"] == 50
    # metadata-only count still exact; a probe on the dropped column
    # may still prune the PRE-config file (its wide stats are real
    # bounds) but must KEEP every stats-less (narrow) file — soundness
    assert snap.metadata_count() == 150
    kept = set(snap.pruned_files("l_suppkey", 10**15, 10**15))
    narrow_paths = {
        p for p in snap.files
        if "l_suppkey" not in json.loads(snap.adds[p]["stats"])["minValues"]
    }
    assert narrow_paths <= kept


def test_stats_num_indexed_cols(spark, sf_dir, tmp_path):
    """delta.dataSkippingNumIndexedCols: first N physical columns
    indexed; -1 restores index-everything."""
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "firstn")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    write_delta(li.limit(10), table, mode="append")
    set_table_properties(table, {"delta.dataSkippingNumIndexedCols": "2"})
    write_delta(li.limit(10), table, mode="append")
    set_table_properties(table, {"delta.dataSkippingNumIndexedCols": "-1"})
    write_delta(li.limit(10), table, mode="append")
    snap = load_snapshot(table)
    keysets = sorted(
        tuple(sorted(json.loads(snap.adds[p]["stats"])["minValues"]))
        for p in snap.files
    )
    assert keysets == sorted([
        ("l_orderkey", "l_quantity", "l_suppkey"),
        ("l_orderkey", "l_suppkey"),
        ("l_orderkey", "l_quantity", "l_suppkey"),
    ])
