"""Connector tests mirroring the reference's golden-file strategy
(SURVEY.md §5): a synthetic CDA fixture tree with schema evolution,
edge-case files, and expected per-version visible row counts 4/8/4/8.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from guidewire_spark.sources.checkpoints import load_checkpoints
from guidewire_spark.sources.deltalog import list_versions
from guidewire_spark.sources.indexer import discover_batches, index
from guidewire_spark.sources.manifest import ManifestEntry, parse_manifest
from guidewire_spark.sources.snapshot import load_snapshot, read_delta


def _write_parquet(path: str, names: list[str], ages: list[int], last_names=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {"firstName": names, "age": ages}
    if last_names is not None:
        cols = {
            "firstName": names,
            "lastName": last_names,
            "age": ages,
        }
    pq.write_table(pa.table(cols), path, compression="snappy")


@pytest.fixture
def cda_tree(tmp_path):
    """Synthetic policy_holders-style tree (FIXTURES.md §A.2): two
    fingerprints (second adds lastName), two commits each, 4 rows per
    commit folder, plus the three edge-case files: a zero-byte file, a
    rows-less file, and a hidden dot-file."""
    root = str(tmp_path / "source" / "policy_holders")
    fp1, fp2 = "301248659", "301248660"
    t1, t2, t3, t4 = 1680350543000, 1680535502000, 1680757005000, 1680945093000

    _write_parquet(f"{root}/{fp1}/{t1}/part-00000-c000.snappy.parquet",
                   ["anna", "bob", "cara", "dan"], [34, 45, 28, 52])
    # commit 2: same 4 rows split over 3 files + edge cases
    _write_parquet(f"{root}/{fp1}/{t2}/part-00000-c000.snappy.parquet",
                   ["elsa"], [41])
    _write_parquet(f"{root}/{fp1}/{t2}/part-00001-c000.snappy.parquet",
                   ["finn", "gia"], [29, 63])
    _write_parquet(f"{root}/{fp1}/{t2}/part-00002-c000.snappy.parquet",
                   ["hugo"], [47])
    # zero-byte file: must be dropped (Guidewire.scala:145)
    open(f"{root}/{fp1}/{t2}/part-00003-c000.snappy.parquet", "wb").close()
    # hidden file: must be ignored (S3Access.scala:39-41)
    _write_parquet(f"{root}/{fp1}/{t2}/.part-hidden.snappy.parquet", ["x"], [1])

    # fingerprint 2 adds lastName; first file of first commit has zero
    # records → schema sniff must recurse to the next file (EDGE CASE#2)
    empty = pa.table({"firstName": pa.array([], pa.string()),
                      "lastName": pa.array([], pa.string()),
                      "age": pa.array([], pa.int64())})
    os.makedirs(f"{root}/{fp2}/{t3}", exist_ok=True)
    pq.write_table(empty, f"{root}/{fp2}/{t3}/part-00000-c000.snappy.parquet")
    _write_parquet(f"{root}/{fp2}/{t3}/part-00001-c000.snappy.parquet",
                   ["ivy", "jon", "kim", "lou"], [25, 38, 44, 59],
                   ["smith", "doe", "lee", "ray"])
    _write_parquet(f"{root}/{fp2}/{t4}/part-00000-c000.snappy.parquet",
                   ["mia", "ned"], [31, 56], ["fox", "poe"])
    _write_parquet(f"{root}/{fp2}/{t4}/part-00001-c000.snappy.parquet",
                   ["ola", "pax"], [48, 22], ["kent", "hale"])

    manifest = {
        "policy_holders": {
            "lastSuccessfulWriteTimestamp": str(t4),
            "totalProcessedRecordsCount": 16,
            "dataFilesPath": root,
            "schemaHistory": {fp1: str(t2), fp2: str(t4)},
        }
    }
    manifest_path = str(tmp_path / "manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return {"manifest": manifest_path, "root": root, "db": str(tmp_path / "db"),
            "timestamps": (t1, t2, t3, t4)}


def test_manifest_parse(cda_tree):
    entries = parse_manifest(open(cda_tree["manifest"]).read())
    entry = entries["policy_holders"]
    assert isinstance(entry, ManifestEntry)
    assert entry.last_successful_write_timestamp == cda_tree["timestamps"][3]
    assert entry.fingerprints_in_order() == ["301248659", "301248660"]


def test_discover_batches_shapes(cda_tree):
    entries = parse_manifest(open(cda_tree["manifest"]).read())
    batches = discover_batches(entries["policy_holders"], -1)
    assert [b.commit_timestamp for b in batches] == list(cda_tree["timestamps"])
    # schema only on each fingerprint's first folder
    assert [b.schema is not None for b in batches] == [True, False, True, False]
    # zero-byte + hidden files dropped: commit 2 has exactly 3 files
    assert len(batches[1].files) == 3
    # EDGE CASE#2: schema sniffed despite the empty-rows smallest file
    assert "lastName" in [f.name for f in batches[2].schema.fields]


def test_index_produces_four_versions_and_replays(cda_tree, spark):
    index(cda_tree["manifest"], cda_tree["db"], save_mode="overwrite")
    table = os.path.join(cda_tree["db"], "policy_holders")
    assert list_versions(table) == [0, 1, 2, 3]
    # golden expectation: visible rows 4/8/4/8 at v0..v3 (FIXTURES.md §A.2)
    for version, expected in [(0, 4), (1, 8), (2, 4), (3, 8)]:
        assert read_delta(spark, table, version=version).count() == expected
    # schema evolution: v1 lacks lastName, v3 has it
    assert "lastName" not in read_delta(spark, table, version=1).columns
    assert "lastName" in read_delta(spark, table, version=3).columns
    # UPGRADE_SCHEMA removed all fingerprint-1 files from the snapshot
    snap = load_snapshot(table, version=2)
    assert all("301248660" in p for p in snap.files)


def test_incremental_append_only_new_folder(cda_tree, spark):
    t1, t2, t3, t4 = cda_tree["timestamps"]
    # First index only up to t3 (manifest watermark hides t4).
    entries = json.load(open(cda_tree["manifest"]))
    entries["policy_holders"]["lastSuccessfulWriteTimestamp"] = str(t3)
    with open(cda_tree["manifest"], "w") as f:
        json.dump(entries, f)
    index(cda_tree["manifest"], cda_tree["db"], save_mode="overwrite")
    table = os.path.join(cda_tree["db"], "policy_holders")
    assert list_versions(table) == [0, 1, 2]
    assert load_checkpoints(cda_tree["db"]) == {"policy_holders": t3}

    # t4 lands; incremental append discovers exactly one new version.
    entries["policy_holders"]["lastSuccessfulWriteTimestamp"] = str(t4)
    with open(cda_tree["manifest"], "w") as f:
        json.dump(entries, f)
    index(cda_tree["manifest"], cda_tree["db"], save_mode="append")
    assert list_versions(table) == [0, 1, 2, 3]
    assert read_delta(spark, table).count() == 8
    assert load_checkpoints(cda_tree["db"]) == {"policy_holders": t4}


def test_enforce_timestamp_edge_case(cda_tree):
    """EDGE CASE#1: folders beyond the manifest watermark are skipped
    unless enforcement is disabled (Guidewire.scala:111-118)."""
    entries = parse_manifest(open(cda_tree["manifest"]).read())
    entry = entries["policy_holders"]
    stale = ManifestEntry(
        last_successful_write_timestamp=cda_tree["timestamps"][1],
        total_processed_records_count=0,
        data_files_path=entry.data_files_path,
        schema_history=entry.schema_history,
    )
    assert len(discover_batches(stale, -1, enforce_guidewire_timestamp=True)) == 2
    assert len(discover_batches(stale, -1, enforce_guidewire_timestamp=False)) == 4


def test_save_mode_validation(cda_tree):
    with pytest.raises(ValueError):
        index(cda_tree["manifest"], cda_tree["db"], save_mode="errorifexists")


def test_time_travel_by_timestamp(tmp_path):
    """timestampAsOf resolves to the latest version whose commit
    timestamp is at-or-before the requested time."""
    from pyspark.sql import types as T

    from guidewire_spark.sources.deltalog import (
        add_action,
        commit_info_action,
        metadata_action,
        protocol_action,
        write_commit,
    )
    from guidewire_spark.sources.snapshot import empty_snapshot

    table = str(tmp_path / "tt")
    schema = T.StructType([T.StructField("x", T.IntegerType(), True)])
    add = add_action("a.parquet", 10, 1000)
    snap = write_commit(empty_snapshot(table), [
        protocol_action(), metadata_action(schema, created_time=1000), add,
        commit_info_action("WRITE", "Overwrite", [add], timestamp=1000),
    ])
    add = add_action("b.parquet", 10, 2000)
    snap = write_commit(snap, [
        add, commit_info_action("WRITE", "Append", [add], timestamp=2000, blind=True),
    ])
    add = add_action("c.parquet", 10, 3000)
    write_commit(snap, [
        add, commit_info_action("WRITE", "Append", [add], timestamp=3000, blind=True),
    ])
    assert load_snapshot(table, timestamp=2500).version == 1
    assert load_snapshot(table, timestamp=3000).version == 2
    with pytest.raises(ValueError):
        load_snapshot(table, timestamp=500)


def test_discover_batches_epoch_watermark_gates_fingerprint(cda_tree):
    """Sink-extension per-fingerprint gate: a fingerprint whose own
    epoch watermark trails the shared table watermark must not have
    its later folders indexed (a crashed stream's part-filled folder
    under a co-tenant-advanced shared marker); manifests without
    epochWatermarks — every reference-produced one — gate on the
    table watermark exactly as before."""
    t1, t2, t3, t4 = cda_tree["timestamps"]
    entries = parse_manifest(open(cda_tree["manifest"]).read())
    entry = entries["policy_holders"]
    gated = ManifestEntry(
        last_successful_write_timestamp=t4,
        total_processed_records_count=0,
        data_files_path=entry.data_files_path,
        schema_history=entry.schema_history,
        epoch_watermarks={"301248659": t1, "301248660": t4},
    )
    batches = discover_batches(gated, -1)
    # fp1's t2 folder sits above fp1's own epoch watermark -> gated out
    assert [b.commit_timestamp for b in batches] == [t1, t3, t4]
    # EDGE CASE#1 enforcement-off ignores the extension too
    assert len(discover_batches(gated, -1, enforce_guidewire_timestamp=False)) == 4

    # parse path: the extension field round-trips; malformed values
    # never break the reference fields, but ARE tracked so gating
    # consumers can refuse loudly instead of silently widening a
    # corrupt fingerprint's gate to the shared watermark
    raw = json.load(open(cda_tree["manifest"]))
    raw["policy_holders"]["epochWatermarks"] = {"301248659": str(t1), "x": "bad"}
    parsed = parse_manifest(json.dumps(raw))["policy_holders"]
    assert parsed.epoch_watermarks == {"301248659": t1}
    assert parsed.malformed_epoch_fingerprints == frozenset({"x"})
    raw["policy_holders"]["epochWatermarks"] = "garbage"
    parsed = parse_manifest(json.dumps(raw))["policy_holders"]
    assert parsed.epoch_watermarks == {}
    assert parsed.malformed_epoch_fingerprints == frozenset({"*"})
    assert parsed.last_successful_write_timestamp == t4
    # JSON true int()s to 1: a boolean epoch is malformed, not ts 1
    raw["policy_holders"]["epochWatermarks"] = {"301248659": True}
    parsed = parse_manifest(json.dumps(raw))["policy_holders"]
    assert parsed.epoch_watermarks == {}
    assert parsed.malformed_epoch_fingerprints == frozenset({"301248659"})
    # and a boolean table watermark refuses the whole parse loudly
    raw["policy_holders"]["epochWatermarks"] = {}
    raw["policy_holders"]["lastSuccessfulWriteTimestamp"] = True
    with pytest.raises(TypeError, match="boolean"):
        parse_manifest(json.dumps(raw))


def test_discover_batches_refuses_corrupt_epoch_watermark(cda_tree):
    """A PRESENT-but-unparseable epoch value leaves that fingerprint's
    gate undefined; indexing it under the (wider) shared watermark
    could durably commit a crashed stream's part-filled folder into
    Delta — discover_batches refuses that fingerprint loudly.  Other
    fingerprints' corruption does not block this one, and EDGE CASE#1
    enforcement-off skips the extension entirely (no gate, no gate
    corruption)."""
    t1, t2, t3, t4 = cda_tree["timestamps"]
    entries = parse_manifest(open(cda_tree["manifest"]).read())
    entry = entries["policy_holders"]

    def _with(wms, bad):
        return ManifestEntry(
            last_successful_write_timestamp=t4,
            total_processed_records_count=0,
            data_files_path=entry.data_files_path,
            schema_history=entry.schema_history,
            epoch_watermarks=wms,
            malformed_epoch_fingerprints=bad,
        )

    # corruption on a fingerprint that IS scanned -> loud
    with pytest.raises(ValueError, match="unparseable"):
        discover_batches(_with({}, frozenset({"301248659"})), -1)
    # whole-field corruption ('*') -> loud for every fingerprint
    with pytest.raises(ValueError, match="unparseable"):
        discover_batches(_with({}, frozenset({"*"})), -1)
    # corruption on a fingerprint NOT in schemaHistory -> unaffected
    ok = discover_batches(_with({}, frozenset({"not_scanned"})), -1)
    assert [b.commit_timestamp for b in ok] == [t1, t2, t3, t4]
    # enforcement off -> extension (and its corruption) ignored
    assert (
        len(
            discover_batches(
                _with({}, frozenset({"*"})),
                -1,
                enforce_guidewire_timestamp=False,
            )
        )
        == 4
    )
