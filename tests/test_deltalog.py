"""Delta log writer/reader unit tests: action JSON shapes match the
reference goldens' structure, replay math, single-writer exclusivity,
and property-based invariants over random commit-folder sets.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from guidewire_spark.sources.deltalog import (
    add_action,
    commit_info_action,
    last_version,
    metadata_action,
    protocol_action,
    remove_action,
    write_commit,
)
from guidewire_spark.sources.snapshot import empty_snapshot, load_snapshot

SCHEMA = T.StructType(
    [
        T.StructField("firstName", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
    ]
)


def _create_v0(table, files=("f0.parquet",)):
    actions = [protocol_action(), metadata_action(SCHEMA, created_time=1)]
    actions += [add_action(f, 100, 1000) for f in files]
    actions.append(commit_info_action("WRITE", "Overwrite", actions, 1))
    return write_commit(empty_snapshot(table), actions)


def test_action_shapes(tmp_path):
    """Commit JSON lines carry the golden-log fields
    (/root/reference/src/test/resources/delta/*.json structure)."""
    table = str(tmp_path / "t")
    _create_v0(table)
    lines = [
        json.loads(line)
        for line in open(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    ]
    assert lines[0] == {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    meta = lines[1]["metaData"]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert json.loads(meta["schemaString"])["type"] == "struct"
    assert meta["partitionColumns"] == []
    add = lines[2]["add"]
    assert add["partitionValues"] == {} and add["dataChange"] is True
    ci = lines[3]["commitInfo"]
    assert ci["operation"] == "WRITE"
    assert ci["operationParameters"]["mode"] == "Overwrite"
    assert ci["isBlindAppend"] is False
    assert ci["operationMetrics"] == {"numFiles": 1, "numOutputBytes": 100}


def test_replay_add_remove(tmp_path):
    table = str(tmp_path / "t")
    snap = _create_v0(table, files=("a.parquet", "b.parquet"))
    add = add_action("c.parquet", 50, 2000)
    snap = write_commit(
        snap, [add, commit_info_action("WRITE", "Append", [add], 2, blind=True)]
    )
    write_commit(
        snap,
        [
            remove_action("a.parquet", 3),
            commit_info_action("WRITE", "Overwrite", [], 3),
        ],
    )
    assert load_snapshot(table, version=0).files == ["a.parquet", "b.parquet"]
    assert load_snapshot(table, version=1).files == ["a.parquet", "b.parquet", "c.parquet"]
    assert load_snapshot(table, version=2).files == ["b.parquet", "c.parquet"]
    assert last_version(table) == 2


def test_single_writer_exclusive(tmp_path):
    table = str(tmp_path / "t")
    _create_v0(table)
    with pytest.raises(FileExistsError):
        write_commit(empty_snapshot(table), [protocol_action()])


@settings(max_examples=25, deadline=None)
@given(
    n_appends=st.integers(min_value=0, max_value=6),
    files_per=st.lists(st.integers(min_value=1, max_value=4), min_size=6, max_size=6),
)
def test_version_monotonic_and_file_accounting(tmp_path_factory, n_appends, files_per):
    """Invariants: versions are contiguous; every added-and-not-removed
    file appears in exactly the snapshots from its version on."""
    table = str(tmp_path_factory.mktemp("prop") / "t")
    snap = _create_v0(table)
    expected = {"f0.parquet"}
    for v in range(1, n_appends + 1):
        new_files = [f"v{v}_{i}.parquet" for i in range(files_per[v - 1])]
        adds = [add_action(f, 10, v) for f in new_files]
        snap = write_commit(
            snap, adds + [commit_info_action("WRITE", "Append", adds, v, blind=True)]
        )
        expected |= set(new_files)
    snap = load_snapshot(table)
    assert snap.version == n_appends
    assert set(snap.files) == expected


def test_reader_protocol_gating(tmp_path):
    """A protocol action demanding an unsupported reader version or an
    unknown readerFeature must REFUSE the read (never silently
    misread); every feature this engine implements passes."""
    import json

    import pytest as _pytest

    from guidewire_spark.sources.deltalog import (
        SUPPORTED_READER_FEATURES,
        delta_log_dir,
    )
    from guidewire_spark.sources.snapshot import load_snapshot
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("x", T.LongType())])

    def forge(name, protocol):
        t = str(tmp_path / name)
        log = delta_log_dir(t)
        os.makedirs(log)
        actions = [
            {"protocol": protocol},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet"},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
        ]
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        return t

    ok = forge(
        "ok",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(SUPPORTED_READER_FEATURES),
        },
    )
    assert load_snapshot(ok).version == 0

    too_new = forge("toonew", {"minReaderVersion": 4, "minWriterVersion": 8})
    with _pytest.raises(ValueError, match="reader version 4"):
        load_snapshot(too_new)

    unknown = forge(
        "unknown",
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "someFutureFeature"],
        },
    )
    with _pytest.raises(ValueError, match="someFutureFeature"):
        load_snapshot(unknown)


def test_optimistic_commit_rebases_appends_and_types_conflicts(spark, sf_dir, tmp_path):
    """commit_transaction: a lost race over a blind append REBASES and
    lands at winner+1; a race where the winner rewrote a file our
    transaction removes raises ConcurrentDeleteException; a winner
    that changed metadata raises MetadataChangedException."""
    import pytest as _pytest

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import (
        ConcurrentDeleteException,
        MetadataChangedException,
        add_action,
        commit_info_action,
        commit_transaction,
        remove_action,
        write_commit,
    )
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "occ")
    write_delta(n, t, mode="append")  # v0: one base file
    base = load_snapshot(t)
    data_file = base.files[0]

    calls = {"n": 0}

    def append_with_race(snap):
        calls["n"] += 1
        if calls["n"] == 1:  # sneak a competing blind append in first
            adds = [add_action("/elsewhere/winner.parquet", 1, 0)]
            write_commit(
                snap, [commit_info_action("WRITE", "Append", adds, blind=True)] + adds
            )
        adds = [add_action("/elsewhere/ours.parquet", 1, 0)]
        return [commit_info_action("WRITE", "Append", adds, blind=True)] + adds

    v = commit_transaction(base, append_with_race).version
    assert v == base.version + 2  # rebased past the winner
    assert calls["n"] == 2  # actions rebuilt against the fresh snapshot
    snap = load_snapshot(t)
    assert "/elsewhere/ours.parquet" in snap.files
    assert "/elsewhere/winner.parquet" in snap.files

    def remove_with_conflict(snap):
        write_commit(
            snap,
            [commit_info_action("DELETE", "Delete", []), remove_action(data_file)],
        )
        return [commit_info_action("DELETE", "Delete", []), remove_action(data_file)]

    with _pytest.raises(ConcurrentDeleteException, match="rewrote"):
        commit_transaction(load_snapshot(t), remove_with_conflict)

    def append_behind_metadata_change(snap):
        write_commit(
            snap,
            [
                commit_info_action("SET TBLPROPERTIES", "set", []),
                {
                    "metaData": {
                        "id": snap.metadata_id,
                        "format": {"provider": "parquet"},
                        "schemaString": snap.schema.json(),
                        "partitionColumns": [],
                        "configuration": {"k": "v"},
                    }
                },
            ],
        )
        adds = [add_action("/elsewhere/late.parquet", 1, 0)]
        return [commit_info_action("WRITE", "Append", adds, blind=True)] + adds

    with _pytest.raises(MetadataChangedException, match="changed table metadata"):
        commit_transaction(load_snapshot(t), append_behind_metadata_change)
    final = load_snapshot(t)
    # the losing transactions never half-landed: the conflicted DELETE
    # did not re-remove, the conflicted append's file is absent, and
    # only the winners' commits advanced the version
    assert data_file not in final.files  # the WINNER's delete stands
    assert "/elsewhere/late.parquet" not in final.files
    assert final.configuration.get("k") == "v"


def test_feature_bearing_commits_advertise_protocol(spark, sf_dir, tmp_path):
    """The write-side half of the external-reader contract: the FIRST
    commit that uses a table feature upgrades the protocol to the
    features form, implied legacy features ride along, re-commits are
    no-ops, and the snapshot (JSON or checkpoint-seeded) retains it."""
    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import feature_upgrade_action
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import (
        delete_from_mor,
        enable_in_commit_timestamps,
        enable_row_tracking,
        widen_column_type,
        write_delta,
    )

    t = str(tmp_path / "feat")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, t, mode="append")
    assert load_snapshot(t).protocol == {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }

    delete_from_mor(spark, t, "n_nationkey % 5 = 0")
    p = load_snapshot(t).protocol
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert "deletionVectors" in p["readerFeatures"]
    assert {"appendOnly", "invariants", "deletionVectors"} <= set(
        p["writerFeatures"]
    )

    # idempotent: a second DV commit adds no second upgrade
    assert feature_upgrade_action(
        p, {"deletionVectors"}, {"deletionVectors"}
    ) is None

    # more features accrete, never replace
    enable_row_tracking(t)
    enable_in_commit_timestamps(t)
    widen_column_type(t, "n_nationkey", "bigint")
    p2 = load_snapshot(t).protocol
    assert {"rowTracking", "inCommitTimestamp", "typeWidening",
            "deletionVectors", "domainMetadata"} <= set(p2["writerFeatures"])
    assert {"deletionVectors", "typeWidening"} <= set(p2["readerFeatures"])


def test_writer_protocol_gate_refuses_foreign_features(spark, sf_dir, tmp_path):
    """A table whose protocol demands writer features this engine does
    not implement refuses EVERY mutation before staging anything; a
    too-new minWriterVersion refuses likewise; reads stay fine when the
    reader side is supported."""
    import json

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import delta_log_dir, write_commit
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import (
        delete_from,
        set_table_properties,
        write_delta,
    )

    t = str(tmp_path / "foreign")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, t, mode="append")
    write_commit(
        load_snapshot(t),
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                       "writerFeatures": ["icebergCompatV2"]}}],
    )
    assert read_delta(spark, t).count() == 25  # reading is unaffected
    for op in (
        lambda: write_delta(n.limit(1), t, mode="append"),
        lambda: delete_from(spark, t, "n_nationkey = 1"),
        lambda: set_table_properties(t, {"k": "v"}),
    ):
        with pytest.raises(ValueError, match="refusing to corrupt"):
            op()
    # nothing was committed past the foreign protocol action
    assert load_snapshot(t).version == 1


def test_first_write_features_advertised(spark, sf_dir, tmp_path):
    """Tables born with feature-bearing schemas advertise them from
    version 0: generated columns and TIMESTAMP_NTZ columns."""
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    t1 = str(tmp_path / "gen")
    df = spark.createDataFrame([(1, 2)], "k long, k2 long")
    write_delta(df, t1, mode="append", generated_columns={"k2": "k * 2"})
    p = load_snapshot(t1).protocol
    assert "generatedColumns" in p["writerFeatures"]

    t2 = str(tmp_path / "ntz")
    df2 = spark.sql("SELECT 1 AS k, TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    write_delta(df2, t2, mode="append")
    p2 = load_snapshot(t2).protocol
    assert "timestampNtz" in p2["readerFeatures"]
    assert "timestampNtz" in p2["writerFeatures"]


def test_ict_probe_failure_aborts_the_commit(tmp_path, monkeypatch):
    """When the previous commit's JSON is gone, the in-commit-timestamp
    step reads the flag from the base snapshot's configuration, so an
    ICT table still stamps ``inCommitTimestamp``. If reading the
    previous commitInfo fails, the commit fails before anything is
    written: a commit on an ICT table without ``inCommitTimestamp``
    would break the protocol."""
    from guidewire_spark.sources import deltalog

    table = str(tmp_path / "t")
    snap = write_commit(
        empty_snapshot(table),
        [
            protocol_action(),
            metadata_action(
                SCHEMA, created_time=1, configuration={deltalog.ICT_KEY: "true"}
            ),
            commit_info_action("WRITE", "Overwrite", [], 1),
        ],
    )
    snap = write_commit(snap, [add_action("f1.parquet", 100, 1000)])
    log = os.path.join(table, "_delta_log")
    os.remove(os.path.join(log, f"{1:020d}.json"))

    snap = write_commit(snap, [add_action("f2.parquet", 100, 1000)])
    with open(os.path.join(log, f"{2:020d}.json")) as f:
        first = json.loads(f.readline())
    assert "inCommitTimestamp" in first["commitInfo"]
    assert snap.commit_timestamps[2] == first["commitInfo"]["inCommitTimestamp"]

    def boom(path, version):
        raise OSError(f"commit {version - 1} unreadable")

    monkeypatch.setattr(deltalog, "_prev_commit_info", boom)
    with pytest.raises(OSError, match="commit 2 unreadable"):
        write_commit(snap, [add_action("f3.parquet", 100, 1000)])
    assert not os.path.exists(os.path.join(log, f"{3:020d}.json"))
