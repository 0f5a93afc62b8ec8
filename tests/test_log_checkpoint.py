"""Delta log checkpoint tests: checkpoint parquet + _last_checkpoint
round trip, auto-checkpoint cadence, and replay-from-checkpoint when
the JSON prefix is gone (log truncation)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from guidewire_spark.sources.deltalog import (
    add_action,
    commit_info_action,
    delta_log_dir,
    metadata_action,
    protocol_action,
    list_versions,
    remove_action,
    write_commit,
)
from guidewire_spark.sources.indexer import Batch, commit_batches, index
from guidewire_spark.sources.fs import FileMeta
from guidewire_spark.sources.log_checkpoint import (
    checkpoint_path,
    read_last_checkpoint,
    write_log_checkpoint,
)
from guidewire_spark.sources.snapshot import empty_snapshot, load_snapshot

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)


def _write_table(table_path: str, n_appends: int = 12) -> None:
    """v0 = CREATE_TABLE, then n_appends-1 blind appends of one fake
    file each (log replay never reads data bytes)."""
    snap = write_commit(
        empty_snapshot(table_path),
        [
            protocol_action(),
            metadata_action(SCHEMA, created_time=1000),
            add_action("/data/f0.parquet", 100, 1000),
            commit_info_action("WRITE", "Overwrite", False, 1, 100, 1000),
        ],
    )
    for v in range(1, n_appends):
        snap = write_commit(
            snap,
            [
                add_action(f"/data/f{v}.parquet", 100, 1000 + v),
                commit_info_action("WRITE", "Append", True, 1, 100, 1000 + v),
            ],
        )


def test_checkpoint_roundtrip_matches_full_replay(tmp_path):
    table = str(tmp_path / "t1")
    _write_table(table, 12)
    full = load_snapshot(table)
    write_log_checkpoint(load_snapshot(table))
    assert read_last_checkpoint(table) == 11
    assert os.path.isfile(checkpoint_path(table, 11))
    seeded = load_snapshot(table)
    assert seeded.version == full.version
    assert seeded.files == full.files
    assert seeded.schema == full.schema
    assert seeded.file_sizes == full.file_sizes


def test_replay_from_checkpoint_survives_json_truncation(tmp_path):
    """The checkpoint must be sufficient on its own: delete every JSON
    commit it covers and the snapshot still reconstructs, plus new
    commits replay on top of it."""
    table = str(tmp_path / "t2")
    _write_table(table, 12)
    expected_files = load_snapshot(table).files
    write_log_checkpoint(load_snapshot(table))  # at v11
    log = delta_log_dir(table)
    for v in range(12):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    snap = load_snapshot(table)
    assert snap.version == 11
    assert snap.files == expected_files
    assert snap.schema == SCHEMA
    # A fresh commit after truncation lands on top of the checkpoint.
    write_commit(
        snap,
        [
            add_action("/data/f12.parquet", 100, 2000),
            commit_info_action("WRITE", "Append", True, 1, 100, 2000),
        ],
    )
    snap2 = load_snapshot(table)
    assert snap2.version == 12
    assert snap2.files == sorted(expected_files + ["/data/f12.parquet"])


def test_time_travel_before_checkpoint_still_works(tmp_path):
    table = str(tmp_path / "t3")
    _write_table(table, 12)
    write_log_checkpoint(load_snapshot(table))  # at v11
    snap5 = load_snapshot(table, version=5)
    assert snap5.num_files == 6  # v0..v5, one file each


def test_auto_checkpoint_every_10_commits(tmp_path):
    table = str(tmp_path / "t4")
    batches = [
        Batch("fp1", 1000, [FileMeta("/data/b0.parquet", 10, 1000)], SCHEMA)
    ] + [
        Batch("fp1", 1000 + v, [FileMeta(f"/data/b{v}.parquet", 10, 1000 + v)], None)
        for v in range(1, 12)
    ]
    commit_batches(table, batches)
    assert read_last_checkpoint(table) == 9
    assert os.path.isfile(checkpoint_path(table, 9))
    snap = load_snapshot(table)
    assert snap.version == 11
    assert snap.num_files == 12


def test_stale_marker_falls_back_to_full_replay(tmp_path):
    table = str(tmp_path / "t5")
    _write_table(table, 4)
    write_log_checkpoint(load_snapshot(table))
    os.remove(checkpoint_path(table, 3))  # marker now points at nothing
    snap = load_snapshot(table)
    assert snap.version == 3
    assert snap.num_files == 4


def test_missing_table_still_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_snapshot(str(tmp_path / "nope"))


# ---------------------------------------------------------------------------
# Property-based: random commit histories with checkpoints interleaved
# must replay to exactly the reference model's file set.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

# op per step: ("append", [files]) | ("overwrite", [files]) | ("ckpt",)
_step = st.one_of(
    st.tuples(
        st.just("append"),
        st.lists(st.integers(0, 30), min_size=1, max_size=3, unique=True),
    ),
    st.tuples(
        st.just("overwrite"),
        st.lists(st.integers(0, 30), min_size=1, max_size=3, unique=True),
    ),
    st.tuples(st.just("ckpt")),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_step, min_size=1, max_size=12))
def test_random_histories_replay_to_model(tmp_path_factory, steps):
    tmp = tmp_path_factory.mktemp("prop")
    table = str(tmp / "t")
    model: set[str] = set()
    snap = empty_snapshot(table)
    fileno = 0
    wrote_meta = False
    for step in steps:
        if step[0] == "ckpt":
            if snap.version >= 0:
                write_log_checkpoint(snap)
            continue
        op, ids = step
        # unique physical names per commit (a real writer never reuses)
        paths = [f"/data/s{fileno}_{i}.parquet" for i in ids]
        fileno += 1
        actions = []
        if not wrote_meta:
            actions += [protocol_action(), metadata_action(SCHEMA, created_time=1)]
            wrote_meta = True
        if op == "overwrite":
            actions += [remove_action(p, 1) for p in sorted(model)]
            actions += [add_action(p, 10, 1) for p in paths]
            actions.append(
                commit_info_action("WRITE", "Overwrite", False, len(paths), 10, 1)
            )
            model = set(paths)
        else:
            actions += [add_action(p, 10, 1) for p in paths]
            actions.append(
                commit_info_action("WRITE", "Append", True, len(paths), 10, 1)
            )
            model |= set(paths)
        snap = write_commit(snap, actions)
    if snap.version < 0:
        return  # only checkpoints drawn; nothing to verify
    version = snap.version
    snap = load_snapshot(table)
    assert snap.version == version
    assert set(snap.files) == model
    assert snap.schema == SCHEMA


def test_cdf_edge_versions(tmp_path):
    """read_delta_changes: beyond-latest from_version yields a typed
    empty frame; full-range equals per-version union."""
    from guidewire_spark.plans.session import get_spark
    from guidewire_spark.sources.snapshot import read_delta_changes

    spark = get_spark(app_name="guidewire-spark-tests", shuffle_partitions=8)
    table = str(tmp_path / "cdf_edge")
    _write_table(table, 3)
    empty = read_delta_changes(spark, table, from_version=99)
    assert empty.count() == 0
    assert "_change_type" in empty.columns and "_commit_version" in empty.columns


def test_checkpoint_preserves_column_mapping(spark, sf_dir, tmp_path):
    """A log checkpoint written after RENAME COLUMN must carry the
    field-metadata physical names, so checkpoint-seeded reads still
    bind old files."""
    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.snapshot import read_delta
    from guidewire_spark.sources.writer import rename_column, write_delta

    table = str(tmp_path / "ckpt_map")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    rename_column(table, "acctbal", "balance")
    write_log_checkpoint(load_snapshot(table))
    got = read_delta(spark, table)
    assert got.columns == ["s_suppkey", "balance"]
    assert got.agg(F.sum("balance")).collect()[0][0] == \
        s.agg(F.sum("acctbal")).collect()[0][0]


def test_checkpoint_carries_configuration_and_protocol_bump(
    spark, sf_dir, tmp_path
):
    """The checkpoint's metaData must carry table configuration
    (constraints, column-mapping mode) and advertise an upgraded
    protocol when column mapping is active, so an external Delta
    reader seeded from the checkpoint sees the same table rules the
    JSON log declares."""
    import pyarrow.parquet as pq

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import (
        checkpoint_path,
        write_log_checkpoint,
    )
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        rename_column,
        table_configuration,
        write_delta,
    )

    table = str(tmp_path / "ckpt_cfg")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    add_check_constraint(spark, table, "valid_key", "r_regionkey >= 0")

    # plain table: baseline protocol, configuration present
    write_log_checkpoint(load_snapshot(table))
    snap_v = load_snapshot(table).version
    rows = pq.read_table(checkpoint_path(table, snap_v)).to_pylist()
    proto = next(x["protocol"] for x in rows if x.get("protocol"))
    meta = next(x["metaData"] for x in rows if x.get("metaData"))
    # ADD CONSTRAINT advertises checkConstraints in the features form
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (1, 7)
    assert "checkConstraints" in (proto["writerFeatures"] or [])
    assert dict(meta["configuration"]) == table_configuration(table)
    assert "delta.constraints.valid_key" in dict(meta["configuration"])

    # column-mapped table: protocol must be upgraded to reader v3 with
    # the columnMapping feature (the table is already in features form)
    rename_column(table, "r_name", "region_name")
    write_log_checkpoint(load_snapshot(table))
    snap_v = load_snapshot(table).version
    rows = pq.read_table(checkpoint_path(table, snap_v)).to_pylist()
    proto = next(x["protocol"] for x in rows if x.get("protocol"))
    meta = next(x["metaData"] for x in rows if x.get("metaData"))
    assert proto["minReaderVersion"] == 3
    assert "columnMapping" in (proto["readerFeatures"] or [])
    assert "columnMapping" in (proto["writerFeatures"] or [])
    cfg = dict(meta["configuration"])
    assert cfg.get("delta.columnMapping.mode") == "name"


def test_multipart_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """Protocol multi-part checkpoints: parts named
    <v>.checkpoint.<i>.<n>.parquet, _last_checkpoint records parts,
    and the seeded snapshot is identical to the single-file form."""
    import glob
    import json as _json
    import os

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import delete_from_mor, write_delta

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "multi")
    # several files so the checkpoint has enough add actions to split
    write_delta(s.repartition(4), t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 2 = 0")
    snap_before = load_snapshot(t)
    write_log_checkpoint(load_snapshot(t), max_actions_per_part=2)
    parts = glob.glob(
        os.path.join(delta_log_dir(t), "*.checkpoint.*.*.parquet")
    )
    assert len(parts) >= 3  # protocol+meta+4 adds at <=2 actions/part
    marker = _json.load(
        open(os.path.join(delta_log_dir(t), "_last_checkpoint"))
    )
    assert marker["parts"] == len(parts)
    # seeded replay equals the pre-checkpoint state, DVs included
    snap = load_snapshot(t)
    assert set(snap.files) == set(snap_before.files)
    assert snap.file_dvs == snap_before.file_dvs
    want = {r.s_suppkey for r in s.where("s_suppkey % 2 <> 0").collect()}
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want


def test_partial_multipart_checkpoint_is_ignored(spark, sf_dir, tmp_path):
    """An incomplete part set (crashed upload) must be treated as
    absent — replay falls back to the JSON log, never half-seeds."""
    import glob
    import os

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "partial")
    write_delta(n.repartition(3), t, mode="append")
    write_log_checkpoint(load_snapshot(t), max_actions_per_part=2)
    parts = sorted(
        glob.glob(os.path.join(delta_log_dir(t), "*.checkpoint.*.*.parquet"))
    )
    os.remove(parts[-1])  # simulate a lost part
    snap = load_snapshot(t)  # must NOT raise — JSON replay covers it
    assert len(snap.files) == 3


def test_v2_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """Protocol V2 checkpoints: UUID-named manifest + _sidecars/
    parquet files; the seeded snapshot must equal the pre-checkpoint
    state including deletion vectors carried through sidecars."""
    import glob
    import json as _json
    import os

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.log_checkpoint import (
        sidecar_dir,
        write_log_checkpoint_v2,
    )
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import delete_from_mor, write_delta

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "v2")
    write_delta(s.repartition(4), t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 2 = 0")
    snap_before = load_snapshot(t)
    write_log_checkpoint_v2(load_snapshot(t), max_adds_per_sidecar=2)
    manifests = [
        p
        for p in glob.glob(os.path.join(delta_log_dir(t), "*.checkpoint.*.parquet"))
        if len(os.path.basename(p).split(".")) == 4
    ]
    assert len(manifests) == 1
    sidecars = glob.glob(os.path.join(sidecar_dir(t), "*.parquet"))
    assert len(sidecars) == 2  # 4 adds at <=2 per sidecar
    marker = _json.load(open(os.path.join(delta_log_dir(t), "_last_checkpoint")))
    assert marker["v2Checkpoint"] == os.path.basename(manifests[0])
    # replay must seed from manifest+sidecars alone
    for v in range(snap_before.version + 1):
        commit = os.path.join(delta_log_dir(t), f"{v:020d}.json")
        if os.path.isfile(commit):
            os.remove(commit)
    snap = load_snapshot(t)
    assert set(snap.files) == set(snap_before.files)
    assert snap.file_dvs == snap_before.file_dvs
    want = {r.s_suppkey for r in s.where("s_suppkey % 2 <> 0").collect()}
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want


def test_v2_checkpoint_missing_sidecar_is_ignored(spark, sf_dir, tmp_path):
    """A manifest referencing a lost sidecar must be treated as absent
    (fall back to JSON replay), mirroring the partial-multi-part rule."""
    import glob
    import os

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import (
        sidecar_dir,
        write_log_checkpoint_v2,
    )
    from guidewire_spark.sources.snapshot import load_snapshot
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "v2partial")
    write_delta(n.repartition(3), t, mode="append")
    write_log_checkpoint_v2(load_snapshot(t), max_adds_per_sidecar=2)
    lost = sorted(glob.glob(os.path.join(sidecar_dir(t), "*.parquet")))[-1]
    os.remove(lost)
    snap = load_snapshot(t)  # must NOT raise — JSON replay covers it
    assert len(snap.files) == 3
import json
import os

import pytest

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.checksum import (
    ChecksumMismatch,
    validate_version_checksum,
    write_version_checksum,
)
from guidewire_spark.sources.deltalog import delta_log_dir
from guidewire_spark.sources.writer import delete_from_mor, write_delta


def test_checksum_roundtrip_and_drift_detection(spark, sf_dir, tmp_path):
    """write → validate passes at every version incl. a DV version;
    a tampered .crc (or equivalently a drifted log) raises with the
    named invariant that diverged."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "crc")
    write_delta(n.repartition(2), t, mode="append")
    write_delta(n.repartition(3), t, mode="append")
    delete_from_mor(spark, t, "n_nationkey % 5 = 0")
    for v in (0, 1, 2):
        write_version_checksum(t, version=v)
        crc = validate_version_checksum(t, version=v)
        assert crc is not None
    assert crc["numFiles"] == 5
    assert crc["numDeletedRecordsOpt"] == 10  # 5 dead rows x 2 appends
    assert crc["numDeletionVectorsOpt"] >= 1
    # unrecorded version -> None, never a false alarm
    assert validate_version_checksum(str(tmp_path / "crc"), version=0)
    # tamper: numFiles off by one must raise ChecksumMismatch
    path = os.path.join(delta_log_dir(t), f"{2:020d}.crc")
    rec = json.load(open(path))
    rec["numFiles"] += 1
    json.dump(rec, open(path, "w"))
    with pytest.raises(ChecksumMismatch, match="numFiles"):
        validate_version_checksum(t, version=2)


def test_auto_checkpoint_interval(spark, sf_dir, tmp_path):
    """delta.checkpointInterval=4: commits 0..n auto-materialize a
    checkpoint after every 4th version with no explicit call, and the
    marker tracks the newest one; generic SET TBLPROPERTIES refuses
    feature-managed keys."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import (
        checkpoint_files,
        read_last_checkpoint,
    )
    from guidewire_spark.sources.writer import set_table_properties, write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "autockpt")
    write_delta(n, t, mode="append")  # v0
    set_table_properties(t, {"delta.checkpointInterval": "4"})  # v1
    for i in range(5):  # v2..v6
        write_delta(n.where(F.col("n_nationkey") % 5 == i), t, mode="append")
    # versions 3 (4th commit) and 7 don't exist yet; interval fires at
    # (v+1) % 4 == 0 -> v3 only among 0..6
    assert checkpoint_files(t, 3), "no checkpoint at v3"
    assert read_last_checkpoint(t) == 3
    write_delta(n.limit(1), t, mode="append")  # v7 -> fires again
    assert checkpoint_files(t, 7)
    assert read_last_checkpoint(t) == 7
    with _pytest.raises(ValueError, match="feature-managed"):
        set_table_properties(t, {"delta.enableRowTracking": "true"})


def test_expire_log_retains_replayability_and_gcs_sidecars(spark, sf_dir, tmp_path):
    """expire_log: old commits + superseded checkpoints go, the newest
    checkpoint and its referenced sidecars stay, orphan sidecars are
    GC'd by reference, latest state still reads, and expired-version
    time travel raises instead of misreading."""
    import glob
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.deltalog import delta_log_dir, list_versions
    from guidewire_spark.sources.log_checkpoint import (
        expire_log,
        sidecar_dir,
        write_log_checkpoint,
        write_log_checkpoint_v2,
    )
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "expire")
    for i in range(6):
        write_delta(n.where(F.col("n_nationkey") % 6 == i), t, mode="append")
    write_log_checkpoint(load_snapshot(t))  # classic checkpoint at v5 (superseded later)
    write_delta(n.limit(0), t, mode="append")  # v6
    write_log_checkpoint_v2(load_snapshot(t), max_adds_per_sidecar=3)  # newest, at v6
    orphan = os.path.join(sidecar_dir(t), "orphan-00000.parquet")
    open(orphan, "wb").write(b"not a real sidecar")
    write_delta(n.limit(0), t, mode="append")  # v7 (JSON tail)

    want = {r.n_nationkey for r in read_delta(spark, t).collect()}
    deleted = expire_log(t, keep_versions=2)
    assert deleted["commits"] >= 5
    assert deleted["checkpoints"] >= 1  # the superseded classic file
    assert deleted["sidecars"] == 1  # only the orphan
    assert not os.path.isfile(orphan)
    assert glob.glob(os.path.join(sidecar_dir(t), "*.parquet"))  # kept
    assert {r.n_nationkey for r in read_delta(spark, t).collect()} == want
    assert list_versions(t) == [6, 7]
    with _pytest.raises(ValueError, match="not in"):
        load_snapshot(t, version=2)
    with _pytest.raises(ValueError):
        expire_log(str(tmp_path / "nockpt"), keep_versions=1)


def test_txn_high_water_survives_checkpoint_and_log_expiry(spark, sf_dir, tmp_path):
    """SetTransaction idempotency must survive log retention: after a
    checkpoint + expire_log delete the JSON commits that carried the
    txn action, a retried write with the same (app_id, txn_version)
    must STILL be a no-op — the high-water mark rides the checkpoint."""
    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import (
        expire_log,
        write_log_checkpoint_v2,
    )
    from guidewire_spark.sources.snapshot import load_snapshot, read_delta
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "txnret")
    write_delta(n.where(F.col("n_nationkey") < 10), t, mode="append")
    write_delta(
        n.where(F.col("n_nationkey") >= 10),
        t,
        mode="append",
        txn_app_id="loader",
        txn_version=7,
    )
    count_before = read_delta(spark, t).count()
    write_log_checkpoint_v2(load_snapshot(t))
    write_delta(n.limit(0), t, mode="append")  # a tail commit to keep
    expire_log(t, keep_versions=1)
    assert load_snapshot(t).txns == {"loader": 7}  # seeded from checkpoint
    # the retry: same app at same version — MUST be a no-op
    v = write_delta(
        n, t, mode="append", txn_app_id="loader", txn_version=7
    )
    assert v == load_snapshot(t).version
    assert read_delta(spark, t).count() == count_before


def test_table_configuration_survives_log_expiry(spark, sf_dir, tmp_path):
    """CHECK constraints (and every other configuration-carried
    contract) must keep enforcing after expire_log removed the JSON
    commit that declared them — table_configuration reads through the
    checkpoint-seeded snapshot."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.log_checkpoint import (
        expire_log,
        write_log_checkpoint,
    )
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        table_configuration,
        write_delta,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "cfgret")
    write_delta(n, t, mode="append")
    add_check_constraint(spark, t, "key_bounded", "n_nationkey < 1000")
    write_log_checkpoint(load_snapshot(t))
    write_delta(n.limit(0), t, mode="append")
    expire_log(t, keep_versions=1)
    cfg = table_configuration(t)
    assert cfg.get("delta.constraints.key_bounded") == "n_nationkey < 1000"
    bad = n.withColumn("n_nationkey", F.col("n_nationkey") + 100000)
    with _pytest.raises(ValueError, match="key_bounded"):
        write_delta(bad, t, mode="append")


def test_index_checkpoint_keeps_add_modification_times(tmp_path):
    """After a 10-commit ``index()`` the auto-checkpoint at v9 carries
    every add's epoch-millis ``modificationTime`` (and size) exactly as
    the JSON adds it replaces, and replay from it keeps them too."""
    root = tmp_path / "source" / "claims"
    fp = "301248659"
    stamps = [1680350543000 + i * 60_000 for i in range(10)]
    for i, ts in enumerate(stamps):
        folder = root / fp / str(ts)
        folder.mkdir(parents=True)
        pq.write_table(
            pa.table({"k": pa.array([i], pa.int64())}),
            str(folder / "part-00000-c000.snappy.parquet"),
        )
    manifest = tmp_path / "manifest.json"
    manifest.write_text(
        json.dumps(
            {
                "claims": {
                    "lastSuccessfulWriteTimestamp": str(stamps[-1]),
                    "totalProcessedRecordsCount": len(stamps),
                    "dataFilesPath": str(root),
                    "schemaHistory": {fp: str(stamps[-1])},
                }
            }
        )
    )
    table = str(tmp_path / "db" / "claims")
    index(str(manifest), str(tmp_path / "db"), save_mode="overwrite")
    assert list_versions(table) == list(range(10))
    assert read_last_checkpoint(table) == 9

    json_adds = {}
    for v in range(10):
        with open(os.path.join(delta_log_dir(table), f"{v:020d}.json")) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    add = action["add"]
                    json_adds[add["path"]] = (add["size"], add["modificationTime"])
    ckpt_adds = {
        row["add"]["path"]: (row["add"]["size"], row["add"]["modificationTime"])
        for row in pq.read_table(checkpoint_path(table, 9)).to_pylist()
        if row["add"] is not None
    }
    assert len(json_adds) == len(stamps)
    assert ckpt_adds == json_adds
    assert all(mtime >= 10**12 for _, mtime in ckpt_adds.values())  # epoch millis
    snap = load_snapshot(table)
    assert snap.file_mtimes == {p: m for p, (_, m) in json_adds.items()}


def test_checkpoint_of_older_version_carries_that_versions_configuration(tmp_path):
    """A checkpoint of version 1 holds version 1's configuration, not
    that of a later metaData commit."""
    table = str(tmp_path / "t")
    snap = write_commit(
        empty_snapshot(table),
        [protocol_action(), metadata_action(SCHEMA, created_time=1, table_id="t")],
    )
    snap = write_commit(snap, [add_action("/data/f1.parquet", 100, 1000)])
    write_commit(
        snap,
        [
            metadata_action(
                SCHEMA,
                created_time=1,
                table_id="t",
                configuration={"delta.appendOnly": "true"},
            )
        ],
    )
    write_log_checkpoint(load_snapshot(table, version=1))
    rows = pq.read_table(checkpoint_path(table, 1)).to_pylist()
    meta = [r["metaData"] for r in rows if r["metaData"]]
    assert [m["configuration"] for m in meta] == [[]]
    assert load_snapshot(table, version=1).configuration == {}
    assert load_snapshot(table).configuration == {"delta.appendOnly": "true"}


def test_writer_tables_checkpoint_every_tenth_version_by_default(
    spark, sf_dir, tmp_path
):
    """Delta's default ``delta.checkpointInterval`` of 10 applies to a
    table that never set it: 12 appends leave a checkpoint at version
    9, and the checkpoint-seeded replay equals a JSON-only replay."""
    import dataclasses

    from pyspark.sql import functions as F

    from guidewire_spark.plans.catalog import load_table
    from guidewire_spark.sources.snapshot import (
        _read_commit,
        apply_actions,
        empty_snapshot,
        load_snapshot,
    )
    from guidewire_spark.sources.writer import write_delta

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "default_interval")
    for i in range(12):
        write_delta(n.where(F.col("n_nationkey") % 12 == i), t, mode="append")
    assert read_last_checkpoint(t) == 9
    assert os.path.isfile(checkpoint_path(t, 9))
    json_replay = empty_snapshot(t)
    for v in list_versions(t):
        apply_actions(json_replay, v, _read_commit(t, v))
    json_replay.files = sorted(json_replay.file_stats)
    seeded = load_snapshot(t)
    assert seeded.version == json_replay.version == 11
    assert dataclasses.replace(seeded, commit_timestamps={}) == (
        dataclasses.replace(json_replay, commit_timestamps={})
    )
