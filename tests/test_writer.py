"""Delta sink / OPTIMIZE / VACUUM tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.deltalog import list_versions
from guidewire_spark.sources.snapshot import load_snapshot, read_delta
from guidewire_spark.sources.writer import optimize_table, vacuum_table, write_delta


def test_write_append_overwrite(spark, sf_dir, tmp_path):
    table = str(tmp_path / "supp")
    s = load_table(spark, sf_dir, "supplier")
    assert write_delta(s, table, mode="append") == 0
    assert read_delta(spark, table).count() == s.count()

    extra = s.where(F.col("s_suppkey") <= 3)
    n_extra = extra.count()
    assert write_delta(extra, table, mode="append") == 1
    assert read_delta(spark, table).count() == s.count() + n_extra
    # time travel back to v0
    assert read_delta(spark, table, version=0).count() == s.count()

    assert write_delta(extra, table, mode="overwrite") == 2
    assert read_delta(spark, table).count() == n_extra


def test_write_bad_mode(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError):
        write_delta(load_table(spark, sf_dir, "region"), str(tmp_path / "r"), "ignore")


def test_optimize_compacts_preserving_rows(spark, sf_dir, tmp_path):
    table = str(tmp_path / "opt")
    n = load_table(spark, sf_dir, "nation")
    # three small commits → three+ files
    for i in range(3):
        write_delta(n.where(F.col("n_nationkey") % 3 == i), table, mode="append")
    before = load_snapshot(table)
    assert before.num_files >= 3
    total = read_delta(spark, table).count()

    version = optimize_table(spark, table, target_files=1)
    after = load_snapshot(table)
    assert after.version == version
    assert after.num_files == 1
    assert read_delta(spark, table).count() == total
    # dataChange=false on every action of the OPTIMIZE commit
    import json

    log = os.path.join(table, "_delta_log", f"{version:020d}.json")
    for line in open(log):
        a = json.loads(line)
        for key in ("add", "remove"):
            if key in a:
                assert a[key]["dataChange"] is False


def test_vacuum_deletes_only_internal_orphans(spark, sf_dir, tmp_path):
    table = str(tmp_path / "vac")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    write_delta(r, table, mode="overwrite")  # v0 files become orphans
    optimize_table(spark, table, target_files=1)  # v1 files become orphans

    doomed = vacuum_table(table, dry_run=True)
    assert doomed  # orphans exist
    live_before = load_snapshot(table).files
    deleted = vacuum_table(table)
    assert sorted(deleted) == sorted(doomed)
    # table still reads fine afterwards
    assert read_delta(spark, table).count() == r.count()
    assert load_snapshot(table).files == live_before
    # the external source parquet (shallow-clone side) was never touched
    assert os.path.exists(f"{sf_dir}/region.parquet")


def test_vacuum_reclaims_expired_change_data(spark, sf_dir, tmp_path):
    """`_change_data` is the one underscore directory VACUUM must NOT
    exempt: real Delta vacuums expired CDC files there (they are never
    in snapshot.files), while files younger than the retention window
    — and every other hidden dir — stay untouched."""
    table = str(tmp_path / "vcd")
    write_delta(load_table(spark, sf_dir, "region"), table, mode="append")
    cdc_dir = os.path.join(table, "_change_data")
    os.makedirs(cdc_dir)
    old_cdc = os.path.join(cdc_dir, "cdc-00000.parquet")
    new_cdc = os.path.join(cdc_dir, "cdc-00001.parquet")
    for p in (old_cdc, new_cdc):
        with open(p, "wb") as f:
            f.write(b"PAR1")
    day_ms = 86_400_000
    os.utime(old_cdc, (0, 0))  # far beyond any retention horizon
    hidden = os.path.join(table, "_gw_other", "x.parquet")
    os.makedirs(os.path.dirname(hidden))
    with open(hidden, "wb") as f:
        f.write(b"PAR1")
    os.utime(hidden, (0, 0))
    deleted = vacuum_table(table, retention_ms=7 * day_ms)
    assert deleted == [old_cdc]
    assert os.path.exists(new_cdc)  # young: inside the window
    assert os.path.exists(hidden)  # other hidden dirs stay exempt


def test_vacuum_never_touches_external_files(spark, sf_dir, tmp_path):
    """A shallow-cloned table (log points at external files) must
    survive vacuum with zero deletions."""
    import json

    from guidewire_spark.sources.indexer import index

    # Build a shallow-clone table over staged external data.
    ext = str(tmp_path / "external" / "t" / "fp1" / "1700000000000")
    load_table(spark, sf_dir, "region").write.parquet(ext)
    manifest = {
        "t": {
            "lastSuccessfulWriteTimestamp": "1700000000000",
            "totalProcessedRecordsCount": 0,
            "dataFilesPath": str(tmp_path / "external" / "t"),
            "schemaHistory": {"fp1": "1700000000000"},
        }
    }
    mpath = str(tmp_path / "m.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    db = str(tmp_path / "db")
    index(mpath, db, save_mode="overwrite")
    table = os.path.join(db, "t")
    assert vacuum_table(table) == []
    assert read_delta(spark, table).count() == 5

    assert list_versions(table) == [0]


def test_merge_rewrites_only_overlapping_files(spark, sf_dir, tmp_path):
    """MERGE must prune by key range: three key-disjoint files, an
    update touching only the middle range → the other files' paths
    survive untouched in the new snapshot."""
    from guidewire_spark.sources.writer import merge_into

    table = str(tmp_path / "mrg")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    keys = sorted(r.s_suppkey for r in s.select("s_suppkey").collect())
    t1, t2 = keys[len(keys) // 3], keys[2 * len(keys) // 3]
    lo = s.where(F.col("s_suppkey") < t1)
    mid = s.where((F.col("s_suppkey") >= t1) & (F.col("s_suppkey") < t2))
    hi = s.where(F.col("s_suppkey") >= t2)
    for part in (lo, mid, hi):
        write_delta(part.coalesce(1), table, mode="append")
    before = load_snapshot(table).files
    assert len(before) == 3

    source = mid.limit(5).select(
        "s_suppkey", "s_name", (F.col("acctbal") + 1).alias("acctbal")
    )
    merge_into(spark, table, source, on="s_suppkey")
    after = load_snapshot(table).files
    # lo + hi files untouched; the mid file replaced.
    untouched = set(before) & set(after)
    assert len(untouched) == 2
    # row count unchanged (pure update), values updated
    got = read_delta(spark, table)
    assert got.count() == s.count()
    updated_keys = [r.s_suppkey for r in source.select("s_suppkey").collect()]
    expect = {
        (r.s_suppkey, round(r.acctbal + 1, 2))
        for r in mid.limit(5).collect()
    }
    assert {
        (r.s_suppkey, r.acctbal)
        for r in got.where(F.col("s_suppkey").isin(updated_keys)).collect()
    } == expect


def test_merge_inserts_unmatched_rows(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import merge_into

    table = str(tmp_path / "mrg_ins")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    source = r.select(
        (F.col("r_regionkey") + 100).alias("r_regionkey"), "r_name"
    )
    merge_into(spark, table, source, on="r_regionkey")
    assert read_delta(spark, table).count() == r.count() * 2


def test_restore_and_history(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import restore_table, table_history

    table = str(tmp_path / "rst")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), table, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), table, mode="append")
    assert read_delta(spark, table).count() == n.count()
    v = restore_table(table, 0)
    assert v == 2
    restored = read_delta(spark, table)
    assert restored.count() == n.where(F.col("n_nationkey") < 10).count()
    # restore preserves history: v1 still time-travelable
    assert read_delta(spark, table, version=1).count() == n.count()
    ops = [h["operation"] for h in table_history(table)]
    assert ops == ["RESTORE", "WRITE", "WRITE"]


def test_restore_keeps_table_id_and_configuration(spark, sf_dir, tmp_path):
    """RESTORE re-records the restored version's metaData: the table
    id and its configuration (a CHECK constraint, the checkpoint
    interval) survive, and the constraint still guards appends."""
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        restore_table,
        set_table_properties,
    )

    table = str(tmp_path / "rst_cfg")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), table, mode="append")
    add_check_constraint(spark, table, "pos", "n_nationkey >= 0")
    set_table_properties(table, {"delta.checkpointInterval": "100"})
    write_delta(n.where(F.col("n_nationkey") >= 10), table, mode="append")
    before = load_snapshot(table)
    restore_table(table, 2)
    after = load_snapshot(table)
    assert after.metadata_id == before.metadata_id
    assert after.configuration == {
        "delta.constraints.pos": "n_nationkey >= 0",
        "delta.checkpointInterval": "100",
    }
    assert read_delta(spark, table).count() == 10
    bad = n.limit(1).withColumn("n_nationkey", F.col("n_nationkey") - 100)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_delta(bad, table, mode="append")


def test_partitioned_write_read_prune(spark, sf_dir, tmp_path):
    """Partitioned Delta: hive-layout staging, partitionValues in the
    log, partition-column reconstruction on read, metadata-only
    pruning via partition_filter."""
    from guidewire_spark.sources.writer import write_delta

    table = str(tmp_path / "part_docs")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_delta(d, table, mode="append", partition_by=["lang"])
    snap = load_snapshot(table)
    assert snap.partition_columns == ["lang"]
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    assert {a["partitionValues"]["lang"] for a in snap.adds.values()} == langs

    # full read reconstructs the partition column with correct values
    got = read_delta(spark, table)
    assert set(got.columns) == {"doc_id", "lang", "n_chars"}
    assert got.count() == d.count()
    assert {
        (r.doc_id, r.lang) for r in got.collect()
    } == {(r.doc_id, r.lang) for r in d.collect()}

    # partition_filter prunes files before Spark sees them
    en = read_delta(spark, table, partition_filter={"lang": "en"})
    assert en.count() == d.where(F.col("lang") == "en").count()
    en_files = [
        p for p, a in snap.adds.items() if a["partitionValues"]["lang"] == "en"
    ]
    scanned = en.inputFiles()
    assert set(scanned) <= {f"file://{p}" for p in en_files} | set(en_files)

    # appends must keep the same partitioning
    with pytest.raises(ValueError):
        write_delta(d, table, mode="append", partition_by=["source"])


def test_partitioned_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.writer import write_delta

    table = str(tmp_path / "part_ckpt")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_delta(d, table, mode="append", partition_by=["lang"])
    full = load_snapshot(table)
    write_log_checkpoint(load_snapshot(table))
    seeded = load_snapshot(table)
    assert seeded.partition_columns == full.partition_columns
    assert seeded.adds == full.adds
    assert read_delta(spark, table).count() == d.count()


def test_zorder_optimize_tightens_skipping(spark, sf_dir, tmp_path):
    """OPTIMIZE zorder_by: after range-clustering on the key, each file
    covers a disjoint key range, so a narrow range predicate prunes to
    one file; pre-clustering, every file spans the full range and
    nothing prunes."""
    table = str(tmp_path / "zord")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # 4 hash-distributed commits: every file spans the whole key range.
    for i in range(4):
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    before = load_snapshot(table)
    keys = [r.o_orderkey for r in o.select("o_orderkey").collect()]
    lo, hi = min(keys), min(keys) + (max(keys) - min(keys)) // 20
    assert len(before.pruned_files("o_orderkey", lo, hi)) == before.num_files

    optimize_table(spark, table, target_files=4, zorder_by=["o_orderkey"])
    after = load_snapshot(table)
    assert after.num_files == 4
    assert read_delta(spark, table).count() == o.count()
    pruned = after.pruned_files("o_orderkey", lo, hi)
    assert len(pruned) == 1  # the narrow range hits exactly one file


def test_zorder_multicolumn_prunes_both_dims(spark, sf_dir, tmp_path):
    """Morton Z-order over two columns: after clustering, a narrow
    range on EITHER column prunes well below the full file count
    (single-column range clustering only helps the leading column)."""
    table = str(tmp_path / "zord2")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for i in range(4):
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    optimize_table(
        spark, table, target_files=16, zorder_by=["o_orderkey", "o_totalprice"]
    )
    snap = load_snapshot(table)
    assert snap.num_files == 16
    assert read_delta(spark, table).count() == o.count()

    stats = o.agg(
        F.min("o_orderkey"), F.max("o_orderkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).collect()[0]
    k_lo, k_hi = stats[0], stats[0] + (stats[1] - stats[0]) // 16
    p_lo, p_hi = stats[2], stats[2] + (stats[3] - stats[2]) / 16
    kept_key = snap.pruned_files("o_orderkey", k_lo, k_hi)
    kept_price = snap.pruned_files("o_totalprice", p_lo, p_hi)
    assert len(kept_key) <= 8, f"key-range kept {len(kept_key)}/16"
    assert len(kept_price) <= 8, f"price-range kept {len(kept_price)}/16"


def test_merge_schema_additive_append(spark, sf_dir, tmp_path):
    """mergeSchema append: a new column joins the table schema via
    metaData; old files are never rewritten — their missing column
    reads as null."""
    table = str(tmp_path / "evolve")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    files_before = set(load_snapshot(table).files)

    extended = r.withColumn("r_population", F.col("r_regionkey") * 1000)
    # without the flag: refuse
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta(extended, table, mode="append")
    write_delta(extended, table, mode="append", merge_schema=True)

    snap = load_snapshot(table)
    assert files_before <= set(snap.files)  # old files untouched
    assert [f.name for f in snap.schema.fields] == [
        "r_regionkey", "r_name", "r_population",
    ]
    got = read_delta(spark, table)
    assert got.count() == r.count() * 2
    # old files' rows read with null population, new files' with values
    assert got.where(F.col("r_population").isNull()).count() == r.count()
    assert got.where(F.col("r_population") == 0).count() == 1  # key 0 * 1000


def test_metadata_only_count(spark, sf_dir, tmp_path):
    table = str(tmp_path / "metacount")
    s = load_table(spark, sf_dir, "supplier")
    write_delta(s, table, mode="append")
    write_delta(s.limit(3), table, mode="append")
    snap = load_snapshot(table)
    assert snap.metadata_count() == s.count() + 3


def test_delete_from_three_way_file_handling(spark, sf_dir, tmp_path):
    """DELETE rewrites only files containing matches; stats-pruned and
    match-free files survive untouched."""
    from guidewire_spark.sources.writer import delete_from

    table = str(tmp_path / "del")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    keys = sorted(r.s_suppkey for r in s.select("s_suppkey").collect())
    t1, t2 = keys[len(keys) // 3], keys[2 * len(keys) // 3]
    for part in (
        s.where(F.col("s_suppkey") < t1),
        s.where((F.col("s_suppkey") >= t1) & (F.col("s_suppkey") < t2)),
        s.where(F.col("s_suppkey") >= t2),
    ):
        write_delta(part.coalesce(1), table, mode="append")
    before = load_snapshot(table).files
    victim = keys[len(keys) // 2]  # lives in the middle file

    delete_from(
        spark,
        table,
        f"s_suppkey = {victim}",
        prune_column="s_suppkey",
        prune_lo=victim,
        prune_hi=victim,
    )
    after = load_snapshot(table)
    assert len(set(before) & set(after.files)) == 2  # lo+hi untouched
    got = read_delta(spark, table)
    assert got.count() == s.count() - 1
    assert got.where(F.col("s_suppkey") == victim).count() == 0


def test_delete_from_no_match_raises(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import delete_from

    table = str(tmp_path / "del2")
    write_delta(load_table(spark, sf_dir, "region"), table, mode="append")
    with pytest.raises(ValueError, match="matches no rows"):
        delete_from(spark, table, "r_regionkey = 999999")


def test_change_data_feed(spark, sf_dir, tmp_path):
    """CDF: appends surface as inserts, DELETE as delete+insert of the
    rewritten file, OPTIMIZE (dataChange=false) emits nothing."""
    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import delete_from

    table = str(tmp_path / "cdf")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10).coalesce(1), table, "append")
    write_delta(n.where(F.col("n_nationkey") >= 10).coalesce(1), table, "append")

    # full history: every row inserted once
    all_changes = read_delta_changes(spark, table, from_version=-1)
    assert all_changes.where(F.col("_change_type") == "insert").count() == n.count()
    assert all_changes.where(F.col("_change_type") == "delete").count() == 0
    # only v1's slice
    v1 = read_delta_changes(spark, table, from_version=0, to_version=1)
    assert v1.count() == n.where(F.col("n_nationkey") >= 10).count()
    assert {r._commit_version for r in v1.collect()} == {1}

    # DELETE → the rewritten file's rows show as delete + insert
    delete_from(spark, table, "n_nationkey = 3")
    d = read_delta_changes(spark, table, from_version=1)
    n_v0_rows = n.where(F.col("n_nationkey") < 10).count()
    assert d.where(F.col("_change_type") == "delete").count() == n_v0_rows
    assert d.where(F.col("_change_type") == "insert").count() == n_v0_rows - 1

    # OPTIMIZE is dataChange=false → no CDF events
    v_before = load_snapshot(table).version
    optimize_table(spark, table, target_files=1)
    opt = read_delta_changes(spark, table, from_version=v_before)
    assert opt.count() == 0


def test_staging_drops_an_empty_partition_zero_file(spark, tmp_path):
    """Spark writes partition 0 even when it holds no rows; staging
    deletes that file and returns adds for the files with rows only."""
    from guidewire_spark.sources.snapshot import empty_snapshot
    from guidewire_spark.sources.writer import stage_add_actions

    table = str(tmp_path / "empty_p0")
    df = spark.range(0, 10, 1, 2).where("id >= 5")  # partition 0 empty
    assert df.rdd.glom().map(len).collect() == [0, 5]
    adds = stage_add_actions(df, empty_snapshot(table))
    assert [json.loads(a["add"]["stats"])["numRecords"] for a in adds] == [5]
    # the empty file is gone from disk, its checksum too
    kept = os.path.basename(adds[0]["add"]["path"])
    staged = [
        name
        for _root, _dirs, names in os.walk(table)
        for name in names
        if ".parquet" in name
    ]
    assert staged and all(kept in name for name in staged), staged
    write_delta(df, table, mode="append")
    snap = load_snapshot(table)
    assert len(snap.files) == 1 and snap.metadata_count() == 5


def test_concurrent_blind_appends_all_land(spark, sf_dir, tmp_path):
    """Optimistic concurrency: parallel blind appends to one table must
    all commit (at distinct versions), Delta-style; non-blind writers
    surface version collisions instead of clobbering."""
    from concurrent.futures import ThreadPoolExecutor

    table = str(tmp_path / "conc")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")

    def append_one(i):
        return write_delta(
            r.where(F.col("r_regionkey") == i % 5), table, mode="append"
        )

    with ThreadPoolExecutor(max_workers=6) as pool:
        versions = list(pool.map(append_one, range(6)))
    assert sorted(versions) == [1, 2, 3, 4, 5, 6]
    assert read_delta(spark, table).count() == r.count() + 6


@pytest.mark.parametrize("winner", ["check_constraint", "row_tracking"])
def test_blind_append_does_not_rebase_past_a_metadata_change(
    spark, tmp_path, monkeypatch, winner
):
    """A blind append whose commit loses to a metadata change that
    landed while its files were staging must not rebase: its rows were
    checked against the old snapshot (no CHECK constraint, no row
    tracking). It raises MetadataChangedException and commits
    nothing."""
    from guidewire_spark.sources import writer
    from guidewire_spark.sources.deltalog import MetadataChangedException
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        enable_row_tracking,
    )

    table = str(tmp_path / "race")
    write_delta(spark.range(5), table, mode="append")
    real_stage = writer._stage_files

    def stage_then_race(df, table_path, partition_by=None):
        staged = real_stage(df, table_path, partition_by)
        monkeypatch.setattr(writer, "_stage_files", real_stage)
        if winner == "check_constraint":
            add_check_constraint(spark, table, "small_id", "id < 100")
        else:
            enable_row_tracking(table)
        return staged

    monkeypatch.setattr(writer, "_stage_files", stage_then_race)
    with pytest.raises(MetadataChangedException):
        write_delta(spark.range(500, 505), table, mode="append")
    assert list_versions(table) == [0, 1]  # only the winner committed
    assert read_delta(spark, table).where("id >= 500").count() == 0
    assert read_delta(spark, table).count() == 5


def test_update_that_loses_the_commit_race_raises_typed_conflict(
    spark, tmp_path, monkeypatch
):
    """A copy-on-write UPDATE was built from its snapshot's files, so a
    writer that commits between the snapshot load and the UPDATE's
    commit wins: the UPDATE raises ConcurrentModificationException
    naming the table and the version it lost, and commits nothing."""
    from guidewire_spark.sources import writer
    from guidewire_spark.sources.deltalog import ConcurrentModificationException

    table = str(tmp_path / "race_update")
    write_delta(spark.range(5), table, mode="append")
    real_stage = writer._stage_files

    def stage_then_race(df, table_path, partition_by=None):
        staged = real_stage(df, table_path, partition_by)
        monkeypatch.setattr(writer, "_stage_files", real_stage)
        write_delta(spark.range(100, 102), table, mode="append")  # wins v1
        return staged

    monkeypatch.setattr(writer, "_stage_files", stage_then_race)
    with pytest.raises(ConcurrentModificationException) as lost:
        writer.update_table(spark, table, "id = 2", {"id": "id + 10"})
    assert table in str(lost.value) and "version 1" in str(lost.value)
    assert list_versions(table) == [0, 1]  # only the winner committed
    assert sorted(r.id for r in read_delta(spark, table).collect()) == [
        0, 1, 2, 3, 4, 100, 101,
    ]


def test_vacuum_retention_protects_recent_removes(spark, sf_dir, tmp_path):
    table = str(tmp_path / "vac_ret")
    r = load_table(spark, sf_dir, "region")
    write_delta(r, table, mode="append")
    write_delta(r, table, mode="overwrite")  # v0 files become orphans NOW
    # 1-day retention: the just-removed files are inside the window
    assert vacuum_table(table, retention_ms=24 * 3600 * 1000) == []
    # time travel to v0 still works
    assert read_delta(spark, table, version=0).count() == r.count()
    # no retention: orphans reclaimed
    assert vacuum_table(table) != []


def test_partitioned_read_empty_filter(spark, sf_dir, tmp_path):
    """A partition_filter matching nothing returns a typed empty frame
    with the full table schema."""
    table = str(tmp_path / "part_empty")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_delta(d, table, mode="append", partition_by=["lang"])
    got = read_delta(spark, table, partition_filter={"lang": "nope"})
    assert got.count() == 0
    assert got.columns == ["doc_id", "lang"]


def test_incremental_optimize_leaves_big_files(spark, sf_dir, tmp_path):
    """min_file_size bin-packing: only small files are rewritten; the
    already-compacted big file survives in place."""
    table = str(tmp_path / "opt_inc")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_delta(li, table, mode="append")  # one big file
    snap0 = load_snapshot(table)
    big = max(snap0.files, key=lambda p: snap0.adds[p]["size"])
    r = load_table(spark, sf_dir, "region")
    for i in range(3):  # three tiny appends
        write_delta(
            r.select(F.col("r_regionkey").cast("long").alias("l_orderkey"),
                     F.lit(float(i)).alias("l_quantity")),
            table, mode="append",
        )
    before = load_snapshot(table)
    assert before.num_files >= 4
    total = read_delta(spark, table).count()

    optimize_table(spark, table, target_files=1,
                   min_file_size=before.adds[big]["size"])
    after = load_snapshot(table)
    assert big in after.files          # the big file was not rewritten
    assert after.num_files == 2        # big + one packed file
    assert read_delta(spark, table).count() == total
    # nothing left to pack → no-op, version unchanged
    v = optimize_table(spark, table, target_files=1,
                       min_file_size=before.adds[big]["size"])
    assert v == after.version


def _partitioned_supplier(spark, sf_dir, table):
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    ).withColumn("region_bucket", (F.col("s_nationkey") % 3).cast("long"))
    write_delta(s, table, mode="append", partition_by=["region_bucket"])
    return s


def test_partitioned_merge_upsert(spark, sf_dir, tmp_path):
    """MERGE into a partitioned table: partition columns are
    materialized from the log when rewriting, updated rows land in the
    right hive partition, untouched partitions' rows survive."""
    from guidewire_spark.sources.writer import merge_into

    table = str(tmp_path / "pmrg")
    s = _partitioned_supplier(spark, sf_dir, table)
    some = [r.s_suppkey for r in s.limit(5).collect()]
    source = (
        s.where(F.col("s_suppkey").isin(some))
        .withColumn("acctbal", F.col("acctbal") + 1)
    )
    merge_into(spark, table, source, on="s_suppkey")
    got = read_delta(spark, table)
    assert got.count() == s.count()
    # updated values present, partition column intact
    exp = {
        (r.s_suppkey, round(r.acctbal + 1, 2), r.s_nationkey % 3)
        for r in s.where(F.col("s_suppkey").isin(some)).collect()
    }
    assert {
        (r.s_suppkey, r.acctbal, r.region_bucket)
        for r in got.where(F.col("s_suppkey").isin(some)).collect()
    } == exp
    snap = load_snapshot(table)
    assert all(
        snap.adds[p]["partitionValues"].get("region_bucket") is not None
        for p in snap.files
    )


def test_partitioned_delete_rows(spark, sf_dir, tmp_path):
    """DELETE on a partitioned table, predicate over the partition
    column itself: only that partition's files are rewritten/removed."""
    from guidewire_spark.sources.writer import delete_from

    table = str(tmp_path / "pdel")
    s = _partitioned_supplier(spark, sf_dir, table)
    before = load_snapshot(table)
    doomed_files = [
        p
        for p in before.files
        if before.adds[p]["partitionValues"].get("region_bucket") == "1"
    ]
    assert doomed_files
    delete_from(spark, table, "region_bucket = 1")
    after = load_snapshot(table)
    assert not set(doomed_files) & set(after.files)
    assert set(before.files) - set(doomed_files) <= set(after.files)
    got = read_delta(spark, table)
    assert got.where(F.col("region_bucket") == 1).count() == 0
    assert got.count() == s.where(F.col("s_nationkey") % 3 != 1).count()


def test_partitioned_optimize_compacts_within_partitions(spark, sf_dir, tmp_path):
    """OPTIMIZE on a partitioned table compacts per partition: row
    set unchanged, every add keeps its partitionValues, file count
    drops to one per partition."""
    table = str(tmp_path / "popt")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    ).withColumn("region_bucket", (F.col("s_nationkey") % 3).cast("long"))
    # several appends → many small files per partition
    for i in range(3):
        write_delta(
            s.where(F.col("s_suppkey") % 3 == i),
            table,
            mode="append",
            partition_by=["region_bucket"],
        )
    before = load_snapshot(table)
    assert len(before.files) > 3
    optimize_table(spark, table)
    after = load_snapshot(table)
    assert len(after.files) == 3  # one per region_bucket
    assert {
        after.adds[p]["partitionValues"].get("region_bucket") for p in after.files
    } == {"0", "1", "2"}
    got = read_delta(spark, table)
    assert got.count() == s.count()
    assert got.groupBy().sum("s_suppkey").collect()[0][0] == \
        s.groupBy().sum("s_suppkey").collect()[0][0]


def test_vacuum_retention_protects_young_untracked_files(spark, sf_dir, tmp_path):
    """A freshly staged (uncommitted) file must survive VACUUM with a
    retention window — its mtime is younger than the horizon — so an
    in-flight write's data cannot be deleted before its commit lands."""
    table = str(tmp_path / "vac")
    s = load_table(spark, sf_dir, "supplier")
    write_delta(s, table, mode="append")
    staged = os.path.join(table, "data-inflight")
    os.makedirs(staged)
    orphan = os.path.join(staged, "part-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1fake")
    deleted = vacuum_table(table, retention_ms=3_600_000)
    assert orphan not in deleted and os.path.exists(orphan)
    # without a retention window the orphan is reclaimed (documented)
    deleted = vacuum_table(table, retention_ms=None)
    assert orphan in deleted and not os.path.exists(orphan)


def test_check_constraints_enforced_on_write(spark, sf_dir, tmp_path):
    """CHECK constraints: added only when existing data satisfies them,
    enforced on later appends AND overwrites, carried through schema
    evolution, removable."""
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        drop_check_constraint,
        table_constraints,
    )

    table = str(tmp_path / "cons")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")

    with pytest.raises(ValueError, match="existing rows violate"):
        add_check_constraint(spark, table, "huge_bal", "acctbal > 100000")
    add_check_constraint(spark, table, "valid_key", "s_suppkey >= 0")
    assert table_constraints(load_snapshot(table)) == {"valid_key": "s_suppkey >= 0"}

    bad = spark.createDataFrame(
        [(-1, "BAD", 1.0)], "s_suppkey long, s_name string, acctbal double"
    )
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_delta(bad, table, mode="append")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_delta(bad, table, mode="overwrite")

    ok = spark.createDataFrame(
        [(999999, "OK", 1.0)], "s_suppkey long, s_name string, acctbal double"
    )
    write_delta(ok, table, mode="append")
    # constraint survives a schema-evolving append
    evolved = ok.withColumn("note", F.lit("x"))
    write_delta(evolved, table, mode="append", merge_schema=True)
    assert table_constraints(load_snapshot(table)) == {"valid_key": "s_suppkey >= 0"}
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_delta(bad, table, mode="append")

    drop_check_constraint(table, "valid_key")
    assert table_constraints(load_snapshot(table)) == {}
    write_delta(bad, table, mode="append")  # no longer enforced
    assert read_delta(spark, table).where(F.col("s_suppkey") == -1).count() == 1


def test_generated_columns(spark, sf_dir, tmp_path):
    """Generated columns: declared on the first write, materialized
    when omitted, validated when supplied, usable as the partition
    column (Delta's generated-partition pattern)."""
    from guidewire_spark.sources.writer import table_generated_columns

    table = str(tmp_path / "gen")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    write_delta(
        o,
        table,
        mode="append",
        partition_by=["order_year"],
        generated_columns={"order_year": "year(o_orderdate)"},
    )
    assert table_generated_columns(load_snapshot(table)) == {"order_year": "year(o_orderdate)"}
    got = read_delta(spark, table)
    assert "order_year" in got.columns
    assert got.where("order_year = year(o_orderdate)").count() == got.count()

    # later append without the column: materialized automatically, and
    # the append inherits the table's partitioning (no partition_by)
    extra = o.limit(3).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    write_delta(extra, table, mode="append")
    got = read_delta(spark, table)
    assert got.count() == o.count() + 3
    assert got.where("order_year = year(o_orderdate)").count() == got.count()
    snap = load_snapshot(table)
    assert all(
        snap.adds[p]["partitionValues"].get("order_year") is not None
        for p in snap.files
    )

    # later append WITH contradicting values: rejected
    bad = extra.withColumn("order_year", F.lit(1900))
    with pytest.raises(ValueError, match="generated column"):
        write_delta(bad, table, mode="append")

    # declaring on an existing table: rejected
    with pytest.raises(ValueError, match="first write"):
        write_delta(extra, table, mode="append", generated_columns={"x": "1"})


def test_rename_and_drop_column_metadata_only(spark, sf_dir, tmp_path):
    """Column mapping (mode=name): RENAME COLUMN and DROP COLUMN are
    metadata-only — zero data files rewritten — and reads, appends,
    MERGE, and time travel all keep working across the rename."""
    from guidewire_spark.sources.writer import (
        drop_column,
        merge_into,
        rename_column,
    )

    table = str(tmp_path / "ren")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    files_before = set(load_snapshot(table).files)

    rename_column(table, "acctbal", "balance")
    snap = load_snapshot(table)
    assert set(snap.files) == files_before  # no data rewritten
    got = read_delta(spark, table)
    assert got.columns == ["s_suppkey", "s_name", "balance"]
    assert got.agg(F.sum("balance")).collect()[0][0] == \
        s.agg(F.sum("acctbal")).collect()[0][0]

    # append with the NEW logical name: staged under the physical name
    extra = spark.createDataFrame(
        [(777777, "NEW", 42.0)], "s_suppkey long, s_name string, balance double"
    )
    write_delta(extra, table, mode="append")
    got = read_delta(spark, table)
    assert got.where("s_suppkey = 777777").collect()[0].balance == 42.0
    assert got.count() == s.count() + 1

    # MERGE through the mapping
    upd = spark.createDataFrame(
        [(777777, "NEW", 43.0)], "s_suppkey long, s_name string, balance double"
    )
    merge_into(spark, table, upd, on="s_suppkey")
    assert read_delta(spark, table).where("s_suppkey = 777777").collect()[0].balance == 43.0

    # time travel to v0 shows the original logical name
    assert read_delta(spark, table, version=0).columns == [
        "s_suppkey", "s_name", "acctbal"
    ]

    # rename collisions / unknown columns rejected
    with pytest.raises(ValueError):
        rename_column(table, "balance", "s_name")
    with pytest.raises(KeyError):
        rename_column(table, "ghost", "x")

    # DROP COLUMN: metadata-only, column vanishes, data still reads
    files_before = set(load_snapshot(table).files)
    drop_column(table, "s_name")
    assert set(load_snapshot(table).files) == files_before
    got = read_delta(spark, table)
    assert got.columns == ["s_suppkey", "balance"]
    assert got.count() == s.count() + 1


def test_rename_blocked_by_constraint_reference(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        rename_column,
    )

    table = str(tmp_path / "renc")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    add_check_constraint(spark, table, "sane_bal", "acctbal >= -100000")
    with pytest.raises(ValueError, match="referenced by"):
        rename_column(table, "acctbal", "balance")


def test_update_rewrites_only_hit_files(spark, sf_dir, tmp_path):
    """UPDATE: three key-disjoint files, a predicate hitting only the
    middle range -> other files survive by path; matching rows get the
    SET expressions, non-matching rows in hit files copy through."""
    from guidewire_spark.sources.writer import update_table

    table = str(tmp_path / "upd")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    keys = sorted(r.s_suppkey for r in s.select("s_suppkey").collect())
    t1, t2 = keys[len(keys) // 3], keys[2 * len(keys) // 3]
    for part in (
        s.where(F.col("s_suppkey") < t1),
        s.where((F.col("s_suppkey") >= t1) & (F.col("s_suppkey") < t2)),
        s.where(F.col("s_suppkey") >= t2),
    ):
        write_delta(part.coalesce(1), table, mode="append")
    before = load_snapshot(table).files
    mid_key = t1
    update_table(
        spark,
        table,
        f"s_suppkey = {mid_key}",
        {"acctbal": "acctbal + 1000", "s_name": "concat(s_name, '-U')"},
        prune_column="s_suppkey",
        prune_lo=mid_key,
        prune_hi=mid_key,
    )
    after = load_snapshot(table)
    assert len(set(before) & set(after.files)) == 2  # two files untouched
    got = read_delta(spark, table)
    assert got.count() == s.count()
    row = got.where(F.col("s_suppkey") == mid_key).collect()[0]
    orig = s.where(F.col("s_suppkey") == mid_key).collect()[0]
    assert row.acctbal == round(orig.acctbal + 1000, 2) and row.s_name.endswith("-U")
    # updates re-check constraints
    from guidewire_spark.sources.writer import add_check_constraint

    add_check_constraint(spark, table, "cap", "acctbal < 1000000")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        update_table(spark, table, f"s_suppkey = {mid_key}", {"acctbal": "2000000"})
    with pytest.raises(ValueError, match="matches no rows"):
        update_table(spark, table, "s_suppkey = -42", {"acctbal": "0"})


def test_time_travel_clone_carries_that_versions_configuration(
    spark, sf_dir, tmp_path
):
    """A clone of version 0 carries version 0's table configuration,
    not a property set later (both clone kinds)."""
    from guidewire_spark.sources.writer import (
        deep_clone,
        set_table_properties,
        shallow_clone,
    )

    src = str(tmp_path / "src")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, src, mode="append")
    set_table_properties(src, {"delta.appendOnly": "true"})
    shallow_clone(src, str(tmp_path / "shallow0"), version=0)
    deep_clone(spark, src, str(tmp_path / "deep0"), version=0)
    assert load_snapshot(str(tmp_path / "shallow0")).configuration == {}
    assert load_snapshot(str(tmp_path / "deep0")).configuration == {}
    shallow_clone(src, str(tmp_path / "shallow1"))
    assert load_snapshot(str(tmp_path / "shallow1")).configuration == {
        "delta.appendOnly": "true"
    }


def test_shallow_clone_zero_copy(spark, sf_dir, tmp_path):
    """SHALLOW CLONE: the clone's log references the source files in
    place (no bytes copied); writes to the clone never disturb the
    source; VACUUM on the clone spares the source's files."""
    from guidewire_spark.sources.writer import shallow_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), src, mode="append")
    write_delta(n.where(F.col("n_nationkey") >= 10), src, mode="append")

    assert shallow_clone(src, dst) == 0
    assert set(load_snapshot(dst).files) == set(load_snapshot(src).files)
    assert read_delta(spark, dst).count() == n.count()

    # historical clone
    dst0 = str(tmp_path / "dst0")
    shallow_clone(src, dst0, version=0)
    assert read_delta(spark, dst0).count() == n.where(F.col("n_nationkey") < 10).count()

    # divergence: append to clone, source unchanged
    write_delta(n.limit(2).withColumn("n_nationkey", F.col("n_nationkey") + 100), dst, mode="append")
    assert read_delta(spark, dst).count() == n.count() + 2
    assert read_delta(spark, src).count() == n.count()

    # vacuum on the clone never deletes the (external) source files
    assert vacuum_table(dst) == []
    assert read_delta(spark, src).count() == n.count()
    with pytest.raises(FileExistsError):
        shallow_clone(src, dst)


def test_clones_keep_deletion_vectors(spark, tmp_path):
    """Both clone kinds re-record each file as the source records it,
    deletion vector included, and commit the source's protocol: rows a
    merge-on-read delete removed stay deleted in the clones.  The
    state the protocol's features need comes along too: the clustering
    domain, and an in-commit-timestamp chain that restarts at the
    clone's version 0 and continues on its next commit."""
    from guidewire_spark.sources.writer import (
        clustering_columns,
        deep_clone,
        delete_from_mor,
        enable_in_commit_timestamps,
        set_clustering_columns,
        shallow_clone,
    )

    src = str(tmp_path / "src")
    write_delta(spark.range(10).repartition(1), src, mode="append")
    delete_from_mor(spark, src, "id < 3")
    enable_in_commit_timestamps(src)
    set_clustering_columns(src, ["id"])
    assert read_delta(spark, src).count() == 7
    shallow_clone(src, str(tmp_path / "shallow"))
    deep_clone(spark, src, str(tmp_path / "deep"))
    for name in ("shallow", "deep"):
        clone = str(tmp_path / name)
        rows = read_delta(spark, clone).collect()
        assert sorted(r.id for r in rows) == list(range(3, 10))
        snap = load_snapshot(clone)
        assert snap.protocol == load_snapshot(src).protocol
        assert clustering_columns(snap) == ["id"]
        assert snap.configuration[
            "delta.inCommitTimestampEnablementVersion"
        ] == "0"
        write_delta(spark.range(10, 11), clone, mode="append")
        log = os.path.join(clone, "_delta_log")
        stamps = []
        for v in (0, 1):
            with open(os.path.join(log, f"{v:020d}.json")) as f:
                first = json.loads(f.readline())
            stamps.append(first["commitInfo"]["inCommitTimestamp"])
        assert stamps[0] == int(
            snap.configuration["delta.inCommitTimestampEnablementTimestamp"]
        )
        assert stamps[1] > stamps[0]


def test_partitioned_zorder_optimize(spark, sf_dir, tmp_path):
    """OPTIMIZE zorder_by on a partitioned table: rows and partition
    values survive, and files keep their hive partition assignment."""
    table = str(tmp_path / "pzo")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity",
        (F.col("l_orderkey") % 2).cast("long").alias("bucket"),
    )
    for i in range(2):
        write_delta(
            li.where(F.col("l_partkey") % 2 == i),
            table, mode="append", partition_by=["bucket"],
        )
    total = read_delta(spark, table).count()
    optimize_table(spark, table, target_files=2, zorder_by=["l_orderkey"])
    after = load_snapshot(table)
    assert read_delta(spark, table).count() == total
    assert all(
        after.adds[p]["partitionValues"].get("bucket") in {"0", "1"}
        for p in after.files
    )
    got = read_delta(spark, table, partition_filter={"bucket": 0})
    assert got.where(F.col("l_orderkey") % 2 != 0).count() == 0


def test_partition_filter_on_boolean_partition(spark, tmp_path):
    """partition_filter values compare as partitionValues store them:
    a bool matches the lower-case "true"/"false" Spark writes."""
    table = str(tmp_path / "pflag")
    df = spark.range(10).select("id", (F.col("id") % 2 == 0).alias("flag"))
    write_delta(df, table, mode="append", partition_by=["flag"])
    for flag, want in ((True, [0, 2, 4, 6, 8]), ("true", [0, 2, 4, 6, 8]),
                       (False, [1, 3, 5, 7, 9])):
        got = read_delta(spark, table, partition_filter={"flag": flag})
        assert sorted(r.id for r in got.collect()) == want


def test_table_detail_metadata_only(spark, sf_dir, tmp_path):
    """DESCRIBE DETAIL from the log alone: files, bytes, partitions,
    version, properties, and a stats-derived record count."""
    from guidewire_spark.sources.writer import add_check_constraint, table_detail

    table = str(tmp_path / "det")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"),
        (F.col("s_nationkey") % 2).cast("long").alias("b"),
    )
    write_delta(s, table, mode="append", partition_by=["b"])
    add_check_constraint(spark, table, "k", "s_suppkey >= 0")
    d = table_detail(table)
    assert d["format"] == "delta" and d["version"] == 1
    assert d["numFiles"] == len(load_snapshot(table).files) > 0
    assert d["sizeInBytes"] > 0
    assert d["partitionColumns"] == ["b"]
    assert d["properties"]["delta.constraints.k"] == "s_suppkey >= 0"
    assert d["numRecords"] == s.count()


def test_convert_to_delta_in_place(spark, sf_dir, tmp_path):
    """CONVERT TO DELTA: a plain parquet directory becomes a Delta
    table without moving a byte; stats enable skipping immediately."""
    from guidewire_spark.sources.writer import convert_to_delta

    d = str(tmp_path / "plainpq")
    s = load_table(spark, sf_dir, "supplier")
    s.repartition(3).write.parquet(d)
    before = sorted(
        os.path.join(r, n) for r, _, ns in os.walk(d) for n in ns
        if n.endswith(".parquet")
    )
    assert convert_to_delta(d) == 0
    assert read_delta(spark, d).count() == s.count()
    after = sorted(
        os.path.join(r, n) for r, _, ns in os.walk(d) for n in ns
        if n.endswith(".parquet")
    )
    assert before == after  # zero data movement
    snap = load_snapshot(d)
    assert all(snap.adds[p].get("stats") for p in snap.files)  # skipping works
    with pytest.raises(FileExistsError):
        convert_to_delta(d)
    # appends keep working on the converted table
    write_delta(s.limit(2), d, mode="append")
    assert read_delta(spark, d).count() == s.count() + 2


def test_overwrite_partitions_replaces_only_incoming(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: re-loading one partition replaces
    exactly that partition; others keep their files and rows."""
    from guidewire_spark.sources.writer import overwrite_partitions

    table = str(tmp_path / "dpo")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append", partition_by=["lang"])
    before = load_snapshot(table)
    en_files = [
        p for p in before.files
        if before.adds[p]["partitionValues"].get("lang") == "en"
    ]
    other_files = set(before.files) - set(en_files)

    reload_en = d.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    overwrite_partitions(reload_en, table)
    after = load_snapshot(table)
    assert not set(en_files) & set(after.files)  # en replaced
    assert other_files <= set(after.files)  # others untouched
    got = read_delta(spark, table)
    assert got.count() == d.count()
    assert got.where("lang = 'en'").agg(F.sum("n_chars")).collect()[0][0] == \
        d.where("lang = 'en'").agg(F.sum("n_chars") + F.count("*")).collect()[0][0]
    with pytest.raises(ValueError, match="not partitioned"):
        t2 = str(tmp_path / "plain2")
        write_delta(d, t2, mode="append")
        overwrite_partitions(d, t2)


def test_merge_enforces_constraints_and_generated_columns(spark, sf_dir, tmp_path):
    """MERGE is a write like any other: CHECK constraints reject a
    violating source before any file stages, and generated columns are
    materialized/validated on inserted rows (Delta enforces invariants
    on MERGE too)."""
    from guidewire_spark.sources.writer import add_check_constraint, merge_into

    table = str(tmp_path / "mrgc")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(
        s, table, mode="append",
        generated_columns={"bal_sign": "CASE WHEN acctbal < 0 THEN -1 ELSE 1 END"},
    )
    add_check_constraint(spark, table, "nonneg_key", "s_suppkey >= 0")
    before = load_snapshot(table)

    bad = s.limit(3).withColumn("s_suppkey", -F.col("s_suppkey") - 1)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        merge_into(spark, table, bad.drop("bal_sign"), on="s_suppkey")
    assert load_snapshot(table).version == before.version  # nothing staged

    # a supplied generated column that contradicts its expression is rejected
    lying = s.limit(2).withColumn("bal_sign", F.lit(99))
    with pytest.raises(ValueError, match="generated column"):
        merge_into(spark, table, lying, on="s_suppkey")

    # a clean source missing the generated column gets it materialized
    new_key = s.agg(F.max("s_suppkey")).collect()[0][0] + 1
    src = spark.createDataFrame(
        [(new_key, "NEWCO", -12.5)], "s_suppkey long, s_name string, acctbal double"
    )
    merge_into(spark, table, src, on="s_suppkey")
    got = read_delta(spark, table).where(F.col("s_suppkey") == new_key).collect()
    assert len(got) == 1 and got[0]["bal_sign"] == -1


def test_overwrite_partitions_boolean_partition_column(spark, sf_dir, tmp_path):
    """Dynamic overwrite on a boolean partition column: incoming tuples
    must hive-encode ('true'/'false') to match the log, so the existing
    partition's files are removed, not duplicated."""
    from guidewire_spark.sources.writer import overwrite_partitions

    table = str(tmp_path / "dpobool")
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .withColumn("is_long", F.col("n_chars") > 300)
    )
    write_delta(d, table, mode="append", partition_by=["is_long"])
    before = load_snapshot(table)
    true_files = [
        p for p in before.files
        if before.adds[p]["partitionValues"].get("is_long") == "true"
    ]
    assert true_files  # the partition under test exists

    reload_true = d.where(F.col("is_long")).withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    overwrite_partitions(reload_true, table)
    after = load_snapshot(table)
    assert not set(true_files) & set(after.files)  # replaced, not duplicated
    got = read_delta(spark, table)
    assert got.count() == d.count()
    assert (
        got.where("is_long").count() == d.where("is_long").count()
    )


def test_change_data_feed_partitioned_materializes_partition_cols(
    spark, sf_dir, tmp_path
):
    """CDF on a partitioned table: partition columns come back with
    real values (from add.partitionValues), never NULL — including for
    deletes of files whose add predates the requested window. This is
    what the incremental matview refresh consumes."""
    from guidewire_spark.sources.snapshot import read_delta_changes
    from guidewire_spark.sources.writer import delete_from

    table = str(tmp_path / "cdfpart")
    n = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .withColumn("bucket", (F.col("n_nationkey") % 2).cast("long"))
    )
    write_delta(n, table, "append", partition_by=["bucket"])
    v0 = load_snapshot(table).version
    delete_from(spark, table, "n_nationkey = 3")

    # window (v0, latest]: the delete rewrote a bucket=1 file added at
    # v0 (before the window) — its delete rows must still carry bucket
    d = read_delta_changes(spark, table, from_version=v0)
    assert d.where(F.col("bucket").isNull()).count() == 0
    del_rows = d.where("_change_type = 'delete'")
    assert del_rows.count() > 0
    assert {r.bucket for r in del_rows.select("bucket").distinct().collect()} == {1}

    # full history: inserts carry correct per-row partition values
    full = read_delta_changes(spark, table, from_version=-1)
    ins = full.where("_change_type = 'insert' AND _commit_version = 0")
    assert ins.where(F.col("bucket") != F.col("n_nationkey") % 2).count() == 0
    assert ins.count() == n.count()


def test_merge_schema_evolution_atomic_and_opt_in(spark, sf_dir, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION: extra source columns must be
    rejected without merge_schema=True; with it, the new column
    appends to the schema in the SAME commit as the upsert, kept and
    non-rewritten rows read NULL for it, and key-disjoint files still
    survive untouched (pruning composes with evolution)."""
    import pytest as _pytest

    from guidewire_spark.sources.writer import merge_into

    table = str(tmp_path / "mrg_evo")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    keys = sorted(r.s_suppkey for r in s.select("s_suppkey").collect())
    t1 = keys[len(keys) // 2]
    lo = s.where(F.col("s_suppkey") < t1)
    hi = s.where(F.col("s_suppkey") >= t1)
    for part in (lo, hi):
        write_delta(part.coalesce(1), table, mode="append")
    before = load_snapshot(table).files
    v_before = load_snapshot(table).version

    source = lo.limit(3).withColumn("tier", F.lit("gold"))
    with _pytest.raises(ValueError, match="merge_schema=True"):
        merge_into(spark, table, source, on="s_suppkey")

    v = merge_into(spark, table, source, on="s_suppkey", merge_schema=True)
    snap = load_snapshot(table)
    # ONE commit: evolution + upsert atomically
    assert v == v_before + 1 == snap.version
    assert [f.name for f in snap.schema.fields] == [
        "s_suppkey",
        "s_name",
        "acctbal",
        "tier",
    ]
    # the hi file is key-disjoint from the update → untouched
    assert set(before) & set(snap.files)
    got = read_delta(spark, table)
    gold = {r.s_suppkey for r in source.select("s_suppkey").collect()}
    rows = {r.s_suppkey: r.tier for r in got.collect()}
    assert set(rows) == set(keys)
    for k, tier in rows.items():
        assert tier == ("gold" if k in gold else None)


def test_identity_column_rejects_supplied_values(spark, sf_dir, tmp_path):
    """GENERATED ALWAYS: a writer supplying the identity column must be
    rejected, on create and on append; appends without it succeed and
    stay strictly above the prior high-water mark."""
    import json
    import pytest as _pytest

    from guidewire_spark.sources.writer import (
        append_with_identity,
        create_identity_table,
        table_configuration,
    )

    table = str(tmp_path / "ident")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    with _pytest.raises(ValueError, match="must not be supplied"):
        create_identity_table(
            n.withColumn("rid", F.lit(1)), table, "rid"
        )
    create_identity_table(n.limit(5), table, "rid", start=10, step=3)
    spec = json.loads(table_configuration(table)["delta.identity.rid"])
    assert spec["start"] == 10 and spec["step"] == 3
    assert spec["highWaterMark"] >= 10
    with _pytest.raises(ValueError, match="GENERATED ALWAYS"):
        append_with_identity(n.limit(2).withColumn("rid", F.lit(1)), table)
    append_with_identity(n.limit(3), table)
    got = read_delta(spark, table)
    ids = [r.rid for r in got.select("rid").collect()]
    assert len(ids) == len(set(ids)) == 8
    assert all(i >= 10 and (i - 10) % 3 == 0 for i in ids)


def test_optimize_where_partition_scoped(spark, sf_dir, tmp_path):
    """OPTIMIZE ... WHERE: only the matching partition's files are
    rewritten; other partitions' files survive by path, rows are
    unchanged, and the commit stays dataChange=false."""
    from guidewire_spark.sources.writer import optimize_table

    table = str(tmp_path / "optw")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # two appends → ≥2 files per partition value
    for _ in range(2):
        write_delta(d, table, mode="append", partition_by=["lang"])
    before = load_snapshot(table)
    en_before = [
        p for p in before.files
        if before.adds[p]["partitionValues"].get("lang") == "en"
    ]
    other_before = set(before.files) - set(en_before)
    assert len(en_before) >= 2

    optimize_table(spark, table, where_partitions={"lang": "en"})
    after = load_snapshot(table)
    en_after = [
        p for p in after.files
        if after.adds[p]["partitionValues"].get("lang") == "en"
    ]
    assert set(en_after).isdisjoint(en_before)  # en compacted
    assert other_before <= set(after.files)     # others untouched
    assert len(en_after) < len(en_before)
    assert read_delta(spark, table).count() == d.count() * 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not\\s+partition columns"):
        optimize_table(spark, table, where_partitions={"doc_id": "1"})


def test_identity_guards_and_empty_batch(spark, sf_dir, tmp_path):
    """Round-5 review hardening: step >= 1 enforced; plain write_delta
    is rejected on identity tables; empty appends no-op the mark; the
    recorded mark always equals the on-disk max (footer stats)."""
    import json
    import pytest as _pytest

    from guidewire_spark.sources.writer import (
        append_with_identity,
        create_identity_table,
        table_configuration,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    with _pytest.raises(ValueError, match="step must be >= 1"):
        create_identity_table(n, str(tmp_path / "bad"), "rid", step=0)

    table = str(tmp_path / "ident2")
    create_identity_table(n.limit(4), table, "rid", start=5, step=5)
    spec = json.loads(table_configuration(table)["delta.identity.rid"])
    got = read_delta(spark, table)
    assert spec["highWaterMark"] == max(r.rid for r in got.collect())

    with _pytest.raises(ValueError, match="append_with_identity"):
        write_delta(n.limit(2), table, mode="append")
    with _pytest.raises(ValueError, match="extra"):
        append_with_identity(
            n.limit(2).withColumn("drift", F.lit(1)), table
        )
    # empty batch: commits, mark unchanged
    v = append_with_identity(n.limit(0), table)
    spec2 = json.loads(table_configuration(table)["delta.identity.rid"])
    assert spec2["highWaterMark"] == spec["highWaterMark"]
    assert v > 0


def test_merge_schema_evolution_rejects_missing_target_columns(
    spark, sf_dir, tmp_path
):
    """A merge_schema source missing an EXISTING target column must be
    rejected — matched rows are replaced wholesale, so the column's
    values would be silently NULLed."""
    import pytest as _pytest

    from guidewire_spark.sources.writer import merge_into

    table = str(tmp_path / "mrg_evo2")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, table, mode="append")
    bad_source = s.limit(3).drop("acctbal").withColumn("tier", F.lit("gold"))
    with _pytest.raises(ValueError, match="missing \\['acctbal'\\]"):
        merge_into(spark, table, bad_source, on="s_suppkey", merge_schema=True)


def test_identity_dml_guards_close_the_side_doors(spark, sf_dir, tmp_path):
    """Round-5 advisor finding: MERGE / replaceWhere / dynamic
    partition overwrite could insert user-supplied identity values
    without bumping the high-water mark, letting a later
    append_with_identity mint duplicates.  All three now raise on
    identity tables; UPDATE raises only when an assignment targets
    the identity column (non-identity SETs preserve existing values,
    so uniqueness holds) and DELETE stays allowed."""
    from guidewire_spark.sources.writer import (
        append_with_identity,
        create_identity_table,
        delete_from,
        merge_into,
        overwrite_partitions,
        replace_where,
        update_table,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    table = str(tmp_path / "ident_dml")
    create_identity_table(n.limit(6), table, "rid", start=1, step=1)

    src = read_delta(spark, table).limit(2)
    with pytest.raises(ValueError, match="append_with_identity"):
        merge_into(spark, table, src, "n_nationkey")
    with pytest.raises(ValueError, match="append_with_identity"):
        replace_where(spark, table, "n_nationkey >= 0", src)
    with pytest.raises(ValueError, match="identity"):
        overwrite_partitions(src, table)
    with pytest.raises(ValueError, match="GENERATED"):
        update_table(spark, table, "n_nationkey = 0", {"rid": "999"})

    # non-identity UPDATE and DELETE remain legal and preserve the
    # uniqueness invariant across a subsequent identity append
    update_table(spark, table, "n_nationkey = 0", {"n_name": "'X'"})
    delete_from(spark, table, "n_nationkey = 1")
    append_with_identity(n.limit(3), table)
    ids = [r.rid for r in read_delta(spark, table).select("rid").collect()]
    assert len(ids) == len(set(ids))


def test_type_widening_metadata_only_and_time_travel(spark, sf_dir, tmp_path):
    """Delta TYPE WIDENING: int→long is a metadata-only commit (files
    untouched, reader upcasts); long appends beyond int range land
    fine; appending the old narrow type still works WITHOUT
    merge_schema; version-of time travel keeps the old type; and
    mergeSchema auto-widens when the incoming type is wider."""
    from guidewire_spark.sources.writer import widen_column_type

    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k"), "n_name"
    )
    t = str(tmp_path / "widen")
    write_delta(n, t, mode="append")
    files_before = set(load_snapshot(t).files)
    widen_column_type(t, "k", "bigint")
    snap = load_snapshot(t)
    assert set(snap.files) == files_before            # metadata-only
    assert dict(read_delta(spark, t).dtypes)["k"] == "bigint"
    big = spark.createDataFrame([(9_999_999_999, "BIG")], "k long, n_name string")
    write_delta(big, t, mode="append")
    got = read_delta(spark, t)
    assert got.agg(F.max("k")).first()[0] == 9_999_999_999
    # narrow (int) append into the widened table: read-time upcast
    write_delta(
        n.limit(2).select((F.col("k") + 100).cast("int").alias("k"), "n_name"),
        t,
        mode="append",
    )
    assert read_delta(spark, t).count() == n.count() + 3
    assert dict(read_delta(spark, t, version=0).dtypes)["k"] == "int"
    with pytest.raises(ValueError, match="not a legal type widening"):
        widen_column_type(t, "k", "int")
    with pytest.raises(ValueError, match="not a legal type widening"):
        widen_column_type(t, "n_name", "bigint")

    # mergeSchema auto-widening: wider incoming type widens the table
    t2 = str(tmp_path / "autowiden")
    write_delta(
        n.select("k", F.col("k").cast("float").alias("w")), t2, mode="append"
    )
    write_delta(
        n.select(
            F.col("k").cast("long").alias("k"),
            F.col("k").cast("double").alias("w"),
        ),
        t2,
        mode="append",
        merge_schema=True,
    )
    dts = dict(read_delta(spark, t2).dtypes)
    assert dts == {"k": "bigint", "w": "double"}
    assert read_delta(spark, t2).count() == n.count() * 2


def test_decimal_widening_end_to_end(spark, sf_dir, tmp_path):
    """Decimal footer stats are writable (directed-rounding floats in
    the stats JSON) and the decimal branch of type widening works end
    to end: decimal(10,2) → decimal(14,2) is metadata-only, old files
    read back upcast, wider appends land, and data skipping on the
    decimal column prunes soundly."""
    import json as _json
    from decimal import Decimal

    from guidewire_spark.sources.writer import widen_column_type

    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        (F.col("n_nationkey") * 100 + 0.25)
        .cast("decimal(10,2)")
        .alias("amt"),
    )
    t = str(tmp_path / "dec_widen")
    write_delta(n, t, mode="append")
    snap = load_snapshot(t)
    # stats exist and carry numeric decimal bounds
    stats = _json.loads(next(iter(snap.adds.values()))["stats"])
    assert stats["minValues"]["amt"] <= 0.25
    assert stats["maxValues"]["amt"] >= 2400.25
    files_before = set(snap.files)
    widen_column_type(t, "amt", "decimal(14,2)")
    snap2 = load_snapshot(t)
    assert set(snap2.files) == files_before           # metadata-only
    got = read_delta(spark, t)
    assert dict(got.dtypes)["amt"] == "decimal(14,2)"
    assert got.where("n_nationkey = 7").first()["amt"] == Decimal("700.25")
    # an append beyond decimal(10,2) range lands under the wide type
    big = spark.createDataFrame(
        [(99, Decimal("999999999999.99"))], "n_nationkey long, amt decimal(14,2)"
    )
    write_delta(big, t, mode="append")
    assert read_delta(spark, t).agg(F.max("amt")).first()[0] == Decimal(
        "999999999999.99"
    )
    # pruning on the decimal column keeps the file containing the hit
    pruned = load_snapshot(t).pruned_files("amt", 999999999999.0, None)
    assert len(pruned) >= 1
    # scale growth without integer-digit growth is rejected as before
    with pytest.raises(ValueError, match="not a legal type widening"):
        widen_column_type(t, "amt", "decimal(14,4)")


def test_decimal_widening_scale_and_digits_grow(spark, sf_dir, tmp_path):
    """decimal(10,2) → decimal(16,4): scale AND integer digits both
    grow — legal per the widening table; values read back exactly."""
    from decimal import Decimal

    from guidewire_spark.sources.writer import widen_column_type

    df = spark.createDataFrame(
        [(1, Decimal("12.34")), (2, Decimal("0.05"))],
        "id long, amt decimal(10,2)",
    )
    t = str(tmp_path / "dec_widen2")
    write_delta(df, t, mode="append")
    widen_column_type(t, "amt", "decimal(16,4)")
    got = {r.id: r.amt for r in read_delta(spark, t).collect()}
    assert got == {1: Decimal("12.3400"), 2: Decimal("0.0500")}


def test_cluster_by_declares_and_optimize_maintains(spark, sf_dir, tmp_path):
    """Liquid-clustering contract: CLUSTER BY is a metadata-only
    declaration; a later plain OPTIMIZE reclusters on the declared
    columns automatically (2 columns → Hilbert), tightening skipping
    on BOTH dimensions; CLUSTER BY NONE drops the behavior."""
    from guidewire_spark.sources.writer import set_clustering_columns

    table = str(tmp_path / "liquid")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for i in range(4):
        write_delta(o.where(F.col("o_orderkey") % 4 == i), table, mode="append")
    before = load_snapshot(table)
    v = set_clustering_columns(table, ["o_orderkey", "o_totalprice"])
    mid = load_snapshot(table)
    assert set(mid.files) == set(before.files)          # metadata-only
    assert mid.version == v
    # protocol storage: the delta.clustering domainMetadata action
    import json as _json

    from guidewire_spark.sources.writer import clustering_columns

    assert _json.loads(mid.domains["delta.clustering"]) == {
        "clusteringColumns": ["o_orderkey", "o_totalprice"]
    }
    assert clustering_columns(load_snapshot(table)) == ["o_orderkey", "o_totalprice"]
    optimize_table(spark, table, target_files=16)       # no explicit cols
    after = load_snapshot(table)
    assert read_delta(spark, table).count() == o.count()
    keys = [r.o_orderkey for r in o.select("o_orderkey").collect()]
    lo = min(keys)
    hi = lo + (max(keys) - min(keys)) // 20
    pruned = after.pruned_files("o_orderkey", lo, hi)
    assert len(pruned) <= after.num_files // 2          # skipping works
    prices = [r.o_totalprice for r in o.select("o_totalprice").collect()]
    plo = min(prices)
    phi = plo + (max(prices) - min(prices)) / 20
    assert len(after.pruned_files("o_totalprice", plo, phi)) <= (
        after.num_files // 2
    )
    # CLUSTER BY NONE: the next OPTIMIZE is a plain compaction again
    set_clustering_columns(table, [])
    assert "delta.clustering" not in load_snapshot(table).domains
    assert clustering_columns(load_snapshot(table)) == []
    # validation: unknown / partition columns rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        set_clustering_columns(table, ["nope"])


def test_in_commit_timestamps_are_monotonic_under_clock_skew(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ICT contract: once enabled, every commit's inCommitTimestamp is
    strictly increasing even when the wall clock ROLLS BACKWARD
    between commits, commitInfo is the first action of each commit,
    and TIMESTAMP AS OF resolves against the monotonic chain."""
    import json as _json
    import os as _os
    import time as _time

    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.writer import enable_in_commit_timestamps

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "ict")
    write_delta(n, t, mode="append")                                 # v0
    enable_in_commit_timestamps(t)                                   # v1
    with pytest.raises(ValueError, match="already enabled"):
        enable_in_commit_timestamps(t)

    # skew the clock BACKWARD for the next commit
    real_time = _time.time
    monkeypatch.setattr(_time, "time", lambda: real_time() - 3600)
    write_delta(n.limit(3), t, mode="append")                        # v2
    monkeypatch.setattr(_time, "time", real_time)
    write_delta(n.limit(2), t, mode="append")                        # v3

    icts = {}
    for v in range(1, 4):
        path = _os.path.join(delta_log_dir(t), f"{v:020d}.json")
        with open(path, encoding="utf-8") as f:
            first = _json.loads(f.readline())
        assert "commitInfo" in first, f"v{v}: commitInfo must lead"
        icts[v] = first["commitInfo"]["inCommitTimestamp"]
    assert icts[1] < icts[2] < icts[3], icts
    # the skewed commit's ict is pinned to prev+1, not the bogus clock
    assert icts[2] == icts[1] + 1

    # TIMESTAMP AS OF against the monotonic chain: asking for the
    # instant of v2 returns v2, not a skew-confused neighbor
    snap = load_snapshot(t, timestamp=icts[2])
    assert snap.version == 2
    assert load_snapshot(t, timestamp=icts[2] - 1).version == 1


def test_add_column_with_default_semantics(spark, sf_dir, tmp_path):
    """Column DEFAULTs, both halves: EXISTS_DEFAULT fills the new
    column for PRE-EXISTING files at scan time (while an explicit NULL
    written later stays NULL — the distinction a blanket coalesce
    would destroy), and CURRENT_DEFAULT fills writes that omit the
    column. Plain add_column without default reads NULL. All
    metadata-only; works through the DV read path too."""
    from guidewire_spark.sources.writer import add_column, delete_from_mor

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "defaults")
    write_delta(n, t, mode="append")                                # v0
    files_before = set(load_snapshot(t).files)
    add_column(t, "tier", "int", default="42")                      # v1
    assert set(load_snapshot(t).files) == files_before  # metadata-only
    got = read_delta(spark, t)
    assert got.where("tier = 42").count() == n.count()  # backfilled at scan
    # a write omitting the column takes CURRENT_DEFAULT
    write_delta(
        spark.createDataFrame([(90, "OMITTED")], "n_nationkey int, n_name string"),
        t,
        mode="append",
    )                                                                # v2
    assert read_delta(spark, t).where(
        "n_nationkey = 90 AND tier = 42"
    ).count() == 1
    # an EXPLICIT NULL stays NULL — defaults are not coalesce
    null_row = spark.createDataFrame(
        [(91, "EXPLICIT", None)], "n_nationkey int, n_name string, tier int"
    )
    write_delta(null_row, t, mode="append")                          # v3
    final = {r.n_nationkey: r.tier for r in read_delta(spark, t).collect()}
    assert final[91] is None and final[90] == 42 and final[0] == 42
    # defaults survive the DV read path (MOR delete → anti-join scan)
    delete_from_mor(spark, t, "n_nationkey = 3")
    after = {r.n_nationkey: r.tier for r in read_delta(spark, t).collect()}
    assert 3 not in after and after[5] == 42 and after[91] is None
    # no-default add_column reads NULL
    add_column(t, "note", "string")
    assert read_delta(spark, t).where("note IS NULL").count() == len(after)
    with pytest.raises(ValueError, match="already exists"):
        add_column(t, "tier", "int")


def test_clustering_domain_survives_checkpoint_and_legacy_key_honored(
    spark, sf_dir, tmp_path
):
    """domainMetadata round-trips through a log checkpoint (seeded
    replay must preserve the clustering declaration), and a table
    written with the LEGACY delta.clusteringColumns config key is
    still honored by clustering_columns()."""
    import json as _json
    import os as _os

    from guidewire_spark.sources.deltalog import delta_log_dir, list_versions
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.writer import (
        clustering_columns,
        set_clustering_columns,
    )

    table = str(tmp_path / "domckpt")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n, table, mode="append")
    set_clustering_columns(table, ["n_nationkey"])
    write_log_checkpoint(load_snapshot(table))
    log = delta_log_dir(table)
    for v in list_versions(table):
        _os.remove(_os.path.join(log, f"{v:020d}.json"))
    snap = load_snapshot(table)  # seeded purely from the checkpoint
    assert _json.loads(snap.domains["delta.clustering"]) == {
        "clusteringColumns": ["n_nationkey"]
    }
    assert clustering_columns(load_snapshot(table)) == ["n_nationkey"]

    # legacy spelling: config key only, no domain
    legacy = str(tmp_path / "legacy")
    write_delta(n, legacy, mode="append")
    from guidewire_spark.sources.writer import set_table_properties

    import pytest as _pytest

    with _pytest.raises(ValueError, match="feature-managed"):
        set_table_properties(legacy, {"delta.clusteringColumns": "n_nationkey"})
    # forge the legacy table the way a pre-migration writer would have
    import guidewire_spark.sources.writer as W

    W._FEATURE_MANAGED_KEYS.pop("delta.clusteringColumns")
    try:
        set_table_properties(legacy, {"delta.clusteringColumns": "n_nationkey"})
    finally:
        W._FEATURE_MANAGED_KEYS["delta.clusteringColumns"] = (
            "set_clustering_columns"
        )
    assert clustering_columns(load_snapshot(legacy)) == ["n_nationkey"]


def test_append_only_refuses_row_removal_everywhere(spark, sf_dir, tmp_path):
    """delta.appendOnly=true refuses every row-removing/rewriting DML
    side door (the protocol's appendOnly writer feature) while appends,
    OPTIMIZE, and reads keep working; unsetting the property re-opens
    DML."""
    from guidewire_spark.sources.writer import (
        delete_auto,
        delete_from,
        delete_from_mor,
        merge_into,
        overwrite_partitions,
        replace_where,
        restore_table,
        set_table_properties,
        update_table,
        update_table_mor,
    )

    table = str(tmp_path / "ao")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where(F.col("n_nationkey") < 10), table, mode="append")
    set_table_properties(table, {"delta.appendOnly": "true"})

    # appends still land
    write_delta(
        n.where((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        table,
        mode="append",
    )
    assert read_delta(spark, table).count() == 20

    blocked = [
        lambda: delete_from(spark, table, "n_nationkey = 1"),
        lambda: delete_from_mor(spark, table, "n_nationkey = 1"),
        lambda: delete_auto(spark, table, "n_nationkey = 1"),
        lambda: update_table(spark, table, "n_nationkey = 1", {"n_name": "'X'"}),
        lambda: update_table_mor(spark, table, "n_nationkey = 1", {"n_name": "'X'"}),
        lambda: merge_into(spark, table, n.where(F.col("n_nationkey") < 3), "n_nationkey"),
        lambda: replace_where(spark, table, "n_nationkey < 5", n.limit(1)),
        lambda: write_delta(n.limit(1), table, mode="overwrite"),
        lambda: restore_table(table, 0),
    ]
    for op in blocked:
        with pytest.raises(ValueError, match="append-only"):
            op()

    # OPTIMIZE (dataChange=false) is still legal on append-only tables
    optimize_table(spark, table)
    assert read_delta(spark, table).count() == 20

    # unset re-opens DML
    set_table_properties(table, {"delta.appendOnly": None})
    delete_from(spark, table, "n_nationkey = 1")
    assert read_delta(spark, table).count() == 19


def test_append_only_partition_overwrite_blocked(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import (
        overwrite_partitions,
        set_table_properties,
    )

    table = str(tmp_path / "aop")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_delta(d, table, mode="append", partition_by=["lang"])
    set_table_properties(table, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="append-only"):
        overwrite_partitions(d.where(F.col("lang") == "en"), table)


def test_merge_clauses_semantics(spark, sf_dir, tmp_path):
    """Clause-order evaluation, duplicate-source refusal, insert-only
    merges allowed on append-only tables (Delta parity)."""
    from guidewire_spark.sources.writer import (
        merge_clauses,
        set_table_properties,
    )

    table = str(tmp_path / "mc")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n, table, mode="append")

    # first-applicable-clause wins: two matched clauses with
    # overlapping conditions — row k=2 satisfies both, takes the first
    src = n.where(F.col("k") < 4)
    merge_clauses(
        spark, table, src, "k",
        [
            {"when": "matched", "condition": "t.k % 2 = 0", "update": {"v": "'EVEN'"}},
            {"when": "matched", "condition": "t.k < 4", "update": {"v": "'SMALL'"}},
        ],
    )
    got = {r["k"]: r["v"] for r in read_delta(spark, table).collect()}
    assert got[0] == "EVEN" and got[2] == "EVEN"
    assert got[1] == "SMALL" and got[3] == "SMALL"
    assert got[5] != "SMALL"  # unmatched rows untouched

    # duplicate source keys that hit the target: refused
    dup = src.unionByName(src.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        merge_clauses(
            spark, table, dup, "k",
            [{"when": "matched", "condition": None, "delete": True}],
        )

    # insert-only merge is a legal append on an append-only table;
    # a delete clause is not
    set_table_properties(table, {"delta.appendOnly": "true"})
    new_rows = spark.createDataFrame([(100, "NEW")], "k long, v string")
    merge_clauses(
        spark, table, new_rows, "k",
        [{"when": "not_matched", "condition": None, "insert": None}],
    )
    assert read_delta(spark, table).where("k = 100").count() == 1
    with pytest.raises(ValueError, match="append-only"):
        merge_clauses(
            spark, table, new_rows, "k",
            [{"when": "matched", "condition": None, "delete": True}],
        )


def test_merge_clauses_null_keys_never_match(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "mcn")
    t = spark.createDataFrame([(1, "a"), (None, "b")], "k long, v string")
    write_delta(t, table, mode="append")
    s = spark.createDataFrame([(None, "c"), (1, "d")], "k long, v string")
    merge_clauses(
        spark, table, s, "k",
        [
            {"when": "matched", "condition": None, "update": {"v": "s.v"}},
            {"when": "not_matched", "condition": None, "insert": None},
        ],
    )
    rows = {(r["k"], r["v"]) for r in read_delta(spark, table).collect()}
    # NULL source key inserts (never matches the NULL target key)
    assert rows == {(1, "d"), (None, "b"), (None, "c")}


def test_merge_clauses_prunes_untouched_files(spark, sf_dir, tmp_path):
    """Without a by-source clause, the source's key bounds prune the
    rewrite set via add.stats: a merge hitting only the high key range
    must not remove the low-range file (the copy-on-write scale
    contract at 100 TB)."""
    import json

    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "mcp")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n.where(F.col("k") < 10).coalesce(1), table, mode="append")
    write_delta(n.where(F.col("k") >= 10).coalesce(1), table, mode="append")
    snap_before = load_snapshot(table)
    assert len(snap_before.files) == 2
    import pyarrow.parquet as pq

    high_file = next(
        p for p in snap_before.files
        if pq.read_table(p, columns=["k"])["k"].to_pylist()[0] >= 10
    )

    src = n.where(F.col("k") >= 20)
    v = merge_clauses(
        spark, table, src, "k",
        [{"when": "matched", "condition": None, "update": {"v": "concat(s.v, '_X')"}}],
    )
    removed = []
    with open(f"{delta_log_dir(table)}/{v:020d}.json") as fh:
        for line in fh:
            a = json.loads(line)
            if "remove" in a:
                removed.append(a["remove"]["path"])
    assert len(removed) == 1  # only the high-range file was rewritten
    import os as _os

    assert _os.path.basename(removed[0]) == _os.path.basename(high_file)
    # results intact
    got = {r["k"]: r["v"] for r in read_delta(spark, table).collect()}
    assert got[24].endswith("_X") and not got[3].endswith("_X")


def test_merge_clauses_on_partitioned_table(spark, sf_dir, tmp_path):
    """Clause MERGE over a hive-partitioned target: updates keep their
    partition, inserts land in existing AND brand-new partitions, and
    by-source deletes reach every partition."""
    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "mcpart")
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "n_chars"
    ).where(F.col("doc_id") < 200)
    write_delta(d, table, mode="append", partition_by=["lang"])
    before_langs = {r["lang"] for r in read_delta(spark, table).select("lang").distinct().collect()}

    src = spark.createDataFrame(
        [(0, "zz", 11), (1, "zz", 12), (100000, "zz", 13)],
        "doc_id long, lang string, n_chars long",
    )
    merge_clauses(
        spark, table, src, "doc_id",
        [
            {"when": "matched", "condition": None, "update": {"n_chars": "s.n_chars"}},
            {"when": "not_matched", "condition": None, "insert": None},
            {
                "when": "not_matched_by_source",
                "condition": "t.doc_id >= 190",
                "delete": True,
            },
        ],
    )
    out = read_delta(spark, table)
    rows = {r["doc_id"]: (r["lang"], r["n_chars"]) for r in out.collect()}
    # updated rows keep their ORIGINAL partition (update touched n_chars only)
    assert rows[0][1] == 11 and rows[1][1] == 12
    assert rows[0][0] in before_langs and rows[0][0] != "zz"
    # insert created a brand-new partition
    assert rows[100000] == ("zz", 13)
    # by-source delete applied across partitions
    assert not [k for k in rows if 190 <= k < 200]
    assert len(rows) == 190 + 1


def test_merge_clauses_schema_evolution(spark, sf_dir, tmp_path):
    """merge_schema=True: source-only columns extend the table in the
    same atomic commit; kept rows read NULL, updates may SET the new
    column, inserts carry it. Without the flag, extra source columns
    stay clause-visible but never reach the target schema."""
    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "mcev")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n.where(F.col("k") < 10), table, mode="append")

    src = spark.createDataFrame(
        [(2, "two", 22), (50, "fifty", 55)], "k long, v string, score long"
    )
    merge_clauses(
        spark, table, src, "k",
        [
            {"when": "matched", "condition": None,
             "update": {"v": "s.v", "score": "s.score"}},
            {"when": "not_matched", "condition": None, "insert": None},
        ],
        merge_schema=True,
    )
    out = read_delta(spark, table)
    assert set(out.columns) == {"k", "v", "score"}
    rows = {r["k"]: (r["v"], r["score"]) for r in out.collect()}
    assert rows[2] == ("two", 22)      # updated, new column set
    assert rows[50] == ("fifty", 55)   # inserted with new column
    assert rows[3][1] is None          # kept rows read NULL
    assert len(rows) == 11

    # without the flag: extra source columns don't evolve the schema
    table2 = str(tmp_path / "mcev2")
    write_delta(n.where(F.col("k") < 5), table2, mode="append")
    merge_clauses(
        spark, table2, src, "k",
        [{"when": "matched", "condition": "s.score > 20", "update": {"v": "s.v"}}],
    )
    assert set(read_delta(spark, table2).columns) == {"k", "v"}


def test_merge_clauses_insert_only_is_pure_append(spark, sf_dir, tmp_path):
    """Insert-only merges rewrite NOTHING: the commit carries zero
    remove actions, works on a row-tracked table (fresh base ids for
    the appended file only), and existing rows keep their stable ids."""
    import json

    from guidewire_spark.sources.deltalog import delta_log_dir
    from guidewire_spark.sources.writer import enable_row_tracking, merge_clauses

    table = str(tmp_path / "mio")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n, table, mode="append")
    enable_row_tracking(table)
    ids_before = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, table, with_row_ids=True).collect()
    }

    src = spark.createDataFrame(
        [(3, "EXISTS"), (200, "NEW"), (201, "NEW2")], "k long, v string"
    )
    v = merge_clauses(
        spark, table, src, "k",
        [{"when": "not_matched", "condition": None, "insert": None}],
    )
    removes, adds = 0, 0
    with open(f"{delta_log_dir(table)}/{v:020d}.json") as fh:
        for line in fh:
            a = json.loads(line)
            removes += "remove" in a
            adds += "add" in a
    assert removes == 0 and adds >= 1

    after = {
        r["k"]: (r["v"], r["_row_id"])
        for r in read_delta(spark, table, with_row_ids=True).collect()
    }
    assert after[3][0] != "EXISTS"            # matched row untouched
    assert after[200][0] == "NEW" and after[201][0] == "NEW2"
    for k, rid in ids_before.items():
        assert after[k][1] == rid             # stable ids survive
    assert after[200][1] not in ids_before.values()  # fresh id range


def test_merge_clauses_review_hardening(spark, sf_dir, tmp_path):
    """Round-7 review fixes pinned: (a) duplicate source keys are
    refused on by-source-only merges too (the full-outer join would
    silently duplicate kept rows); (b) an empty CDC micro-batch is a
    NO-OP, never a whole-table rewrite; (c) empty or action-less
    clauses are refused up front; (d) an update that moves a
    generation input re-materializes the generated column."""
    from guidewire_spark.sources.deltalog import last_version
    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "mch")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), F.col("n_name").alias("v")
    )
    write_delta(n, table, mode="append")

    # (a) dup keys + by-source-only: refused, not silently duplicated
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_clauses(
            spark, table, dup, "k",
            [{"when": "not_matched_by_source", "condition": "t.k > 100",
              "delete": True}],
        )

    # (b) empty source: no-op version, zero rewrites
    v_before = last_version(table)
    empty = spark.createDataFrame([], "k long, v string")
    v_after = merge_clauses(
        spark, table, empty, "k",
        [{"when": "matched", "condition": None, "update": {"v": "s.v"}}],
    )
    assert v_after == v_before and last_version(table) == v_before

    # (c) validation up front
    with pytest.raises(ValueError, match="at least one clause"):
        merge_clauses(spark, table, dup, "k", [])
    with pytest.raises(ValueError, match="needs 'update' or 'delete'"):
        merge_clauses(spark, table, dup, "k",
                      [{"when": "matched", "condition": "s.k > 0"}])

    # (d) generated column re-materializes through an UPDATE
    gtable = str(tmp_path / "mchg")
    base = n.where(F.col("k") < 5)
    write_delta(base, gtable, mode="append",
                generated_columns={"k2": "k * 2"})
    with pytest.raises(ValueError, match="GENERATED ALWAYS|contradict"):
        merge_clauses(
            spark, gtable, spark.createDataFrame([(1, "x", 99)],
                                                 "k long, v string, k2 long"),
            "k",
            [{"when": "matched", "condition": None, "update": {"k2": "s.k2"}}],
        )
    merge_clauses(
        spark, gtable,
        spark.createDataFrame([(1, "moved")], "k long, v string"),
        "k",
        [{"when": "matched", "condition": None,
          "update": {"k": "s.k + 40", "v": "s.v"}}],
    )
    rows = {r["k"]: r["k2"] for r in read_delta(spark, gtable).collect()}
    assert rows[41] == 82  # regenerated from the UPDATED key, not stale 2


def test_not_null_merge_narrower_source(spark, sf_dir, tmp_path):
    """A MERGE source narrower than the target is legal when it only
    UPDATES (the non-nullable column keeps its target value), but a
    merge whose INSERT half would backfill NULL into a non-nullable
    column is rejected at the merged-output value check — mirroring
    Delta, which validates the merge RESULT, not the source shape."""
    import pytest
    from pyspark.sql import types as T

    from guidewire_spark.sources.writer import merge_clauses

    table = str(tmp_path / "nnm")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("amt", T.LongType(), False),
        ]
    )
    write_delta(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema),
        table,
        mode="append",
    )
    # narrower source, update-only clause: non-nullable amt keeps its
    # target value — must pass
    merge_clauses(
        spark,
        table,
        spark.createDataFrame([(1, "a2")], "k long, v string"),
        "k",
        [{"when": "matched", "condition": None, "update": {"v": "s.v"}}],
    )
    rows = {r["k"]: (r["v"], r["amt"]) for r in read_delta(spark, table).collect()}
    assert rows == {1: ("a2", 10), 2: ("b", 20)}
    # same narrower source with an INSERT clause and an unmatched key:
    # the insert would commit NULL into non-nullable amt — the whole
    # merge must be refused at the merged-output value check
    with pytest.raises(ValueError, match="NOT NULL"):
        merge_clauses(
            spark,
            table,
            spark.createDataFrame([(3, "new")], "k long, v string"),
            "k",
            [
                {"when": "matched", "condition": None, "update": {"v": "s.v"}},
                {"when": "not_matched", "condition": None, "insert": None},
            ],
        )
    assert read_delta(spark, table).count() == 2


def test_not_null_invariant_enforced(spark, sf_dir, tmp_path):
    """Schema nullability is an invariant (Delta's `invariants` writer
    feature): appending NULL into a non-nullable column is refused;
    NULLs in nullable columns pass."""
    import pytest
    from pyspark.sql import types as T

    table = str(tmp_path / "nn")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    write_delta(
        spark.createDataFrame([(1, "a"), (2, None)], schema), table, mode="append"
    )
    # the incoming frame is nullable (the parquet-read default) — the
    # TABLE schema's non-nullable k is what must reject the write
    loose = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    with pytest.raises(ValueError, match="NOT NULL: k"):
        write_delta(
            spark.createDataFrame([(None, "x")], loose), table, mode="append"
        )
    write_delta(
        spark.createDataFrame([(3, None)], loose), table, mode="append"
    )
    assert read_delta(spark, table).count() == 3
    # OMITTING the non-nullable column entirely is the same violation:
    # the append path backfills absent columns as NULL at read time,
    # so a narrower write must be rejected, not silently committed.
    with pytest.raises(ValueError, match="absent"):
        write_delta(
            spark.createDataFrame([("y",)], "v string"), table, mode="append"
        )
    # omitting a NULLABLE column stays legal
    write_delta(
        spark.createDataFrame([(4,)], "k long"), table, mode="append"
    )
    assert read_delta(spark, table).count() == 4
    # a schema-replacing OVERWRITE may drop the non-nullable column:
    # the old rows leave in the same commit, so no NULL is ever read
    write_delta(
        spark.createDataFrame([("solo",)], "v string"), table, mode="overwrite"
    )
    assert read_delta(spark, table).columns == ["v"]


def test_cdf_by_timestamp_window(spark, sf_dir, tmp_path):
    """Timestamp-window CDF: version resolution is at-or-after for
    the start, at-or-before for the end (ICT precedence); a start
    beyond the last commit raises; a window closing before it opens
    is empty."""
    import pytest

    from guidewire_spark.sources.snapshot import (
        _commit_timestamp,
        read_delta_changes_by_timestamp,
    )
    from guidewire_spark.sources.writer import enable_in_commit_timestamps

    table = str(tmp_path / "cdft")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where("n_nationkey < 10"), table, mode="append")
    enable_in_commit_timestamps(table)
    write_delta(n.where("n_nationkey >= 10 and n_nationkey < 20"), table)
    write_delta(n.where("n_nationkey >= 20"), table)
    ts2 = _commit_timestamp(table, 2)
    ts3 = _commit_timestamp(table, 3)
    # start at v2's timestamp: v2 and v3 inserts
    got = read_delta_changes_by_timestamp(spark, table, ts2)
    assert sorted(
        r["_commit_version"] for r in got.select("_commit_version").distinct().collect()
    ) == [2, 3]
    # bounded window [ts2, ts2]: v2 only
    got2 = read_delta_changes_by_timestamp(spark, table, ts2, ts2)
    assert got2.select("_commit_version").distinct().collect()[0][0] == 2
    # window closes before it opens: empty, not an error
    assert read_delta_changes_by_timestamp(spark, table, ts3, ts2).count() == 0
    with pytest.raises(ValueError, match="after the last commit"):
        read_delta_changes_by_timestamp(spark, table, ts3 + 10_000_000)


def test_auto_compaction_binpacks_small_appends(spark, sf_dir, tmp_path):
    """delta.autoOptimize.autoCompact: once >= minNumFiles small live
    files accumulate, the append triggers a follow-up dataChange=false
    bin-packing commit; rows and values are untouched; big files are
    not rewritten."""
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "ac")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where("n_nationkey = 0"), table, mode="append")
    set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "4",
        },
    )
    for i in range(1, 5):
        write_delta(
            n.where(F.col("n_nationkey") == i).coalesce(1),
            table,
            mode="append",
        )
    snap = load_snapshot(table)
    # 5 tiny appends collapsed: far fewer live files than appends
    assert snap.num_files < 4, snap.files
    out = read_delta(spark, table)
    assert sorted(r["n_nationkey"] for r in out.collect()) == [0, 1, 2, 3, 4]
    # the compaction rode a separate commit after the last append
    from guidewire_spark.sources.deltalog import list_versions

    assert len(list_versions(table)) >= 7  # create+props+4 appends+compact


def test_auto_compaction_failure_never_fails_or_duplicates_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Best-effort contract: a maintenance failure AFTER the append
    committed must neither fail the write nor re-run the append
    commit.  A FileExistsError from the compaction commit (concurrent
    writer landed between the two commits) previously fell into the
    blind-append retry loop and committed the SAME rows twice."""
    import warnings as _warnings

    from guidewire_spark.sources import writer as W

    table = str(tmp_path / "acfail")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    write_delta(n.where("n_nationkey = 0"), table, mode="append")
    W.set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "2",
        },
    )
    write_delta(n.where("n_nationkey = 1"), table, mode="append")

    def boom(*a, **k):
        raise FileExistsError("simulated concurrent maintenance collision")

    monkeypatch.setattr(W, "optimize_table", boom)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        version = write_delta(
            n.where("n_nationkey = 2"), table, mode="append"
        )
    assert any("auto-compact skipped" in str(w.message) for w in caught)
    assert isinstance(version, int)
    rows = sorted(
        r["n_nationkey"] for r in read_delta(spark, table).collect()
    )
    assert rows == [0, 1, 2]  # exactly once — no duplicated append


def test_auto_compaction_quiet_below_threshold(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "acq")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    write_delta(n.where("n_nationkey = 0"), table, mode="append")
    set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "50",
        },
    )
    write_delta(n.where("n_nationkey = 1"), table, mode="append")
    assert load_snapshot(table).num_files == 2  # below threshold: no-op


def test_optimized_write_one_file_per_partition(spark, sf_dir, tmp_path):
    """delta.autoOptimize.optimizeWrite: a partitioned append whose
    input is spread over many tasks stages ONE file per partition
    value instead of (tasks x values) slivers."""
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "ow")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    write_delta(
        n.where("n_nationkey = 0"), table, mode="append",
        partition_by=["n_regionkey"],
    )
    set_table_properties(table, {"delta.autoOptimize.optimizeWrite": "true"})
    base = load_snapshot(table).num_files
    # 8-task input, 5 partition values: naive staging would cut up to
    # min(8,rows-per-value) files per value
    write_delta(
        n.where("n_nationkey > 0").repartition(8),
        table,
        mode="append",
        partition_by=["n_regionkey"],
    )
    snap = load_snapshot(table)
    added = snap.num_files - base
    values = {
        r["n_regionkey"]
        for r in n.where("n_nationkey > 0").select("n_regionkey").distinct().collect()
    }
    assert added == len(values), (added, len(values))
    assert read_delta(spark, table).count() == n.count()


def test_auto_compaction_counts_per_partition(spark, sf_dir, tmp_path):
    """On a partitioned table the autoCompact threshold applies PER
    PARTITION VALUE: the partition receiving repeated small appends
    compacts to one file; untouched partitions keep their files; and a
    healthy one-file-per-partition layout does not re-trigger."""
    from guidewire_spark.sources.deltalog import list_versions
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "acp")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    write_delta(n, table, mode="append", partition_by=["n_regionkey"])
    set_table_properties(
        table,
        {
            "delta.autoOptimize.autoCompact": "true",
            "gw.autoCompact.minNumFiles": "3",
        },
    )
    hot = [r["n_nationkey"] for r in n.where("n_regionkey = 1").collect()][:3]
    for k in hot:  # 3 small appends, all into partition 1
        write_delta(
            n.where(F.col("n_nationkey") == k),
            table,
            mode="append",
            partition_by=["n_regionkey"],
        )
    snap = load_snapshot(table)
    by_part = {}
    for p in snap.files:
        pv = snap.adds[p]["partitionValues"].get("n_regionkey")
        by_part.setdefault(pv, []).append(p)
    # hot partition compacted (1 base + 3 appends -> threshold tripped)
    assert len(by_part["1"]) < 3, by_part["1"]
    # cold partitions untouched: still exactly their base file
    assert all(len(v) == 1 for k, v in by_part.items() if k != "1")
    # steady state: one more append elsewhere triggers nothing
    versions_before = len(list_versions(table))
    write_delta(
        n.where("n_nationkey = 0"), table, mode="append",
        partition_by=["n_regionkey"],
    )
    assert len(list_versions(table)) == versions_before + 1  # no extra commit
    assert read_delta(spark, table).count() == n.count() + len(hot) + 1


def test_optimized_write_rebalances_unpartitioned(spark, sf_dir, tmp_path):
    """Unpartitioned optimized write: AQE REBALANCE coalesces a
    many-task input to advisory-sized output partitions — tiny data
    stages one file instead of one per input task."""
    from guidewire_spark.sources.writer import set_table_properties

    table = str(tmp_path / "owu")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_delta(n.where("n_nationkey = 0"), table, mode="append")
    base = load_snapshot(table).num_files
    # control: without the property an 8-task input stages 8 files
    write_delta(n.where("n_nationkey > 20").repartition(8), table, mode="append")
    control = load_snapshot(table).num_files - base
    assert control > 1, control
    set_table_properties(table, {"delta.autoOptimize.optimizeWrite": "true"})
    base = load_snapshot(table).num_files
    write_delta(
        n.where("n_nationkey BETWEEN 10 AND 20").repartition(8),
        table,
        mode="append",
    )
    added = load_snapshot(table).num_files - base
    assert added == 1, added
    assert read_delta(spark, table).count() == n.where(
        "n_nationkey = 0 OR n_nationkey >= 10"
    ).count()
