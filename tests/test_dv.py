"""Deletion vectors (merge-on-read DELETE): descriptor roundtrip,
read-side subtraction, DV merge across deletes, copy-on-write
equivalence, purge, time travel, CDF row-level deltas, checkpoint
carry-through, and the no-resurrection invariant for copy-on-write
DML over DV'd files."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.dv import decode_dv, encode_dv, merge_dv
from guidewire_spark.sources.snapshot import (
    load_snapshot,
    read_delta,
    read_delta_changes,
)
from guidewire_spark.sources.writer import (
    delete_from_mor,
    purge_deletion_vectors,
    update_table,
    write_delta,
)


@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=200))
@settings(max_examples=60, deadline=None)
def test_dv_encode_decode_roundtrip(indexes):
    d = encode_dv(indexes)
    assert decode_dv(d) == sorted(indexes)
    assert d["cardinality"] == len(indexes)
    assert d["storageType"] == "i"


def test_dv_merge_unions_and_rejects_negatives():
    a = encode_dv([1, 5, 9])
    m = merge_dv(a, [5, 7])
    assert decode_dv(m) == [1, 5, 7, 9]
    with pytest.raises(ValueError, match="negative"):
        encode_dv([-1])


def test_mor_delete_matches_copy_on_write(spark, sf_dir, tmp_path):
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    mor = str(tmp_path / "mor")
    write_delta(s, mor, mode="append")
    before = load_snapshot(mor)
    delete_from_mor(spark, mor, "s_suppkey % 3 = 1")
    after = load_snapshot(mor)
    # the data files are untouched — only the log changed
    assert set(after.files) == set(before.files)
    assert after.deletion_vectors()
    want = {r.s_suppkey for r in s.where("s_suppkey % 3 <> 1").collect()}
    got = {r.s_suppkey for r in read_delta(spark, mor).collect()}
    assert got == want
    # metadata-only count subtracts the DV cardinality
    assert after.metadata_count() == len(want)
    # time travel: the pre-delete version still shows every row
    assert read_delta(spark, mor, version=0).count() == s.count()


def test_mor_deletes_merge_and_dead_rows_are_invisible(spark, sf_dir, tmp_path):
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "merge")
    write_delta(n, t, mode="append")
    delete_from_mor(spark, t, "n_nationkey < 5")
    delete_from_mor(spark, t, "n_nationkey < 10")  # overlap: 5..9 fresh
    snap = load_snapshot(t)
    (dv,) = snap.deletion_vectors().values()
    assert dv["cardinality"] == 10  # merged, not double-counted
    assert read_delta(spark, t).count() == n.count() - 10
    # a predicate matching only already-dead rows is a no-op DELETE
    with pytest.raises(ValueError, match="matches no rows"):
        delete_from_mor(spark, t, "n_nationkey = 3")


def test_purge_rewrites_without_dead_rows_and_stays_silent_in_cdf(
    spark, sf_dir, tmp_path
):
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    t = str(tmp_path / "purge")
    write_delta(r, t, mode="append")
    delete_from_mor(spark, t, "r_regionkey = 2")
    v = purge_deletion_vectors(spark, t)
    snap = load_snapshot(t)
    assert not snap.deletion_vectors()
    got = {x.r_regionkey for x in read_delta(spark, t).collect()}
    assert got == {x.r_regionkey for x in r.where("r_regionkey <> 2").collect()}
    # dataChange=false: the purge emits NO change events
    ch = read_delta_changes(spark, t, from_version=v - 1)
    assert ch.count() == 0
    with pytest.raises(ValueError, match="no deletion vectors"):
        purge_deletion_vectors(spark, t)


def test_cdf_emits_only_newly_dead_rows(spark, sf_dir, tmp_path):
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "cdf")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 10 = 3")
    delete_from_mor(spark, t, "s_suppkey <= 4")
    ch = read_delta_changes(spark, t, from_version=0)
    rows = [(r.s_suppkey, r._change_type, r._commit_version) for r in ch.collect()]
    v1 = {k for k, c, v in rows if v == 1}
    v2 = {k for k, c, v in rows if v == 2}
    assert all(c == "delete" for _, c, _ in rows)
    assert v1 == {r.s_suppkey for r in s.where("s_suppkey % 10 = 3").collect()}
    # key 3 died in v1; v2 carries only the FRESH deaths
    assert v2 == {
        r.s_suppkey
        for r in s.where("s_suppkey <= 4 AND s_suppkey % 10 <> 3").collect()
    }


def test_copy_on_write_dml_never_resurrects_dv_rows(spark, sf_dir, tmp_path):
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "resurrect")
    write_delta(n, t, mode="append")
    delete_from_mor(spark, t, "n_nationkey = 7")
    # copy-on-write UPDATE rewrites the file: the fold-in must keep
    # row 7 dead and clear the vector on the rewritten file
    update_table(spark, t, "n_nationkey = 3", {"n_name": "'PATCHED'"})
    snap = load_snapshot(t)
    assert not snap.deletion_vectors()
    got = {r.n_nationkey: r.n_name for r in read_delta(spark, t).collect()}
    assert 7 not in got
    assert got[3] == "PATCHED"
    assert len(got) == n.count() - 1


def test_checkpoint_preserves_deletion_vectors(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "ckpt")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 2 = 0")
    write_log_checkpoint(load_snapshot(t))
    # drop the JSON commits the checkpoint covers to prove the seed
    # path carries the vectors (snapshot must not need the JSON tail)
    snap = load_snapshot(t)
    assert snap.deletion_vectors()
    want = {r.s_suppkey for r in s.where("s_suppkey % 2 <> 0").collect()}
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want


def test_mor_delete_on_partitioned_table(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t = str(tmp_path / "part")
    write_delta(d, t, mode="append", partition_by=["lang"])
    delete_from_mor(spark, t, "lang = 'en' AND doc_id % 2 = 0")
    want = d.where("NOT (lang = 'en' AND doc_id % 2 = 0)")
    got = read_delta(spark, t)
    assert got.count() == want.count()
    assert got.where("lang = 'en' AND doc_id % 2 = 0").count() == 0
    # partition pruning still works with vectors live
    en = read_delta(spark, t, partition_filter={"lang": "en"})
    assert en.count() == want.where("lang = 'en'").count()


def test_mor_update_marks_dead_and_appends_new_images(spark, sf_dir, tmp_path):
    """Merge-on-read UPDATE: matched rows die via DV, updated images
    land in a NEW appended file, untouched files stay byte-identical;
    the read sees exactly the copy-on-write UPDATE's answer, and the
    CDF shows delete (old image) + insert (new image)."""
    from guidewire_spark.sources.writer import update_table_mor

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "mor_upd")
    write_delta(s, t, mode="append")
    before = load_snapshot(t)
    v = update_table_mor(
        spark, t, "s_suppkey % 4 = 1", {"s_name": "concat(s_name, '!')"}
    )
    after = load_snapshot(t)
    assert set(before.files) <= set(after.files)   # nothing rewritten
    # image files added (one per matched-scan partition), none removed
    assert len(after.files) > len(before.files)
    assert after.deletion_vectors()
    got = {r.s_suppkey: r.s_name for r in read_delta(spark, t).collect()}
    want = {
        r.s_suppkey: (r.s_name + "!" if r.s_suppkey % 4 == 1 else r.s_name)
        for r in s.collect()
    }
    assert got == want
    ch = read_delta_changes(spark, t, from_version=v - 1)
    kinds = {(r.s_suppkey, r._change_type) for r in ch.collect()}
    touched = {k for k in want if k % 4 == 1}
    assert kinds == {(k, "delete") for k in touched} | {
        (k, "insert") for k in touched
    }
    # updated images are re-updatable and re-deletable (live rows only)
    update_table_mor(
        spark, t, "s_suppkey % 4 = 1", {"s_name": "concat(s_name, '?')"}
    )
    got2 = {r.s_suppkey: r.s_name for r in read_delta(spark, t).collect()}
    assert all(got2[k] == want[k] + "?" for k in touched)
    assert len(got2) == len(want)


def test_mor_update_guards(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import update_table_mor

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t = str(tmp_path / "mor_upd_g")
    write_delta(d, t, mode="append", partition_by=["lang"])
    with pytest.raises(ValueError, match="partition column"):
        update_table_mor(spark, t, "doc_id = 1", {"lang": "'xx'"})
    with pytest.raises(ValueError, match="matches no rows"):
        update_table_mor(spark, t, "doc_id = -1", {"doc_id": "0"})
    # partitioned MOR update round-trips
    update_table_mor(
        spark, t, "lang = 'en' AND doc_id % 7 = 0", {"doc_id": "doc_id + 1000000"}
    )
    got = read_delta(spark, t)
    want = d.withColumn(
        "doc_id",
        F.expr(
            "CASE WHEN lang = 'en' AND doc_id % 7 = 0 "
            "THEN doc_id + 1000000 ELSE doc_id END"
        ),
    )
    assert got.count() == want.count()
    assert (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )


def test_optimize_folds_deletion_vectors_in(spark, sf_dir, tmp_path):
    """OPTIMIZE compaction reads live rows only (DV-aware), so
    compacting a vectored table folds the vectors into the rewritten
    files and clears them — logically a no-op (dataChange=false), same
    as REORG PURGE but as a side effect of ordinary maintenance."""
    from guidewire_spark.sources.writer import optimize_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "opt_dv")
    # two appends → ≥2 files so OPTIMIZE has something to compact
    write_delta(s.where("s_suppkey % 2 = 0"), t, mode="append")
    write_delta(s.where("s_suppkey % 2 = 1"), t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 5 = 2")
    want = {r.s_suppkey for r in s.where("s_suppkey % 5 <> 2").collect()}
    optimize_table(spark, t)
    snap = load_snapshot(t)
    assert not snap.deletion_vectors()
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want
    ch = read_delta_changes(spark, t, from_version=snap.version - 1)
    assert ch.count() == 0  # compaction emits no change events


def test_restore_is_deletion_vector_aware(spark, sf_dir, tmp_path):
    """Round-6 review finding: RESTORE must re-add files whose DV
    state changed — restoring to a pre-delete version brings the dead
    rows back (the old add carries no vector and clears the live
    one), and restoring to a DV-era version after a purge re-attaches
    the old vector so purged dead rows never resurrect."""
    from guidewire_spark.sources.writer import restore_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "restore_dv")
    write_delta(s, t, mode="append")                    # v0: all rows
    delete_from_mor(spark, t, "s_suppkey % 4 = 0")      # v1: DV
    n_after_delete = read_delta(spark, t).count()

    restore_table(t, 0)                                 # v2: undo delete
    assert not load_snapshot(t).deletion_vectors()
    assert read_delta(spark, t).count() == s.count()

    delete_from_mor(spark, t, "s_suppkey % 4 = 0")      # v3: DV again
    purge_deletion_vectors(spark, t)                    # v4: rewritten
    restore_table(t, 3)                                 # v5: back to DV era
    snap = load_snapshot(t)
    assert snap.deletion_vectors()                      # vector restored
    assert read_delta(spark, t).count() == n_after_delete
    assert read_delta(spark, t).where("s_suppkey % 4 = 0").count() == 0


def test_symlink_manifest_refuses_dv_tables(spark, sf_dir, tmp_path):
    """External manifest readers scan parquet verbatim and cannot
    apply deletion vectors — GENERATE must refuse rather than leak
    merge-on-read-deleted rows; after a purge it works again."""
    from guidewire_spark.sources.writer import generate_symlink_manifest

    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    t = str(tmp_path / "manifest_dv")
    write_delta(r, t, mode="append")
    delete_from_mor(spark, t, "r_regionkey = 1")
    with pytest.raises(ValueError, match="purge_deletion_vectors"):
        generate_symlink_manifest(t)
    purge_deletion_vectors(spark, t)
    assert generate_symlink_manifest(t)


def test_dv_on_table_path_with_space(spark, sf_dir, tmp_path):
    """Round-6 review finding: _metadata.file_path is URI-percent-
    encoded ('my table' → 'my%20table') while the log stores raw
    paths; normalize_path must produce the scan's encoding or the
    anti-join silently misses (read returns deleted rows) and the
    write KeyErrors."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "with space" / "tbl")
    write_delta(n, t, mode="append")
    delete_from_mor(spark, t, "n_nationkey % 5 = 0")
    got = {r.n_nationkey for r in read_delta(spark, t).collect()}
    assert got == {
        r.n_nationkey for r in n.where("n_nationkey % 5 <> 0").collect()
    }


def test_vacuum_never_touches_dv_files(spark, sf_dir, tmp_path):
    """DV'd files are LIVE (their add is current, only rows are dead):
    VACUUM must keep them; after a purge the superseded originals
    become unreferenced and are collectable."""
    from guidewire_spark.sources.writer import vacuum_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "vac_dv")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 3 = 0")
    live = set(load_snapshot(t).files)
    vacuum_table(t, retention_ms=0)
    assert all(os.path.exists(p) for p in live)
    want = read_delta(spark, t).count()

    purge_deletion_vectors(spark, t)
    vacuum_table(t, retention_ms=0)
    # superseded pre-purge files are gone; the table still reads
    assert not all(os.path.exists(p) for p in live)
    assert read_delta(spark, t).count() == want


def test_delete_auto_picks_strategy_by_damage_ratio(spark, sf_dir, tmp_path):
    """Cost-based DELETE: a sparse predicate (few rows of many) routes
    merge-on-read (vectors, no rewrite); a dense one (most rows of the
    touched files) routes copy-on-write (rewrite, no vectors).  Both
    produce the same logical answer as a plain filter."""
    from guidewire_spark.sources.writer import delete_auto

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t1 = str(tmp_path / "auto_sparse")
    write_delta(d, t1, mode="append")
    files_before = set(load_snapshot(t1).files)
    v, strat = delete_auto(spark, t1, "doc_id % 50 = 7")  # ~2% of rows
    assert strat == "mor"
    assert set(load_snapshot(t1).files) == files_before
    assert load_snapshot(t1).deletion_vectors()
    assert read_delta(spark, t1).count() == d.where("doc_id % 50 <> 7").count()

    t2 = str(tmp_path / "auto_dense")
    write_delta(d, t2, mode="append")
    v, strat = delete_auto(spark, t2, "doc_id % 10 <> 3")  # ~90% of rows
    assert strat == "cow"
    assert not load_snapshot(t2).deletion_vectors()
    assert read_delta(spark, t2).count() == d.where("doc_id % 10 = 3").count()


def test_restore_cdf_emits_row_level_diffs_not_whole_files(
    spark, sf_dir, tmp_path
):
    """Round-6 second-review finding: RESTORE's DV-state change must
    read as ROW-LEVEL events in the change feed — resurrected rows as
    inserts, never the whole file re-inserted (which would double
    every untouched row for a CDF consumer)."""
    from guidewire_spark.sources.writer import restore_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "restore_cdf")
    write_delta(s, t, mode="append")                 # v0
    delete_from_mor(spark, t, "s_suppkey % 4 = 0")   # v1: deletes
    v2 = restore_table(t, 0)                         # v2: resurrection
    ch = [
        (r.s_suppkey, r._change_type)
        for r in read_delta_changes(spark, t, from_version=v2 - 1).collect()
    ]
    dead = {r.s_suppkey for r in s.where("s_suppkey % 4 = 0").collect()}
    # ONLY the resurrected rows appear, all as inserts
    assert set(ch) == {(k, "insert") for k in dead}

    # restore BACK to the post-delete version: the same rows re-die
    v3 = restore_table(t, 1)
    ch2 = [
        (r.s_suppkey, r._change_type)
        for r in read_delta_changes(spark, t, from_version=v3 - 1).collect()
    ]
    assert set(ch2) == {(k, "delete") for k in dead}
    # full-feed materialization nets to the v1 state
    assert read_delta(spark, t).count() == s.count() - len(dead)


def test_cow_dml_on_table_path_with_space(spark, sf_dir, tmp_path):
    """The copy-on-write hit-file detection compares the scan's file key
    (URI-encoded) against log paths — with the normalize_path key both
    sides agree on encodable table paths (second-review finding: the
    old raw-realpath compare matched nothing and the DELETE raised)."""
    from guidewire_spark.sources.writer import delete_from, update_table

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "spa ced" / "cow")
    write_delta(n, t, mode="append")
    delete_from(spark, t, "n_nationkey % 5 = 0")
    update_table(spark, t, "n_nationkey = 3", {"n_name": "'PATCHED'"})
    got = {r.n_nationkey: r.n_name for r in read_delta(spark, t).collect()}
    assert set(got) == {
        r.n_nationkey for r in n.where("n_nationkey % 5 <> 0").collect()
    }
    assert got[3] == "PATCHED"


def test_delete_auto_ratio_uses_live_rows_on_vectored_files(
    spark, sf_dir, tmp_path
):
    """Second-review finding: the damage-ratio denominator must count
    LIVE rows (physical numRecords minus DV cardinality).  After a MOR
    delete kills 60%+ of a file, a predicate matching most of the
    REMAINING rows is dense and must route copy-on-write — the
    physical-count ratio would understate it and stack vectors
    forever."""
    from guidewire_spark.sources.writer import delete_auto

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "ratio_live")
    write_delta(n, t, mode="append")
    delete_from_mor(spark, t, "n_nationkey % 5 <> 0")  # kill 80%
    # of the 5 live rows (0,5,10,15,20), delete 4 → 80% of LIVE but
    # only 16% of PHYSICAL: must still route CoW
    _, strat = delete_auto(spark, t, "n_nationkey IN (0, 5, 10, 15)")
    assert strat == "cow"
    assert not load_snapshot(t).deletion_vectors()
    assert {r.n_nationkey for r in read_delta(spark, t).collect()} == {20}


def test_dv_read_guard_routes_large_vectors_off_the_driver(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-6 verdict item 4: above the cardinality guard, the DV
    read path must neither decode vectors on the driver nor broadcast
    them — the plan shuffles the anti-join and the decode runs
    executor-side.  The guard is tightened to 0 so a small table
    exercises the large-vector route, and deleted_rows_frame (the
    driver-side decoder) is spy-wrapped to prove it never runs."""
    from guidewire_spark.sources import dv as dv_mod
    from guidewire_spark.sources import snapshot as snap_mod

    t = str(tmp_path / "guard")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 3 = 1")

    monkeypatch.setattr(dv_mod, "BROADCAST_DV_MAX_ROWS", 0)

    def _boom(*a, **k):
        raise AssertionError(
            "driver-side DV decode ran above the cardinality guard"
        )

    monkeypatch.setattr(dv_mod, "deleted_rows_frame", _boom)
    df = read_delta(spark, t)
    want = {r.s_suppkey for r in s.where("s_suppkey % 3 <> 1").collect()}
    assert {r.s_suppkey for r in df.collect()} == want
    # and the dead side carries NO forced broadcast hint: above the
    # guard the plan must leave the strategy to the optimizer, so a
    # genuinely huge vector shuffles.  (AQE may still convert a
    # measured-small side to broadcast at runtime — desired — so the
    # assertion is on the logical plan's hints, not the final plan.)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UnresolvedHint" not in logical
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    snap = snap_mod.load_snapshot(t)
    dead, small = dv_mod.dead_rows_for_join(spark, snap.deletion_vectors())
    assert not small
    # the decode stage is the Arrow-batched executor-side one
    assert "MapInPandas" in dead._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "op", ["delete_from", "update_table", "replace_where", "delete_auto"]
)
def test_cow_dml_finds_matches_above_a_shuffled_dv_join(
    spark, tmp_path, monkeypatch, op
):
    """Copy-on-write DML over a vectored table whose dead rows are past
    the broadcast guard: the DV anti-join shuffles, and the match pass
    must still name the files holding matches.  A file-name expression
    evaluated above that shuffle reads empty — DELETE then raised
    'matches no rows' and replaceWhere kept every replaced row."""
    from guidewire_spark.sources import dv as dv_mod
    from guidewire_spark.sources import writer

    t = str(tmp_path / "shuffled")
    write_delta(spark.range(1000).repartition(4), t, mode="append")
    delete_from_mor(spark, t, "id % 10 = 0")
    monkeypatch.setattr(dv_mod, "BROADCAST_DV_MAX_ROWS", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        if op == "update_table":
            writer.update_table(spark, t, "id < 500", {"id": "id + 1000"})
        elif op == "replace_where":
            writer.replace_where(spark, t, "id < 500", spark.range(5))
        else:
            getattr(writer, op)(spark, t, "id < 500")
        got = sorted(r.id for r in read_delta(spark, t).collect())
    finally:
        spark.conf.set(key, before)
    kept = [i for i in range(500, 1000) if i % 10]
    hit = [i for i in range(500) if i % 10]
    want = {
        "delete_from": kept,
        "delete_auto": kept,
        "update_table": kept + [i + 1000 for i in hit],
        "replace_where": list(range(5)) + kept,
    }[op]
    assert got == want


def test_dv_distributed_decode_matches_driver_decode(spark):
    """deleted_rows_frame_distributed is value-identical to the
    driver-side decoder, including multi-file and dense-run vectors."""
    from guidewire_spark.sources.dv import (
        deleted_rows_frame,
        deleted_rows_frame_distributed,
        encode_dv,
    )

    dvs = {
        "/tmp/a.parquet": encode_dv(range(0, 5000, 7)),
        "/tmp/b.parquet": encode_dv(list(range(100)) + [10**6, 10**7]),
        "/tmp/c.parquet": encode_dv([3]),
    }
    drv = {tuple(r) for r in deleted_rows_frame(spark, dvs).collect()}
    dist = {
        tuple(r) for r in deleted_rows_frame_distributed(spark, dvs).collect()
    }
    assert drv == dist and len(drv) == len(range(0, 5000, 7)) + 102 + 1


def test_mor_write_path_encodes_executor_side(spark, sf_dir, tmp_path):
    """encode_dead_rows merges with existing vectors per file and its
    descriptors match the sequential merge_dv result."""
    from guidewire_spark.sources.dv import decode_dv

    t = str(tmp_path / "enc")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 5 = 0")
    first = {
        p: set(decode_dv(d)) for p, d in load_snapshot(t).deletion_vectors().items()
    }
    delete_from_mor(spark, t, "s_suppkey % 5 = 1")
    merged = {
        p: set(decode_dv(d)) for p, d in load_snapshot(t).deletion_vectors().items()
    }
    # second pass strictly grows each touched file's vector
    for p, idx in first.items():
        assert idx <= merged[p]
    want = {r.s_suppkey for r in s.where("s_suppkey % 5 >= 2").collect()}
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want


def test_z85_spec_vector_and_roundtrip():
    """The canonical Z85 spec vector (0x864FD26FB559F75B ↔
    'HelloWorld') pins the alphabet and block math to the public
    spec — the encoding Delta's Base85Codec uses."""
    from guidewire_spark.sources.dv import z85_decode, z85_encode

    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld") == raw
    # padding: true length rides the descriptor's sizeInBytes
    assert z85_decode(z85_encode(b"abc"), 3) == b"abc"


def test_roaring_bitmap_array_conformance():
    """Byte-level conformance of the RoaringBitmapArray 'portable'
    serialization: magic, bitmap count, per-bitmap key, 32-bit roaring
    cookie/headers/offsets, array + bitset containers, 64-bit split."""
    import struct

    from guidewire_spark.sources.dv import (
        deserialize_roaring_array,
        serialize_roaring_array,
    )

    vals = [0, 1, 5, 70000, (1 << 33) + 7]
    raw = serialize_roaring_array(vals)
    magic, n_bitmaps = struct.unpack_from("<iq", raw, 0)
    assert magic == 1681511377          # portable-format magic
    assert n_bitmaps == 2               # high-32 keys 0 and 2
    (key0,) = struct.unpack_from("<i", raw, 12)
    assert key0 == 0
    cookie, n_containers = struct.unpack_from("<II", raw, 16)
    assert cookie == 12346              # SERIAL_COOKIE_NO_RUNCONTAINER
    assert n_containers == 2            # low-16 keys 0 and 1 (70000>>16)
    k, card_m1 = struct.unpack_from("<HH", raw, 24)
    assert (k, card_m1) == (0, 2)       # container 0 holds {0,1,5}
    assert sorted(deserialize_roaring_array(raw)) == vals

    # a >4096-cardinality container serializes as an 8 KiB bitset
    dense = list(range(5000))
    raw2 = serialize_roaring_array(dense)
    assert sorted(deserialize_roaring_array(raw2)) == dense
    assert len(raw2) == 12 + 4 + 8 + 4 + 4 + 8192


def test_roaring_dv_flag_end_to_end(spark, sf_dir, tmp_path):
    """MOR deletes write protocol-standard RoaringBitmapArray vectors;
    a second delete merges into them; reads subtract both."""
    import struct

    from guidewire_spark.sources.dv import z85_decode

    def magics(snap):
        return {
            struct.unpack_from(
                "<i", z85_decode(d["pathOrInlineDv"], d["sizeInBytes"]), 0
            )[0]
            for d in snap.deletion_vectors().values()
        }

    t = str(tmp_path / "roaring")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    write_delta(s, t, mode="append")
    delete_from_mor(spark, t, "s_suppkey % 3 = 1")
    snap = load_snapshot(t)
    assert snap.deletion_vectors()
    assert magics(snap) == {1681511377}  # RoaringBitmapArray magic
    delete_from_mor(spark, t, "s_suppkey % 3 = 2")
    snap2 = load_snapshot(t)
    assert magics(snap2) == {1681511377}
    for p, d in snap.deletion_vectors().items():
        assert set(decode_dv(d)) < set(decode_dv(snap2.adds[p]["deletionVector"]))
    want = {r.s_suppkey for r in s.where("s_suppkey % 3 = 0").collect()}
    assert {r.s_suppkey for r in read_delta(spark, t).collect()} == want


@pytest.mark.parametrize(
    "gaps",
    [
        [3, 3, 3],  # rows 3, 7, 11: text length not a multiple of 5
        [0] * 12,  # rows 0..11: valid Z85 text, wrong magic
        list(range(1, 13)),  # text with a character outside Z85
    ],
    ids=["short", "dense", "sparse"],
)
def test_non_roaring_payload_is_rejected(gaps):
    """Roaring is the only payload format: a descriptor carrying the
    old delta-varint + base85 payload (one byte per gap, index minus
    previous minus 1) fails loudly on read and merge."""
    import base64

    raw = bytes(gaps)
    varint = {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(raw).decode("ascii"),
        "sizeInBytes": len(raw),
        "cardinality": len(gaps),
    }
    with pytest.raises(ValueError):
        decode_dv(varint)
    with pytest.raises(ValueError):
        merge_dv(varint, [1])


def test_cardinality_mismatch_raises_on_both_read_routes(spark):
    """A descriptor whose ``cardinality`` disagrees with its payload is
    rejected by the driver-side decode AND the executor-side one."""
    from guidewire_spark.sources.dv import (
        deleted_rows_frame,
        deleted_rows_frame_distributed,
    )

    bad = dict(encode_dv([1, 2, 3]), cardinality=4)
    dvs = {"/tmp/a.parquet": bad}
    with pytest.raises(ValueError, match="cardinality mismatch"):
        deleted_rows_frame(spark, dvs)
    with pytest.raises(Exception, match="cardinality mismatch"):
        deleted_rows_frame_distributed(spark, dvs).collect()


def test_cardinality_mismatch_raises_on_write_encode(spark):
    """encode_dead_rows decodes the existing vector with its descriptor
    fields, so a cardinality mismatch fails the MOR write too."""
    from guidewire_spark.sources.dv import META_FILE, META_ROW, encode_dead_rows

    bad = dict(encode_dv([1, 2, 3]), cardinality=4)
    hits = spark.createDataFrame(
        [("/tmp/a.parquet", 9)], f"{META_FILE} string, {META_ROW} long"
    )
    assert decode_dv(
        encode_dead_rows(spark, hits, {"/tmp/a.parquet": encode_dv([1, 2, 3])})[
            "/tmp/a.parquet"
        ]
    ) == [1, 2, 3, 9]
    with pytest.raises(Exception, match="cardinality mismatch"):
        encode_dead_rows(spark, hits, {"/tmp/a.parquet": bad})
