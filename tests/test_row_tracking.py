"""Row tracking (the public Delta protocol's ``baseRowId`` /
``rowIdHighWaterMark``): stable row identities that survive
merge-on-read DML.  Enabling assigns every live file a base; a row's
stable id is base + its position in the file; appends take fresh ids
above the high-water mark in the SAME commit that adds the files.

Id-preserving rewrites (round 7): REORG PURGE, OPTIMIZE, and MOR
UPDATE carry each row's stable id through the rewrite by
MATERIALIZING it into the new files (the protocol's
materializedRowIdColumnName channel — readers coalesce the physical
column ahead of baseRowId + index).  Copy-on-write DML and MERGE stay
rejected on tracked tables: MOR is the natural DML there, and the
purge path now provides the vector fold-in."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.snapshot import (
    load_snapshot,
    read_delta,
    read_delta_changes,
)
from guidewire_spark.sources.writer import (
    delete_from_mor,
    enable_row_tracking,
    update_table_mor,
    write_delta,
)


def _one_file(df, order_col):
    """Deterministic single staged file: ids become the sorted-order
    row positions, so tests can predict them exactly."""
    return df.repartition(1).sortWithinPartitions(order_col)


def _ids(spark, table):
    return {
        r[0]: r["_row_id"]
        for r in read_delta(spark, table, with_row_ids=True).collect()
    }


def test_enable_assigns_dense_ids_and_is_cdf_silent(spark, sf_dir, tmp_path):
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_enable")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    v = enable_row_tracking(t)
    # metadata-only: no change events fire
    assert read_delta_changes(spark, t, from_version=v - 1).count() == 0
    got = _ids(spark, t)
    n = s.count()
    assert sorted(got.values()) == list(range(n))
    # single sorted file: id == rank position
    keys = sorted(got)
    assert all(got[k] == i for i, k in enumerate(keys))
    with pytest.raises(ValueError, match="already enabled"):
        enable_row_tracking(t)


def test_read_without_tracking_raises(spark, sf_dir, tmp_path):
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    t = str(tmp_path / "rt_untracked")
    write_delta(r, t, mode="append")
    with pytest.raises(ValueError, match="enable_row_tracking"):
        read_delta(spark, t, with_row_ids=True).collect()


def test_append_takes_fresh_ids_above_high_water_mark(spark, sf_dir, tmp_path):
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    odd = s.where("s_suppkey % 2 = 1")
    even = s.where("s_suppkey % 2 = 0")
    t = str(tmp_path / "rt_append")
    write_delta(_one_file(odd, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    write_delta(_one_file(even, "s_suppkey"), t, mode="append")
    after = _ids(spark, t)
    # existing rows keep their ids verbatim
    assert all(after[k] == v for k, v in before.items())
    n1, n2 = odd.count(), even.count()
    new = {k: v for k, v in after.items() if k not in before}
    assert len(new) == n2
    # fresh ids start exactly at the old mark + 1 and are dense
    assert sorted(new.values()) == list(range(n1, n1 + n2))
    # ids are globally unique
    assert len(set(after.values())) == n1 + n2


def test_mor_delete_preserves_survivor_ids(spark, sf_dir, tmp_path):
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_del")
    write_delta(_one_file(n, "n_nationkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    delete_from_mor(spark, t, "n_nationkey % 3 = 1")
    after = _ids(spark, t)
    # dead rows' ids vanish; every survivor keeps its exact id
    assert set(after) == {k for k in before if k % 3 != 1}
    assert all(after[k] == before[k] for k in after)


def test_mor_update_preserves_every_row_id(spark, sf_dir, tmp_path):
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_upd")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    update_table_mor(
        spark, t, "s_suppkey % 4 = 1", {"s_name": "concat(s_name, '!')"}
    )
    after = _ids(spark, t)
    # EVERY row keeps its id across UPDATE — the updated images carry
    # their old ids in the materialized column (Delta's row-tracking
    # contract), untouched rows keep the baseRowId + index default
    assert after == before
    # the new names actually landed
    names = {
        r.s_suppkey: r.s_name for r in read_delta(spark, t).collect()
    }
    touched = {k for k in before if k % 4 == 1}
    assert all(names[k].endswith("!") for k in touched)
    # a second update on already-rewritten rows keeps ids AGAIN
    # (materialized ids survive the next materialization)
    update_table_mor(
        spark, t, "s_suppkey % 4 = 1", {"s_name": "concat(s_name, '?')"}
    )
    assert _ids(spark, t) == before


def test_rewrites_are_rejected_on_tracked_tables(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import (
        delete_from,
        merge_into,
        optimize_table,
        purge_deletion_vectors,
        replace_where,
        update_table,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_guard")
    write_delta(n, t, mode="append")
    enable_row_tracking(t)
    src = n.limit(3)
    for op, call in [
        ("DELETE", lambda: delete_from(spark, t, "n_nationkey = 1")),
        (
            "UPDATE",
            lambda: update_table(
                spark, t, "n_nationkey = 1", {"n_name": "'X'"}
            ),
        ),
        ("MERGE", lambda: merge_into(spark, t, src, on="n_nationkey")),
        (
            "replaceWhere",
            lambda: replace_where(spark, t, "n_nationkey < 3", src),
        ),
    ]:
        with pytest.raises(ValueError, match="row-tracked|row ids"):
            call()
    # OPTIMIZE and REORG PURGE are id-preserving rewrites now — they
    # must NOT raise (purge needs a vector to purge first)
    assert optimize_table is not None and purge_deletion_vectors is not None


def test_delete_auto_forces_mor_on_tracked_tables(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import delete_auto

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t = str(tmp_path / "rt_auto")
    write_delta(d, t, mode="append")
    enable_row_tracking(t)
    # a DENSE predicate (~90%) would route copy-on-write on an
    # untracked table; tracking forces merge-on-read
    _, strat = delete_auto(spark, t, "doc_id % 10 <> 3")
    assert strat == "mor"
    snap = load_snapshot(t)
    assert snap.deletion_vectors()
    assert read_delta(spark, t).count() == d.where("doc_id % 10 = 3").count()


def test_checkpoint_carries_base_row_ids(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_ckpt")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    delete_from_mor(spark, t, "s_suppkey % 6 = 2")
    before = _ids(spark, t)
    write_log_checkpoint(load_snapshot(t))
    snap = load_snapshot(t)
    # seeded from the checkpoint parquet
    assert any("baseRowId" in a for a in snap.adds.values())
    assert _ids(spark, t) == before


def test_restore_restores_base_row_state(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import restore_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_restore")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")   # v0
    enable_row_tracking(t)                                     # v1
    ids_v1 = _ids(spark, t)
    delete_from_mor(spark, t, "s_suppkey % 4 = 0")             # v2
    restore_table(t, 1)                                        # v3
    assert _ids(spark, t) == ids_v1


def test_restore_never_lowers_the_high_water_mark(spark, sf_dir, tmp_path):
    """RESTORE to a version before an append keeps that version's
    configuration but not its lower row-id high-water mark: the next
    append takes ids above every id the table ever issued."""
    from guidewire_spark.sources.writer import _ROW_HWM_KEY, restore_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_restore_mark")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")   # v0
    enable_row_tracking(t)                                     # v1
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")   # v2
    mark = load_snapshot(t).configuration[_ROW_HWM_KEY]
    restore_table(t, 1)                                        # v3
    assert load_snapshot(t).configuration[_ROW_HWM_KEY] == mark
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")   # v4
    ids = [r["_row_id"] for r in read_delta(spark, t, with_row_ids=True).collect()]
    n, top = s.count(), int(mark)
    assert sorted(ids) == list(range(n)) + list(range(top + 1, top + 1 + n))


def test_shallow_clone_keeps_row_ids(spark, sf_dir, tmp_path):
    """A shallow clone of a row-tracked table re-records each file's
    ``baseRowId`` (and the source's protocol): it reads the same row
    ids as its source."""
    from guidewire_spark.sources.writer import shallow_clone

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_clone_src")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    write_delta(_one_file(s.where("s_suppkey % 3 = 0"), "s_suppkey"), t, mode="append")
    dst = str(tmp_path / "rt_clone_dst")
    shallow_clone(t, dst)
    assert load_snapshot(dst).protocol == load_snapshot(t).protocol
    got = sorted(
        tuple(r) for r in read_delta(spark, dst, with_row_ids=True).collect()
    )
    assert got == sorted(
        tuple(r) for r in read_delta(spark, t, with_row_ids=True).collect()
    )


def test_enable_on_vectored_table_skips_dead_ids(spark, sf_dir, tmp_path):
    """Enabling AFTER a MOR delete: bases cover physical rows (the
    protocol's positional identity), so dead rows' ids are allocated
    but never surface — live ids are a strict subset with gaps."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_gaps")
    write_delta(_one_file(n, "n_nationkey"), t, mode="append")
    delete_from_mor(spark, t, "n_nationkey % 5 = 2")
    enable_row_tracking(t)
    got = _ids(spark, t)
    total = n.count()
    dead = n.where("n_nationkey % 5 = 2").count()
    assert len(got) == total - dead
    # ids live in [0, total): physical positions, with dead gaps
    assert all(0 <= v < total for v in got.values())
    assert len(set(got.values())) == len(got)


def test_partitioned_table_row_ids(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t = str(tmp_path / "rt_part")
    write_delta(d, t, mode="append", partition_by=["lang"])
    enable_row_tracking(t)
    got = read_delta(spark, t, with_row_ids=True)
    n = d.count()
    ids = [r._row_id for r in got.select("_row_id").collect()]
    assert sorted(ids) == list(range(n))
    # a partition filter matching nothing keeps the _row_id column,
    # as an empty unpartitioned read does
    empty = read_delta(
        spark, t, with_row_ids=True, partition_filter={"lang": "nope"}
    )
    assert empty.columns == ["doc_id", "lang", "_row_id"]
    assert empty.count() == 0
    delete_from_mor(spark, t, "lang = 'en' AND doc_id % 2 = 0")
    before = {
        r.doc_id: r._row_id
        for r in read_delta(spark, t, with_row_ids=True).collect()
    }
    # survivors across ALL partitions keep their ids
    assert len(before) == d.where(
        "NOT (lang = 'en' AND doc_id % 2 = 0)"
    ).count()
    assert len(set(before.values())) == len(before)


def test_schema_evolution_append_keeps_one_metadata_action(
    spark, sf_dir, tmp_path
):
    """An evolving append on a tracked table must carry the bumped
    high-water mark ON the evolution's metadata action — a second
    metaData would win the replay and clobber the evolved schema."""
    import json as _json
    import os

    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    t = str(tmp_path / "rt_evolve")
    write_delta(_one_file(r, "r_regionkey"), t, mode="append")
    enable_row_tracking(t)
    evolved = _one_file(
        r.withColumn("r_flag", F.lit(1)), "r_regionkey"
    )
    v = write_delta(evolved, t, mode="append", merge_schema=True)
    metas = []
    with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as fh:
        for line in fh:
            a = _json.loads(line)
            if "metaData" in a:
                metas.append(a["metaData"])
    assert len(metas) == 1
    assert "r_flag" in metas[0]["schemaString"]
    assert "rowIdHighWaterMark" in _json.dumps(
        metas[0].get("configuration", {})
    )
    snap = load_snapshot(t)
    assert "r_flag" in snap.schema.fieldNames()
    ids = [
        x._row_id
        for x in read_delta(spark, t, with_row_ids=True)
        .select("_row_id")
        .collect()
    ]
    # both copies are live: 2N rows, all ids distinct and dense
    assert sorted(ids) == list(range(2 * r.count()))


def test_purge_preserves_ids_on_tracked_tables(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import purge_deletion_vectors

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_purge")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    delete_from_mor(spark, t, "s_suppkey % 3 = 1")
    purge_deletion_vectors(spark, t)
    snap = load_snapshot(t)
    # vectors folded in, survivors keep their EXACT stable ids
    assert not snap.deletion_vectors()
    after = _ids(spark, t)
    assert after == {k: v for k, v in before.items() if k % 3 != 1}
    # purge stays dataChange=false: the change feed is silent
    changes = read_delta_changes(
        spark, t, from_version=snap.version, to_version=snap.version
    )
    assert changes.count() == 0
    # a second MOR delete + purge cycle keeps preserving
    delete_from_mor(spark, t, "s_suppkey % 3 = 2")
    purge_deletion_vectors(spark, t)
    assert _ids(spark, t) == {
        k: v for k, v in before.items() if k % 3 == 0
    }


def test_optimize_preserves_ids_on_tracked_tables(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.writer import optimize_table

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_opt")
    # three appends → three files → something to compact
    for m in range(3):
        part = n.where(f"n_nationkey % 3 = {m}")
        write_delta(_one_file(part, "n_nationkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    v = optimize_table(spark, t, target_files=1)
    snap = load_snapshot(t)
    assert snap.version == v and len(snap.files) == 1
    # compaction moved every row to a new file; ids are unchanged
    assert _ids(spark, t) == before
    # and MOR DML keeps working on the compacted, materialized file
    delete_from_mor(spark, t, "n_nationkey = 0")
    after = _ids(spark, t)
    assert after == {k: v for k, v in before.items() if k != 0}


def test_materialized_ids_survive_log_checkpoint(spark, sf_dir, tmp_path):
    from guidewire_spark.sources.log_checkpoint import write_log_checkpoint
    from guidewire_spark.sources.writer import purge_deletion_vectors

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_ckpt_mat")
    write_delta(_one_file(n, "n_nationkey"), t, mode="append")
    enable_row_tracking(t)
    before = _ids(spark, t)
    delete_from_mor(spark, t, "n_nationkey % 5 = 0")
    purge_deletion_vectors(spark, t)
    snap = load_snapshot(t)
    write_log_checkpoint(snap)
    # config (incl. the materialized-column name) must survive the
    # checkpoint seed — else post-checkpoint readers lose the coalesce
    reloaded = load_snapshot(t)
    from guidewire_spark.sources.snapshot import MATERIALIZED_ROW_ID_KEY

    assert MATERIALIZED_ROW_ID_KEY in reloaded.configuration
    assert _ids(spark, t) == {
        k: v for k, v in before.items() if k % 5 != 0
    }


def test_cdf_with_row_ids_correlates_update_pairs(spark, sf_dir, tmp_path):
    """CDF with stable ids: a MOR UPDATE's delete/insert pair carries
    the SAME _row_id on both sides, MOR-delete events carry the dead
    rows' ids, and appends take fresh ids — the replay-dedup contract
    for incremental consumers."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = str(tmp_path / "rt_cdf")
    write_delta(_one_file(s, "s_suppkey"), t, mode="append")
    enable_row_tracking(t)
    ids = _ids(spark, t)
    delete_from_mor(spark, t, "s_suppkey % 4 = 0")            # v2
    update_table_mor(                                          # v3
        spark, t, "s_suppkey % 4 = 1", {"s_name": "upper(s_name)"}
    )
    ch = read_delta_changes(spark, t, from_version=1, with_row_ids=True)
    rows = [
        (r.s_suppkey, r._change_type, r._commit_version, r._row_id)
        for r in ch.collect()
    ]
    v2 = {(k, c, rid) for k, c, v, rid in rows if v == 2}
    assert v2 == {
        (k, "delete", ids[k]) for k in ids if k % 4 == 0
    }
    v3_del = {(k, rid) for k, c, v, rid in rows if v == 3 and c == "delete"}
    v3_ins = {(k, rid) for k, c, v, rid in rows if v == 3 and c == "insert"}
    want = {(k, ids[k]) for k in ids if k % 4 == 1}
    assert v3_del == want and v3_ins == want   # same id both sides
    # untracked table: asking for ids fails loudly
    t2 = str(tmp_path / "untracked")
    write_delta(s, t2, mode="append")
    delete_from_mor(spark, t2, "s_suppkey % 2 = 0")
    with pytest.raises(ValueError, match="baseRowId"):
        read_delta_changes(
            spark, t2, from_version=0, with_row_ids=True
        ).collect()


def test_id_preserving_rewrites_on_partitioned_and_zordered_tables(
    spark, sf_dir, tmp_path
):
    """The materialized-row-id path must survive the two rewrite
    shapes the simple tests skip: hive-partitioned purge (grouped
    scans + partition-literal columns) and OPTIMIZE ZORDER (the mat
    column rides the cluster reshuffle)."""
    from guidewire_spark.sources.writer import (
        optimize_table,
        purge_deletion_vectors,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = str(tmp_path / "rt_part")
    write_delta(
        d.repartition(1).sortWithinPartitions("doc_id"),
        t,
        mode="append",
        partition_by=["lang"],
    )
    enable_row_tracking(t)
    before = _ids(spark, t)
    delete_from_mor(spark, t, "doc_id % 3 = 0")
    purge_deletion_vectors(spark, t)            # partitioned + tracked
    after = _ids(spark, t)
    assert after == {k: v for k, v in before.items() if k % 3 != 0}

    t2 = str(tmp_path / "rt_zorder")
    write_delta(d.repartition(3), t2, mode="append")
    enable_row_tracking(t2)
    before2 = _ids(spark, t2)
    optimize_table(spark, t2, target_files=4, zorder_by=["n_chars"])
    assert _ids(spark, t2) == before2           # reshuffled, ids intact


def test_identity_append_on_tracked_table_takes_fresh_row_ids(
    spark, sf_dir, tmp_path
):
    """``append_with_identity`` stages through the same path as every
    other write: on a row-tracked table its files take ``baseRowId``s
    above the high-water mark, and the mark moves in the append's own
    commit, next to the identity mark."""
    import json as _json
    import os

    from guidewire_spark.sources.writer import (
        append_with_identity,
        create_identity_table,
    )

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = str(tmp_path / "rt_ident")
    create_identity_table(n.where("n_nationkey < 10"), t, "id")
    enable_row_tracking(t)
    before = load_snapshot(t)
    mark = int(before.configuration["delta.rowTracking.rowIdHighWaterMark"])
    assert mark == 9

    v = append_with_identity(n.where("n_nationkey >= 10"), t)

    snap = load_snapshot(t)
    assert all("baseRowId" in snap.adds[p] for p in snap.files)
    new = [p for p in snap.files if p not in before.files]
    assert new
    assert min(snap.adds[p]["baseRowId"] for p in new) == mark + 1
    with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as fh:
        metas = [
            a["metaData"] for a in map(_json.loads, fh) if "metaData" in a
        ]
    assert len(metas) == 1
    config = metas[0]["configuration"]
    assert config["delta.rowTracking.rowIdHighWaterMark"] == str(mark + 15)
    assert _json.loads(config["delta.identity.id"])["highWaterMark"] >= 25
    ids = _ids(spark, t)
    assert len(ids) == 25
    assert sorted(ids.values()) == list(range(25))

    update_table_mor(spark, t, "n_nationkey = 12", {"n_name": "'X'"})
    assert _ids(spark, t) == ids
