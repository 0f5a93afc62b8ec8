"""Incrementally maintained materialized aggregates (sources/matview.py):
every refresh must land the view on exactly the state a full re-aggregate
of the base would produce — across appends, deletes, and updates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.matview import (
    create_materialized_aggregate,
    read_materialized_aggregate,
    refresh_materialized_aggregate,
    view_state,
)
from guidewire_spark.sources.snapshot import read_delta
from guidewire_spark.sources.writer import delete_from, update_table, write_delta


def _full_expected(spark, base):
    return {
        (r.s_nationkey, r.view_count, round(r.sum_acctbal, 2))
        for r in read_delta(spark, base)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("view_count"),
            F.round(F.sum("acctbal"), 2).alias("sum_acctbal"),
        )
        .collect()
    }


def _view_rows(spark, view):
    return {
        (r.s_nationkey, r.view_count, round(r.sum_acctbal, 2))
        for r in read_materialized_aggregate(spark, view).collect()
    }


def test_incremental_refresh_matches_full_aggregate(spark, sf_dir, tmp_path):
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["s_nationkey"], sum_cols=["acctbal"]
    )
    assert _view_rows(spark, view) == _full_expected(spark, base)

    # append → refresh
    extra = s.limit(4).select(
        (F.col("s_suppkey") + 1000).alias("s_suppkey"),
        (F.col("s_nationkey") + 50).alias("s_nationkey"),  # brand-new groups
        F.lit(10.0).alias("acctbal"),
    )
    write_delta(extra, base, mode="append")
    refresh_materialized_aggregate(spark, base, view)
    assert _view_rows(spark, view) == _full_expected(spark, base)

    # delete (removes the new groups entirely → zero-count rows drop)
    delete_from(spark, base, "s_nationkey >= 50")
    refresh_materialized_aggregate(spark, base, view)
    got = _view_rows(spark, view)
    assert got == _full_expected(spark, base)
    assert not any(k >= 50 for k, _, _ in got)

    # update (delete+insert in the feed → net move between sums)
    any_key = next(iter(got))[0]
    update_table(
        spark, base, f"s_nationkey = {any_key}", {"acctbal": "acctbal + 5"}
    )
    refresh_materialized_aggregate(spark, base, view)
    assert _view_rows(spark, view) == _full_expected(spark, base)

    # idempotent no-op refresh
    v = view_state(view)["base_version"]
    assert refresh_materialized_aggregate(spark, base, view) == v
    assert _view_rows(spark, view) == _full_expected(spark, base)


def test_view_state_guard(spark, sf_dir, tmp_path):
    t = str(tmp_path / "plain")
    write_delta(load_table(spark, sf_dir, "region"), t, mode="append")
    with pytest.raises(ValueError, match="not a materialized view"):
        view_state(t)


def test_minmax_hybrid_maintenance(spark, sf_dir, tmp_path):
    """MIN/MAX view columns: inserts fold monotonically; deleting a
    group's current extreme triggers the affected-group recompute and
    the view still equals a full re-aggregate."""
    from guidewire_spark.sources.matview import create_materialized_aggregate

    base = str(tmp_path / "mm_base")
    view = str(tmp_path / "mm_view")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    write_delta(s, base, mode="append")
    create_materialized_aggregate(
        spark, base, view,
        group_cols=["s_nationkey"], sum_cols=["acctbal"], minmax_cols=["acctbal"],
    )

    def full():
        return {
            (r.s_nationkey, r.view_count, round(r.sum_acctbal, 2),
             r.min_acctbal, r.max_acctbal)
            for r in read_delta(spark, base)
            .groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("view_count"),
                F.round(F.sum("acctbal"), 2).alias("sum_acctbal"),
                F.min("acctbal").alias("min_acctbal"),
                F.max("acctbal").alias("max_acctbal"),
            )
            .collect()
        }

    def got():
        return {
            (r.s_nationkey, r.view_count, round(r.sum_acctbal, 2),
             r.min_acctbal, r.max_acctbal)
            for r in read_materialized_aggregate(spark, view).collect()
        }

    assert got() == full()

    # insert a new global max into one group: monotonic fold path
    key = read_delta(spark, base).select("s_nationkey").first()[0]
    write_delta(
        spark.createDataFrame(
            [(888888, key, 999999.0)], schema=read_delta(spark, base).schema
        ),
        base, mode="append",
    )
    refresh_materialized_aggregate(spark, base, view)
    assert got() == full()

    # delete that max again: the group's extreme must shrink back via
    # the affected-group recompute (pure insert-folding cannot do this)
    delete_from(spark, base, "s_suppkey = 888888")
    refresh_materialized_aggregate(spark, base, view)
    assert got() == full()
    assert all(mx < 999999.0 for *_, mx in got())

    # update the minimum of a group upward: delete+insert in the feed
    row = min(
        read_delta(spark, base).collect(), key=lambda r: r.acctbal
    )
    update_table(
        spark, base, f"s_suppkey = {row.s_suppkey}", {"acctbal": "acctbal + 100000"}
    )
    refresh_materialized_aggregate(spark, base, view)
    assert got() == full()


# ---------------------------------------------------------------------------
# Property-based: any sequence of appends / deletes / updates must leave the
# incrementally refreshed view identical to a full re-aggregate of the base.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_op = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 4), st.integers(1, 500)),
    st.tuples(st.just("delete"), st.integers(0, 4), st.just(0)),
    st.tuples(st.just("update"), st.integers(0, 4), st.integers(1, 500)),
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_op, min_size=1, max_size=4))
def test_matview_equals_full_aggregate_under_random_ops(
    request, tmp_path_factory, ops
):
    from guidewire_spark.sources.matview import create_materialized_aggregate
    from guidewire_spark.sources.writer import delete_from, update_table

    spark = request.getfixturevalue("spark")
    tmp = tmp_path_factory.mktemp("mvprop")
    base, view = str(tmp / "b"), str(tmp / "v")
    rows = [(i, i % 5, float(10 + i)) for i in range(20)]
    schema = "rid long, grp long, val double"
    write_delta(spark.createDataFrame(rows, schema), base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["grp"], sum_cols=["val"], minmax_cols=["val"]
    )
    next_rid = 1000
    for op, grp, val in ops:
        try:
            if op == "append":
                write_delta(
                    spark.createDataFrame(
                        [(next_rid, grp, float(val))], schema
                    ),
                    base,
                    mode="append",
                )
                next_rid += 1
            elif op == "delete":
                delete_from(spark, base, f"grp = {grp}")
            else:
                update_table(
                    spark, base, f"grp = {grp}", {"val": f"val + {val}"}
                )
        except ValueError:
            continue  # predicate matched no rows — base unchanged
        refresh_materialized_aggregate(spark, base, view)
        expected = {
            (r.grp, r.view_count, round(r.sum_val, 4), r.min_val, r.max_val)
            for r in read_delta(spark, base)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("view_count"),
                F.round(F.sum("val"), 4).alias("sum_val"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            )
            .collect()
        }
        got = {
            (r.grp, r.view_count, round(r.sum_val, 4), r.min_val, r.max_val)
            for r in read_materialized_aggregate(spark, view).collect()
        }
        assert got == expected, f"diverged after {op} grp={grp}"


def test_matview_over_partitioned_base_grouped_by_partition_col(
    spark, sf_dir, tmp_path
):
    """Regression: the base table is partitioned ON the group column.
    The CDF must rematerialize partitionValues (hive files don't store
    the column), else every refresh aggregates NULL groups and silently
    corrupts the view."""
    base = str(tmp_path / "pbase")
    view = str(tmp_path / "pview")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_nationkey") % 3).cast("long").alias("bucket"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    write_delta(s, base, mode="append", partition_by=["bucket"])
    create_materialized_aggregate(
        spark, base, view, group_cols=["bucket"], sum_cols=["acctbal"]
    )

    def full():
        return {
            (r.bucket, r.view_count, round(r.sum_acctbal, 2))
            for r in read_delta(spark, base)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("view_count"),
                F.round(F.sum("acctbal"), 2).alias("sum_acctbal"),
            )
            .collect()
        }

    def got():
        return {
            (r.bucket, r.view_count, round(r.sum_acctbal, 2))
            for r in read_materialized_aggregate(spark, view).collect()
        }

    assert got() == full()
    assert not any(b is None for b, _, _ in got())

    # append into one partition, then refresh from the CDF
    extra = s.limit(5).withColumn("acctbal", F.lit(7.0))
    write_delta(extra, base, mode="append")
    refresh_materialized_aggregate(spark, base, view)
    assert got() == full()

    # delete across partitions → signed CDF rows must carry bucket
    delete_from(spark, base, "s_suppkey % 4 = 0")
    refresh_materialized_aggregate(spark, base, view)
    assert got() == full()
    assert not any(b is None for b, _, _ in got())


def test_variance_components_exact_under_delete_reinsert(spark, sf_dir, tmp_path):
    """The exactness claim behind var_cols: decimal components cancel
    digit-for-digit when rows are deleted and re-inserted, and the
    maintained components equal a from-scratch re-aggregate after a
    mixed append + delete history."""
    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    write_delta(s, base, mode="append")
    create_materialized_aggregate(
        spark, base, view,
        group_cols=["s_nationkey"], sum_cols=[], var_cols=["s_acctbal"],
    )
    before = {
        r["s_nationkey"]: (r["view_count"], r["vsum_s_acctbal"], r["vssq_s_acctbal"])
        for r in read_delta(spark, view).collect()
    }
    # delete a slice, refresh, re-insert the identical rows, refresh:
    # the view must return to the EXACT original components
    victims = s.where(F.col("s_suppkey") % 5 == 0)
    delete_from(spark, base, "s_suppkey % 5 = 0")
    refresh_materialized_aggregate(spark, base, view)
    write_delta(victims, base, mode="append")
    refresh_materialized_aggregate(spark, base, view)
    after = {
        r["s_nationkey"]: (r["view_count"], r["vsum_s_acctbal"], r["vssq_s_acctbal"])
        for r in read_delta(spark, view).collect()
    }
    assert after == before

    # and the components equal a from-scratch rebuild
    view2 = str(tmp_path / "v2")
    create_materialized_aggregate(
        spark, base, view2,
        group_cols=["s_nationkey"], sum_cols=[], var_cols=["s_acctbal"],
    )
    fresh = {
        r["s_nationkey"]: (r["view_count"], r["vsum_s_acctbal"], r["vssq_s_acctbal"])
        for r in read_delta(spark, view2).collect()
    }
    assert after == fresh

    # derived variance agrees with Spark's var_samp to float tolerance
    got = {
        r["s_nationkey"]: r["var_s_acctbal"]
        for r in read_materialized_aggregate(spark, view).collect()
    }
    exp = {
        r["s_nationkey"]: r["v"]
        for r in read_delta(spark, base)
        .groupBy("s_nationkey")
        .agg(F.var_samp("s_acctbal").alias("v"))
        .collect()
    }
    for k, v in exp.items():
        if v is None or (isinstance(v, float) and v != v):
            assert got[k] is None  # n=1 groups: no sample variance
        else:
            assert abs(got[k] - v) < 1e-4, (k, got[k], v)


def test_legacy_view_without_var_cols_still_refreshes(spark, sf_dir, tmp_path):
    base, view = str(tmp_path / "lb"), str(tmp_path / "lv")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    write_delta(n, base, mode="append")
    create_materialized_aggregate(
        spark, base, view, group_cols=["n_regionkey"], sum_cols=["n_nationkey"]
    )
    # simulate a pre-var_cols state payload (no "var_cols" key)
    import json as _json

    from guidewire_spark.sources.matview import _STATE_KEY
    from guidewire_spark.sources.writer import (
        set_table_properties,
        table_configuration,
    )

    raw = _json.loads(table_configuration(view)[_STATE_KEY])
    raw.pop("var_cols", None)
    set_table_properties(view, {_STATE_KEY: _json.dumps(raw)})
    write_delta(n.limit(3), base, mode="append")
    refresh_materialized_aggregate(spark, base, view)
    assert read_delta(spark, view).count() > 0


def _crash_on_commit(monkeypatch, after: int) -> None:
    """From now on, every ``write_commit`` after the first ``after``
    raises before writing, as a process killed at that point would:
    every module-level binding of it in the package is replaced."""
    import sys

    from guidewire_spark.sources import deltalog

    real = deltalog.write_commit
    done = []

    def crashing(base, actions):
        if len(done) >= after:
            raise RuntimeError("simulated crash before the commit")
        done.append(base.version + 1)
        return real(base, actions=actions)

    for name, mod in list(sys.modules.items()):
        if name.startswith("guidewire_spark") and mod is not None:
            for attr, value in list(vars(mod).items()):
                if value is real:
                    monkeypatch.setattr(mod, attr, crashing)


def _crash_on_staging(monkeypatch) -> None:
    from guidewire_spark.sources import writer

    def crashing(*args, **kwargs):
        raise RuntimeError("simulated crash while staging")

    monkeypatch.setattr(writer, "_stage_files", crashing)


def _nation_base(spark, sf_dir, base):
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_nationkey").cast("double").alias("x")
    )
    write_delta(n, base, mode="append")
    return n


def _rows(spark, view):
    return sorted(
        (r.n_regionkey, r.view_count, r.sum_x)
        for r in read_delta(spark, view).collect()
    )


@pytest.mark.parametrize("crash", ["staging", "first commit", "second commit"])
def test_refresh_crash_then_rerun_equals_fresh_create(
    spark, sf_dir, tmp_path, monkeypatch, crash
):
    """A refresh that dies before, between or after writing its commits
    and is re-run lands the view on exactly what a fresh create over
    the final base holds: rows and base-version pin commit together."""
    from guidewire_spark.sources.writer import table_history

    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    n = _nation_base(spark, sf_dir, base)
    create_materialized_aggregate(
        spark, base, view, group_cols=["n_regionkey"], sum_cols=["x"]
    )
    write_delta(n.where("n_nationkey < 3"), base, mode="append")

    with monkeypatch.context() as m:
        if crash == "staging":
            _crash_on_staging(m)
        else:
            _crash_on_commit(m, after=0 if crash == "first commit" else 1)
        try:
            refresh_materialized_aggregate(spark, base, view)
        except RuntimeError:
            pass
    pinned = refresh_materialized_aggregate(spark, base, view)

    fresh = str(tmp_path / "fresh")
    assert create_materialized_aggregate(
        spark, base, fresh, group_cols=["n_regionkey"], sum_cols=["x"]
    ) == pinned
    assert _rows(spark, view) == _rows(spark, fresh)
    assert view_state(view)["base_version"] == pinned
    # one commit per create and one per refresh
    assert [h["operation"] for h in table_history(view)] == [
        "REFRESH MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW",
    ]


@pytest.mark.parametrize("crash", ["staging", "first commit", "second commit"])
def test_create_crash_then_rerun_holds_no_duplicate_rows(
    spark, sf_dir, tmp_path, monkeypatch, crash
):
    """A create that dies and is re-run commits its rows once: a view
    whose rows landed without their pin would be re-created on top of
    them."""
    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    _nation_base(spark, sf_dir, base)

    def create():
        return create_materialized_aggregate(
            spark, base, view, group_cols=["n_regionkey"], sum_cols=["x"]
        )

    with monkeypatch.context() as m:
        if crash == "staging":
            _crash_on_staging(m)
        else:
            _crash_on_commit(m, after=0 if crash == "first commit" else 1)
        try:
            create()
            crashed = False
        except RuntimeError:
            crashed = True
    if crashed:
        create()
    rows = _rows(spark, view)
    assert [k for k, _, _ in rows] == [0, 1, 2, 3, 4]
    assert sum(c for _, c, _ in rows) == 25
    assert sum(x for _, _, x in rows) == float(sum(range(25)))


@pytest.mark.parametrize("rule", ["check constraint", "append-only"])
def test_refresh_honours_the_view_table_rules(spark, sf_dir, tmp_path, rule):
    """A refresh rewrites the view like any overwrite: a view given a
    CHECK constraint the new rows break, or set append-only, refuses
    the refresh and commits nothing."""
    from guidewire_spark.sources.writer import (
        add_check_constraint,
        set_table_properties,
        table_history,
    )

    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    n = _nation_base(spark, sf_dir, base)
    create_materialized_aggregate(
        spark, base, view, group_cols=["n_regionkey"], sum_cols=["x"]
    )
    if rule == "check constraint":
        add_check_constraint(spark, view, "small_groups", "view_count <= 5")
        match = "CHECK constraint violation"
    else:
        set_table_properties(view, {"delta.appendOnly": "true"})
        match = "append-only"
    before = _rows(spark, view)
    pinned = view_state(view)["base_version"]
    commits = len(table_history(view))
    write_delta(n.where("n_nationkey < 3"), base, mode="append")

    with pytest.raises(ValueError, match=match):
        refresh_materialized_aggregate(spark, base, view)
    assert len(table_history(view)) == commits
    assert view_state(view)["base_version"] == pinned
    assert _rows(spark, view) == before
