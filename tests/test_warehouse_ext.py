"""Quality gates for warehouse_ext: idempotent-write protocol
behavior at the writer level (retry is a no-op commit-wise, not just
row-wise), bootstrap CI sanity against the CLT interval, and HHI
bounds."""

from __future__ import annotations

import math
import tempfile

from pyspark.sql import functions as F

from guidewire_spark.operators.warehouse_ext import (
    agg_herfindahl_index,
    agg_poisson_bootstrap_ci,
)
from guidewire_spark.plans.catalog import load_table
from guidewire_spark.sources.deltalog import last_version
from guidewire_spark.sources.snapshot import load_snapshot, read_delta
from guidewire_spark.sources.writer import write_delta


def test_idempotent_write_retry_is_noop(spark, sf_dir):
    table = tempfile.mkdtemp(prefix="gw_txn_t_") + "/t"
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    write_delta(r, table, mode="append")
    v1 = write_delta(r, table, mode="append", txn_app_id="app", txn_version=7)
    # retry at the same app version: no new commit, no new rows
    v2 = write_delta(r, table, mode="append", txn_app_id="app", txn_version=7)
    assert v2 == v1
    assert last_version(table) == v1
    assert read_delta(spark, table).count() == 2 * r.count()
    # an OLDER app version is also a replay: still a no-op
    v3 = write_delta(r, table, mode="append", txn_app_id="app", txn_version=3)
    assert v3 == v1
    # a NEW app version commits; a different app is independent
    v4 = write_delta(r, table, mode="append", txn_app_id="app", txn_version=8)
    assert v4 == v1 + 1
    v5 = write_delta(r, table, mode="append", txn_app_id="other", txn_version=1)
    assert v5 == v4 + 1
    txns = load_snapshot(table).txns
    assert txns.get("app") == 8
    assert txns.get("other") == 1
    assert txns.get("absent") is None


def test_bootstrap_ci_brackets_clt_interval(spark, sf_dir):
    row = agg_poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.mean("o_totalprice").alias("m"), F.stddev("o_totalprice").alias("s")
    ).collect()[0]
    se = stats["s"] / math.sqrt(row["n"])
    assert row["ci_lo"] < row["mean_est"] < row["ci_hi"]
    # bootstrap CI width should be within 2x of the CLT interval
    clt_width = 2 * 1.96 * se
    width = row["ci_hi"] - row["ci_lo"]
    assert 0.5 * clt_width < width < 2 * clt_width


def test_hhi_bounds_and_cr4(spark, sf_dir):
    got = agg_herfindahl_index(spark, sf_dir).toPandas()
    # HHI in (1/n, 1]; CR4 within [HHI-ish floor, 1]
    assert ((got["hhi"] > 0) & (got["hhi"] <= 1.0)).all()
    assert ((got["cr4"] >= 0) & (got["cr4"] <= 1.0)).all()
    # with n customers, min possible HHI is 1/n (equal shares)
    assert (got["hhi"] >= 1.0 / got["n_customers"] - 1e-6).all()


def test_replace_where_contract(spark, sf_dir):
    from guidewire_spark.sources.writer import replace_where
    import pytest as _pytest

    table = tempfile.mkdtemp(prefix="gw_rw_t_") + "/t"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_delta(d, table, mode="append")
    # incoming rows OUTSIDE the predicate must be rejected
    bad = d.where(F.col("lang") != "en")
    with _pytest.raises(ValueError, match="violate"):
        replace_where(spark, table, "lang = 'en'", bad)
    # valid replacement: one commit, region swapped, rest untouched
    v = replace_where(
        spark, table, "lang = 'en'",
        d.where(F.col("lang") == "en").limit(3),
    )
    assert v == 1  # exactly one commit after the initial write
    out = read_delta(spark, table)
    assert out.where(F.col("lang") == "en").count() == 3
    assert (
        out.where(F.col("lang") != "en").count()
        == d.where(F.col("lang") != "en").count()
    )
