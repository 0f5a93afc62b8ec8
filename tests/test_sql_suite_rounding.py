"""Revenue rounding in the TPC-H-shaped SQL queries agrees with the
DuckDB oracle when a sum of doubles lands on a half cent.

``ROUND(double, 2)`` differs between the engines at a half boundary:
Spark rounds the shortest decimal rendering (1.005 → 1.01), DuckDB the
exact binary value (1.00499999… → 1.00). Both sides therefore round
through ``DECIMAL(18,4)``. The rows here are made so each revenue sum
is such a boundary (1.0 + 0.005 and 1.0 + 0.015)."""

from __future__ import annotations

import os
import sys
from datetime import datetime
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from guidewire_spark.operators.sql_suite import (
    sql_q3_shipping_priority,
    sql_q5_local_supplier_volume,
    sql_q10_returned_items,
)
from guidewire_spark.plans.catalog import _REGISTERED, TABLES, register_views
from guidewire_spark.registry import all_queries

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracles import canon_frame, frame_hash  # noqa: E402

HAND_MADE = {
    # two BUILDING customers in two ASIA nations (2 and 7)
    "customer": pa.table(
        {
            "c_custkey": pa.array([1, 2], pa.int64()),
            "c_name": ["Customer#1", "Customer#2"],
            "c_nationkey": pa.array([2, 7], pa.int32()),
            "c_acctbal": [10.0, 20.0],
            "c_mktsegment": ["BUILDING", "BUILDING"],
        }
    ),
    "supplier": pa.table(
        {
            "s_suppkey": pa.array([1, 2], pa.int64()),
            "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": pa.array([2, 7], pa.int32()),
            "s_acctbal": [1.0, 2.0],
        }
    ),
    # dated inside every query's window
    "orders": pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([1, 2], pa.int64()),
            "o_orderstatus": ["O", "O"],
            "o_totalprice": [1.005, 1.015],
            "o_orderdate": pa.array(
                [datetime(1997, 3, 1), datetime(1997, 3, 2)], pa.timestamp("us")
            ),
            "o_orderpriority": ["1-URGENT", "2-HIGH"],
        }
    ),
    # revenue per order: 1.0 + 0.005 and 1.0 + 0.015, returned, shipped late
    "lineitem": pa.table(
        {
            "l_orderkey": pa.array([1, 1, 2, 2], pa.int64()),
            "l_partkey": pa.array([1, 2, 1, 2], pa.int64()),
            "l_suppkey": pa.array([1, 1, 2, 2], pa.int64()),
            "l_linenumber": pa.array([1, 2, 1, 2], pa.int32()),
            "l_quantity": [1.0, 1.0, 1.0, 1.0],
            "l_extendedprice": [1.0, 0.005, 1.0, 0.015],
            "l_discount": [0.0, 0.0, 0.0, 0.0],
            "l_tax": [0.0, 0.0, 0.0, 0.0],
            "l_returnflag": ["R", "R", "R", "R"],
            "l_linestatus": ["F", "F", "F", "F"],
            "l_shipdate": pa.array([datetime(1998, 4, 1)] * 4, pa.timestamp("us")),
        }
    ),
}


@pytest.fixture
def half_cent_dir(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    for name in TABLES:
        if name in HAND_MADE:
            pq.write_table(HAND_MADE[name], f"{d}/{name}.parquet")
        else:
            os.symlink(f"{sf_dir}/{name}.parquet", f"{d}/{name}.parquet")
    yield d
    # the temp views are session-wide: point them back at sf_dir
    _REGISTERED.discard((id(spark), sf_dir))
    register_views(spark, sf_dir)


@pytest.mark.parametrize(
    "fn",
    [
        sql_q3_shipping_priority,
        sql_q5_local_supplier_volume,
        sql_q10_returned_items,
    ],
)
def test_half_cent_revenue_matches_oracle(spark, half_cent_dir, fn):
    got = fn(spark, half_cent_dir).toPandas()
    assert sorted(got["revenue"]) == [1.01, 1.02]  # half cents round up

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{half_cent_dir}/{name}.parquet')"
        )
    oracle = con.execute(all_queries()[fn.__name__].oracle).df()
    assert frame_hash(canon_frame(got)) == frame_hash(canon_frame(oracle))
