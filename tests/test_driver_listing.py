"""Log-resolved scans list on the driver: building a ``read_delta``
frame over more files than Spark's default parallel-listing threshold
(32 paths) starts no Spark job.

The session sets ``spark.sql.sources.parallelPartitionDiscovery.threshold``
to its maximum (``plans/session.py``). Without it ``InMemoryFileIndex``
stats the log's explicit path list in a Spark job with one task per
path, once per ``spark.read.parquet`` call, while the DataFrame is
still being built. Each case here builds over 40 files (or two
40-file partition groups) and must run 0 jobs, then return the
expected rows."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from guidewire_spark.sources.indexer import index
from guidewire_spark.sources.snapshot import load_snapshot, read_delta
from guidewire_spark.sources.writer import (
    delete_from_mor,
    enable_row_tracking,
    write_delta,
)

N_FILES = 40  # above Spark's default threshold of 32 paths
N_ROWS = 400


def _build_jobs(spark, group, build):
    """(result of ``build()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _keys(df):
    return sorted(r.k for r in df.select("k").collect())


def _staged(spark):
    """N_FILES input partitions of consecutive keys, so every file
    holds both parities."""
    return spark.range(0, N_ROWS, 1, N_FILES).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )


def test_read_delta_plain_builds_without_jobs(spark, tmp_path):
    t = str(tmp_path / "plain")
    write_delta(_staged(spark), t)
    assert len(load_snapshot(t).files) == N_FILES
    df, jobs = _build_jobs(spark, "listing-plain", lambda: read_delta(spark, t))
    assert jobs == 0
    assert _keys(df) == list(range(N_ROWS))


def test_read_delta_deletion_vectors_build_without_jobs(spark, tmp_path):
    """Every file carries a vector, so the whole table goes through
    ``dv.scan_with_row_index``."""
    t = str(tmp_path / "dv")
    write_delta(_staged(spark), t)
    delete_from_mor(spark, t, "k % 2 = 0")
    assert len(load_snapshot(t).deletion_vectors()) == N_FILES
    df, jobs = _build_jobs(spark, "listing-dv", lambda: read_delta(spark, t))
    assert jobs == 0
    assert _keys(df) == list(range(1, N_ROWS, 2))


def test_read_delta_partitioned_builds_without_jobs(spark, tmp_path):
    """Two partition groups of 40 files each: one scan per group."""
    t = str(tmp_path / "part")
    write_delta(_staged(spark), t, partition_by=["p"])
    snap = load_snapshot(t)
    for value in ("0", "1"):
        group = [f for f in snap.files if snap.adds[f]["partitionValues"]["p"] == value]
        assert len(group) == N_FILES
    df, jobs = _build_jobs(spark, "listing-part", lambda: read_delta(spark, t))
    assert jobs == 0
    assert _keys(df) == list(range(N_ROWS))
    assert df.where("p = '1'").count() == N_ROWS // 2


def test_read_delta_row_ids_build_without_jobs(spark, tmp_path):
    t = str(tmp_path / "rowids")
    write_delta(_staged(spark), t)
    enable_row_tracking(t)
    df, jobs = _build_jobs(
        spark, "listing-rowids", lambda: read_delta(spark, t, with_row_ids=True)
    )
    assert jobs == 0
    rows = df.select("k", "_row_id").collect()
    assert sorted(r.k for r in rows) == list(range(N_ROWS))
    assert sorted(r._row_id for r in rows) == list(range(N_ROWS))


def test_index_and_read_back_run_no_jobs(spark, tmp_path):
    """A CDA tree whose one table holds 40 files (two commit folders
    of 20): ``index()`` is driver-side metadata work, and the
    read-back of the 40-file snapshot builds without a job."""
    root = tmp_path / "source" / "claims"
    fp, t1, t2 = "301248659", 1680350543000, 1680535502000
    k = 0
    for ts in (t1, t2):
        folder = root / fp / str(ts)
        folder.mkdir(parents=True)
        for i in range(N_FILES // 2):
            pq.write_table(
                pa.table({"k": pa.array([k, k + 1], pa.int64())}),
                str(folder / f"part-{i:05d}-c000.snappy.parquet"),
            )
            k += 2
    manifest = tmp_path / "manifest.json"
    manifest.write_text(
        json.dumps(
            {
                "claims": {
                    "lastSuccessfulWriteTimestamp": str(t2),
                    "totalProcessedRecordsCount": k,
                    "dataFilesPath": str(root),
                    "schemaHistory": {fp: str(t2)},
                }
            }
        )
    )
    db = str(tmp_path / "db")
    table = os.path.join(db, "claims")

    _, index_jobs = _build_jobs(
        spark, "listing-index", lambda: index(str(manifest), db, "overwrite")
    )
    assert index_jobs == 0
    assert len(load_snapshot(table).files) == N_FILES
    df, jobs = _build_jobs(spark, "listing-readback", lambda: read_delta(spark, table))
    assert jobs == 0
    assert _keys(df) == list(range(k))
