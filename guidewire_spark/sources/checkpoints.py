"""Checkpoint table (reference parity: P12/P13).

``{database_path}/_checkpoints`` is itself a Delta table — rows
``(tableName, processedSchema, processedTimestamp, processedFiles)``
(``Guidewire.scala:248-262``). Unlike the shallow-cloned data tables,
its parquet files are physically written (pyarrow; tiny metadata).
``high_water_marks`` reduces a snapshot of it to the per-table
high-water mark ``max(processedTimestamp)``
(``Guidewire.scala:264-282``) — the incremental predicate feeding the
commit filter.  ``index()`` loads that snapshot once and commits its
``save_checkpoints`` on it.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from guidewire_spark.sources.deltalog import (
    add_action,
    commit_info_action,
    metadata_action,
    protocol_action,
    remove_action,
    write_commit,
)
from guidewire_spark.sources.snapshot import load_snapshot_or_empty

CHECKPOINTS_TABLE = "_checkpoints"

CHECKPOINT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("tableName", T.StringType(), True),
        T.StructField("processedSchema", T.StringType(), True),
        T.StructField("processedTimestamp", T.LongType(), True),
        T.StructField("processedFiles", T.IntegerType(), True),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("tableName", pa.string()),
        ("processedSchema", pa.string()),
        ("processedTimestamp", pa.int64()),
        ("processedFiles", pa.int32()),
    ]
)


def checkpoints_path(database_path: str) -> str:
    return os.path.join(database_path, CHECKPOINTS_TABLE)


def save_checkpoints(results: dict[str, list], base, save_mode: str = "append") -> None:
    """Flatten per-table BatchResults into one Delta commit
    (``Guidewire.scala:248-262``) on ``base``, the snapshot of the
    checkpoint table the caller read its high-water marks from."""
    rows = [
        (table_name, r.schema_id, r.commit_timestamp, r.num_files)
        for table_name, batch_results in results.items()
        for r in batch_results
    ]
    if not rows:
        return
    table_path = base.table_path
    os.makedirs(table_path, exist_ok=True)
    data_file = os.path.join(table_path, f"part-{uuid.uuid4()}.snappy.parquet")
    arrow_table = pa.table(
        {
            "tableName": [r[0] for r in rows],
            "processedSchema": [r[1] for r in rows],
            "processedTimestamp": [int(r[2]) for r in rows],
            "processedFiles": [int(r[3]) for r in rows],
        },
        schema=_ARROW_SCHEMA,
    )
    pq.write_table(arrow_table, data_file, compression="snappy")
    size = os.path.getsize(data_file)
    mtime = int(os.path.getmtime(data_file) * 1000)

    now = int(time.time() * 1000)
    actions: list[dict] = []
    if base.version < 0:
        actions.append(protocol_action())
        actions.append(metadata_action(CHECKPOINT_SPARK_SCHEMA, created_time=now))
        mode, blind = "Overwrite", False
    elif save_mode == "overwrite":
        actions.extend(remove_action(p, now) for p in base.files)
        mode, blind = "Overwrite", False
    else:
        mode, blind = "Append", True
    actions.append(add_action(data_file, size, mtime))
    actions.append(commit_info_action("WRITE", mode, actions, now, blind=blind))
    write_commit(base, actions=actions)


def load_checkpoints(database_path: str) -> dict[str, int]:
    """Per-table max(processedTimestamp), or {} when the checkpoint
    table does not exist yet (``Guidewire.scala:264-277``)."""
    return high_water_marks(load_snapshot_or_empty(checkpoints_path(database_path)))


def high_water_marks(snap) -> dict[str, int]:
    """Per-table max(processedTimestamp) of a checkpoint-table snapshot."""
    high_water: dict[str, int] = {}
    for data_file in snap.files:
        tbl = pq.read_table(data_file, columns=["tableName", "processedTimestamp"])
        for name, ts in zip(
            tbl.column("tableName").to_pylist(),
            tbl.column("processedTimestamp").to_pylist(),
        ):
            if ts is not None and ts > high_water.get(name, -1):
                high_water[name] = ts
    return high_water
