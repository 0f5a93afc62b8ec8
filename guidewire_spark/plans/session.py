"""SparkSession construction tuned for the engine.

Scale posture: these defaults are chosen for a real multi-executor
cluster and merely *also* work on local[N]:

* AQE on — runtime re-planning (partition coalescing, skew-join
  splitting, dynamic broadcast) is the main defense when static stats
  are absent (the connector's generated tables carry no file stats,
  mirroring the reference's ``AddFile(stats=null)`` — see
  ``/root/reference`` S3Access.scala:45).
* ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
  semantics; the DuckDB oracle compares in UTC.
* Arrow on — every Python-side operator in this engine is an
  Arrow-batched pandas UDF, never a row-at-a-time UDF (except where a
  query exists specifically to cover the scalar-UDF API surface).
* ``spark.sql.sources.parallelPartitionDiscovery.threshold`` at its
  maximum — every file scan lists on the driver, never in a Spark
  job. ``snapshot.scan_live_files`` (every ``read_delta``, writer
  rewrite and DML match pass, ``read_delta_changes`` and the
  ``bloom``/``joins`` reads) and bloom's sidecar build all hand
  ``spark.read.parquet`` an explicit path list resolved from the
  Delta log. Above the default threshold (32 paths)
  ``InMemoryFileIndex`` starts a job with one task per path just to
  stat files whose paths and sizes the log already holds. Measured
  on 4 cores: building a 38–47-file ``read_delta`` frame 233–306 →
  32–43 ms (one listing job gone;
  builds under 32 files are unchanged), and the benchmark's
  ``cda_sync`` read-back 0.735 → 0.529 s per round (median of 10
  pairs, see PERF.md).
  The bound, stated honestly: driver listing is serial stat calls,
  about 1 ms per file on local disk. On an object store a 10⁴-file
  snapshot would pay 10⁴ sequential requests. Lifting that needs a
  log-backed ``FileIndex`` in the JVM (paths and sizes straight from
  the snapshot), which this engine does not have. Seeding Spark's
  ``InMemoryFileIndex``/``FileStatusCache`` from Python instead was
  measured slower (about 3 ms of py4j per file). A vanilla session
  keeps Spark's default and stays correct, only slower.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "guidewire-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (4.1, default off): our
        # Python sources implement pushFilters correctly (folder-level
        # pruning in streaming/cda_source.py), and an engine whose
        # sources prune on metadata wants the planner to hand them the
        # predicates
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # list log-resolved path lists on the driver (module docstring)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "2147483647",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # The driver's events table stores TIMESTAMP(NANOS) parquet, which
        # Spark rejects by default; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
