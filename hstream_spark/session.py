"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM); production target is a
multi-executor cluster reading ~100 TB. Every config here is chosen to
be correct on both:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast decisions replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is a *starting* parallelism; AQE
  coalesces down for small inputs and the big-data path sizes up via
  ``HSTREAM_SPARK_SHUFFLE_PARTITIONS``.
- Session timezone pinned to UTC so event-time semantics (and the
  DuckDB oracle used in tests) are stable regardless of host TZ.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get(
        "HSTREAM_SPARK_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # pandas/pyarrow-written parquet uses TIMESTAMP(NANOS); read as long
    # and normalize in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # native TIME (time-of-day) type — Spark 4.1's TimeType, gated off
    # by default; the reference SQL dialect has a first-class TIME
    # (hstream-sql/src/HStream/SQL/AST.hs:84 RTypeTime)
    "spark.sql.timeType.enabled": "true",
    # INT96 (the legacy default) carries NO row-group statistics and no
    # predicate pushdown; micros-typed timestamps give both — view-state
    # retention reads its event-time high-water mark from footer stats
    # driver-side, and windowed scans can prune on window bounds
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.spill.compress": "true",
    # streaming checkpoints (offsets/commits logs, file-source logs,
    # state-store files) rename through Hadoop's FileSystem instead of
    # its FileContext: the engine's data_root is a local POSIX
    # directory (every engine write already relies on os.rename/
    # os.replace), where FileSystem.rename is the same atomic rename(2)
    # — and, without libhadoop, FileContext resolves each rename by
    # forking `readlink` (four forks per checkpoint file). A session
    # default, not a per-query one: the file source builds its
    # sources/0/ log with the caller's session.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("HSTREAM_SPARK_DRIVER_MEM", "16g"),
}


def get_spark(app_name: str = "hstream_spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``master`` honors ``SPARK_GRAFT_CPUS`` (driver contract) and falls
    back to ``local[*]``; on a real cluster the master comes from
    spark-submit and this builder only contributes configs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("HSTREAM_SPARK_MASTER", f"local[{cpus or '*'}]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for key, value in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
