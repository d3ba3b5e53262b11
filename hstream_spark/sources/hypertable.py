"""Hypertable-style time-partitioned layout + incremental rollups.

The pattern TimescaleDB calls hypertables / continuous aggregates,
re-expressed in Spark's native storage model:

- **Layout**: event data written parquet-partitioned by time chunk
  (``dt=YYYY-MM-DD`` directories). Time-range queries then prune at
  the DIRECTORY level before any file is opened — at 100 TB, a
  one-day query over a year of data reads ~0.3% of the corpus, and
  the pruning shows up in the scan's PartitionFilters.
- **Rollup**: a materialized aggregate maintained INCREMENTALLY — only
  chunks not yet rolled up are aggregated and appended (driver-side
  chunk diff is a directory listing, a metadata op). Re-running the
  maintenance job is idempotent; the rollup table is itself
  chunk-partitioned so downstream queries prune the same way.

Late-arriving data lands in its event-time chunk (append), which makes
the chunk "dirty"; `incremental_rollup(..., refresh=[chunk])` re-rolls
named chunks (delete + recompute) — the same refresh contract as
continuous aggregates.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_COL = "dt"

_GRANULARITY = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH", "month": "yyyy-MM"}


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
    mode: str = "append",
) -> None:
    """Write events chunk-partitioned by event time."""
    fmt = _GRANULARITY[granularity]
    (
        df.withColumn(CHUNK_COL, F.date_format(F.col(ts_col), fmt))
        .write.partitionBy(CHUNK_COL)
        .mode(mode)
        .parquet(path)
    )


def chunks(path: str) -> list[str]:
    """Chunk ids present in a hypertable directory (metadata-only)."""
    if not os.path.isdir(path):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith(f"{CHUNK_COL}=")
    )


def incremental_rollup(
    spark: SparkSession,
    base_path: str,
    rollup_path: str,
    agg: Callable[[DataFrame], DataFrame],
    refresh: Sequence[str] = (),
) -> list[str]:
    """Maintain a chunk-partitioned rollup of a hypertable: aggregate
    ONLY chunks missing from the rollup (plus any explicitly
    ``refresh``-ed dirty chunks, which are recomputed in place).

    ``agg`` maps the chunk-scoped input frame (with its ``dt`` column)
    to the aggregate frame; it must keep ``dt`` in the output (group by
    it). Returns the chunk ids processed. Each maintenance run scans
    only the new/dirty chunks — the cost is proportional to the delta,
    never the table.
    """
    have = set(chunks(rollup_path))
    todo = sorted((set(chunks(base_path)) - have) | set(refresh))
    if not todo:
        return []
    for c in set(refresh) & have:
        shutil.rmtree(os.path.join(rollup_path, f"{CHUNK_COL}={c}"), ignore_errors=True)
    src = spark.read.parquet(base_path).filter(F.col(CHUNK_COL).isin(todo))
    out = agg(src)
    if CHUNK_COL not in out.columns:
        raise ValueError("rollup agg must carry the chunk column (group by dt)")
    out.write.partitionBy(CHUNK_COL).mode("append").parquet(rollup_path)
    return todo
