"""Parquet table loading with nanosecond-timestamp normalization.

The driver's testdata (and pandas/pyarrow-written parquet in general)
stores timestamps as INT64 TIMESTAMP(NANOS), which Spark's vectorized
parquet reader rejects outright ([PARQUET_TYPE_ILLEGAL]). We read those
columns as raw nanos (``spark.sql.legacy.parquet.nanosAsLong`` — set in
session defaults) and rewrite them to TimestampType (microsecond
precision) in the scan projection — a codegen'd cast, no Python in the
path, column pruning/pushdown unaffected for the remaining columns.

Column detection uses the parquet footer (pyarrow, driver-side, O(1))
rather than data sampling.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns per the parquet footer."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return ()
        target = parts[0]
    schema = pq.read_schema(target)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return tuple(out)


def _has_nested_ntz(dtype) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampNTZType

    if isinstance(dtype, TimestampNTZType):
        return True
    if isinstance(dtype, StructType):
        return any(_has_nested_ntz(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return _has_nested_ntz(dtype.elementType)
    if isinstance(dtype, MapType):
        return _has_nested_ntz(dtype.keyType) or _has_nested_ntz(dtype.valueType)
    return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with timestamps normalized."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nanos_columns(path):
        # integer division: `/` would be DOUBLE division, which loses
        # sub-microsecond exactness at 2024-epoch nanos (~1.7e18 > 2^53)
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # timestamp[us] with no timezone reads as TIMESTAMP_NTZ, which
    # unix_micros / watermarks reject. The cast below is only
    # epoch-preserving when the session tz is UTC (pinned in
    # session.py); fail loudly rather than silently shifting epochs.
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz not in ("UTC", "Etc/UTC", "GMT"):
                raise ValueError(
                    f"load_table requires spark.sql.session.timeZone=UTC to cast "
                    f"TIMESTAMP_NTZ column {field.name!r} epoch-preservingly; "
                    f"session has {tz!r} (use hstream_spark.get_spark)"
                )
            # backticks: a literal dot in the column name must not
            # resolve as struct-field access
            df = df.withColumn(
                field.name, F.col(f"`{field.name}`").cast("timestamp")
            )
        elif _has_nested_ntz(field.dataType):
            # none of the testdata nests timestamps; if that changes the
            # rewrite must recurse (transform/withField) — fail loudly
            raise NotImplementedError(
                f"column {field.name!r} nests TIMESTAMP_NTZ; nested "
                "normalization is not implemented"
            )
    return df


def spread(df):
    """Repartition a small-file input for CPU-heavy per-row operators
    to the session's default parallelism.

    A tiny parquet file arrives as ONE partition (row groups don't
    split), so md5/fold-heavy projections (MinHash, SimHash,
    fingerprinting) serialize on a single core. At real corpus scale
    inputs span many files and this is a no-op. Apply directly to a
    fresh scan (the input-file count is the parallelism proxy); frames
    that were already repartitioned upstream don't need it.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # file count as the parallelism proxy: metadata-only (~ms), whereas
    # df.rdd.getNumPartitions() converts the plan to an RDD (~0.9s of
    # driver time per fresh DataFrame)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)
