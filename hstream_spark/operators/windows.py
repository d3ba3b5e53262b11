"""Time-window operators: TUMBLE / HOP / SESSION.

Reference semantics: windows attach to FROM and hoist onto GROUP BY
(hstream-sql/src/HStream/SQL/AST.hs:682-689); assignment arithmetic at
hstream-processing/src/HStream/Processing/Stream/TimeWindows.hs:34-48
(tumbling/hopping) and SessionWindowedStream.hs:93-138 (gap merge).

Spark mapping is the native `F.window` / `F.session_window` — these are
Catalyst expressions that expand windows *before* the shuffle, so the
aggregation is an ordinary hash-agg on (window, keys) with map-side
combine. Hopping multiplies rows by ceil(size/advance) at the map side
only; session windows use Spark's built-in session state merge.

Works identically on batch DataFrames (testing, backfill) and streaming
DataFrames (continuous queries, add `.withWatermark` upstream —
reference grace is a fixed 24h, TimeWindows.hs:39,47; ours defaults to
that but is configurable).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GRACE = "24 hours"  # TimeWindows.hs:39,47 — fixed 24h in the reference


def tumble(
    df: DataFrame,
    ts: str | Column,
    size: str,
    keys: Sequence[str | Column] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """TUMBLE(stream, INTERVAL size) + GROUP BY keys."""
    group = [F.window(ts, size).alias("window"), *keys]
    return df.groupBy(*group).agg(*aggs)


def hop(
    df: DataFrame,
    ts: str | Column,
    size: str,
    advance: str,
    keys: Sequence[str | Column] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """HOP(stream, INTERVAL size, INTERVAL advance) — record lands in
    ceil(size/advance) windows (TimeWindowedStream.hs:116-128)."""
    group = [F.window(ts, size, advance).alias("window"), *keys]
    return df.groupBy(*group).agg(*aggs)


def session(
    df: DataFrame,
    ts: str | Column,
    gap: str,
    keys: Sequence[str | Column] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """SESSION(stream, INTERVAL gap) — gap-merged sessions per key
    (SessionWindowedStream.hs:93-138)."""
    group = [F.session_window(ts, gap).alias("window"), *keys]
    return df.groupBy(*group).agg(*aggs)


def sliding(
    df: DataFrame,
    ts: str | Column,
    size_seconds: int,
    keys: Sequence[str] = (),
    aggs: Mapping[str, Column] = {},
) -> DataFrame:
    """SLIDING(stream, INTERVAL size) — V2-engine window
    (hstream-sql/etc/SQL-v2.cf:119; execution semantics at
    hstream/src/HStream/Server/Handler/Common.hs:97-105: a record enters
    the aggregate at its event time and retracts ``size`` later, so the
    value observed at any instant T covers records with ts in
    (T - size, T]).

    Batch/one-shot equivalent: for EVERY input row, the aggregate over
    the trailing ``size`` interval of its group — a range-frame window
    function, not a groupBy. One row in, one row out (the V2 update
    stream sampled at event arrivals).

    Scale: Spark executes this as a single shuffle on ``keys`` followed
    by an in-partition sort + running frame — state is bounded by the
    frame, no per-row self-join. Skewed groups sort within one
    partition; at 100 TB pre-bucket by key or sub-window first.

    Frame arithmetic is integer microseconds (no double rounding at
    boundaries); the frame is (t - size, t] — inclusive of the current
    instant, exclusive at the trailing edge, matching the reference's
    retraction at exactly t + size.
    """
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    us = F.unix_micros(ts_col)
    size_us = size_seconds * 1_000_000
    spec = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(us)
        .rangeBetween(-(size_us - 1), 0)
    )
    out = df
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(spec))
    return out
