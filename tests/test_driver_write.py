"""Driver-side writes (``HStreamEngine._write_rows``): a frame Spark
estimates under ``_DRIVER_ARROW_MAX_BYTES`` whose every type is in
``_DRIVER_WRITE_TYPES`` is collected with ``toArrow()`` and written as
one pyarrow part. Read back, it must hold exactly the rows Spark's own
parquet write stores, bit for bit in its floats; past the cap, or with
a type outside the set, Spark's write runs."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hstream_spark.streaming import runtime as R
from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

# quiet NaNs whose payloads differ from the canonical NaN Spark stores
_NAN2 = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
_NAN3 = struct.unpack("<d", struct.pack("<Q", 0xFFF8000000000123))[0]
_T0 = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)

# every leaf of _DRIVER_WRITE_TYPES, and each nesting kind
_SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("i8", T.ByteType()),
    T.StructField("i16", T.ShortType()),
    T.StructField("n", T.LongType()),
    T.StructField("f4", T.FloatType()),
    T.StructField("f", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("d", T.DecimalType(12, 3)),
    T.StructField("dl", T.DecimalType(38, 10)),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("a", T.ArrayType(T.DoubleType())),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("as", T.ArrayType(T.StringType())),
    ])),
])
_FLOAT_COLS = ("f4", "f", "a", "m", "st")


def _row(k, f, s, a, m, st):
    t = _T0 + dt.timedelta(seconds=k * 3601, microseconds=k)
    return (k, k % 2 == 0, k % 128, -k, k * (1 << 40), f, f, s,
            s.encode() if s is not None else None,
            decimal.Decimal(k) / 8, decimal.Decimal(k * 10**20 + 1) / 10**10,
            dt.date(1900 + k, 1 + k % 12, 1), t,
            t.replace(tzinfo=None), a, m, st)


_ROWS = [
    _row(1, _NAN2, "é", [1.0, _NAN3, None], {"日本": _NAN2, "x": -0.0},
         (_NAN3, _T0, ["a", None])),
    _row(2, -0.0, "日本語", [], {}, (-0.0, None, [])),
    _row(3, math.nan, "😀 emoji", None, None, None),
    _row(4, None, None, [-0.0], {"n": None}, (None, None, None)),
    _row(5, 1.5e308, "tab\tnew\nline", [math.inf, -math.inf],
         {"inf": math.inf},
         (2.5, _T0 - dt.timedelta(days=9000), ["q\"uote"])),
    (6,) + (None,) * (len(_SCHEMA) - 1),
]


def _frame(spark):
    """The rows as a plan Spark sizes, as it sizes a stream's batch, with
    their NaN payloads intact (``createDataFrame`` of Python rows is an
    RDD Spark cannot size, so it would take the Spark write)."""
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(_SCHEMA.names, r)) for r in _ROWS],
        schema=to_arrow_schema(_SCHEMA))

    def rows(batches):
        for _ in batches:
            pass
        yield batch

    return spark.range(1, numPartitions=1).mapInArrow(rows, _SCHEMA)


def _parts(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _comparable(df):
    """Spark's set operations take no map column: compare its sorted
    entries."""
    return df.withColumn("m", F.array_sort(F.map_entries("m")))


def _float_bits(v):
    """Every float leaf of a Python value as its raw bit pattern."""
    if isinstance(v, float):
        return struct.pack("<d", v).hex()
    if isinstance(v, dict):
        return {k: _float_bits(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_float_bits(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_float_bits(x) for x in v)
    return v


def _stored_bits(path):
    """The float columns as the parquet files store them, by key."""
    t = pq.read_table(path).sort_by("k").to_pylist()
    return {r["k"]: {c: _float_bits(r[c]) for c in _FLOAT_COLS} for r in t}


def _assert_parity(spark, driver_dir, spark_dir):
    """The driver-written dir is one pyarrow part with no commit files;
    under the schema it holds the Spark-written dir's rows, and its
    floats carry the same bits."""
    assert len(_parts(driver_dir)) == 1
    assert set(os.listdir(driver_dir)) == set(_parts(driver_dir))
    assert "_SUCCESS" in os.listdir(spark_dir)
    got = _comparable(spark.read.schema(_SCHEMA).parquet(driver_dir))
    want = _comparable(spark.read.schema(_SCHEMA).parquet(spark_dir))
    assert got.count() == want.count() == len(_ROWS)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    bits = _stored_bits(driver_dir)
    assert bits == _stored_bits(spark_dir)
    # NaN canonical, nested ones too; -0.0 kept
    canon, neg0 = struct.pack("<d", math.nan).hex(), struct.pack("<d", -0.0).hex()
    assert bits[1]["f"] == bits[1]["f4"] == bits[3]["f"] == canon
    assert bits[1]["a"][1] == dict(bits[1]["m"])["日本"] == canon
    assert bits[1]["st"]["x"] == canon
    assert bits[2]["f"] == bits[2]["st"]["x"] == bits[4]["a"][0] == neg0
    assert dict(bits[1]["m"])["x"] == neg0


def _sink(tmp_path, name):
    path = str(tmp_path / name)
    os.makedirs(path)
    return path, HStreamEngine._idempotent_sink(
        str(tmp_path / f"{name}_ck"), path)


def test_sink_page_matches_spark_write(spark, tmp_path, monkeypatch):
    """A CSAS sink page written from the driver holds the rows and float
    bits of the Spark-written page; a replayed epoch lands once."""
    driver_dir, driver_sink = _sink(tmp_path, "driver")
    spark_dir, spark_sink = _sink(tmp_path, "spark")
    driver_sink(_frame(spark), 0)
    driver_sink(_frame(spark), 0)  # replay: the marker skips it
    monkeypatch.setattr(HStreamEngine, "_DRIVER_ARROW_MAX_BYTES", 0)
    spark_sink(_frame(spark), 0)
    _assert_parity(spark, driver_dir, spark_dir)


def test_view_delta_matches_spark_write(spark, tmp_path, monkeypatch):
    """The same frame as a view delta: the driver-written ``v0_d1`` holds
    what the Spark-written one does."""
    dirs = {}
    for cap in (None, 0):
        if cap is not None:
            monkeypatch.setattr(HStreamEngine, "_DRIVER_ARROW_MAX_BYTES", cap)
        vi = ViewInfo("dw", "", None, str(tmp_path / f"dw_{cap}"), _SCHEMA,
                      ("k",))
        HStreamEngine._view_upsert(vi, _frame(spark).filter("k = 6"))
        HStreamEngine._view_upsert(vi, _frame(spark))
        assert HStreamEngine._view_layout(vi.state_dir) == (0, [1])
        assert vi.delta_rows_cache["v0_d1"] == len(_ROWS)
        dirs[cap] = os.path.join(vi.state_dir, "v0_d1")
    _assert_parity(spark, dirs[None], dirs[0])


def test_spark_write_past_cap_or_type_set(spark, tmp_path, monkeypatch):
    """Types outside the set and frames past the cap take Spark's write;
    an empty frame writes no part from the driver."""
    assert not R._driver_writable(T.StructType([
        T.StructField("t", T.ArrayType(T.TimeType()))]))
    for t in (T.TimeType(), T.DayTimeIntervalType(), T.YearMonthIntervalType(),
              T.CalendarIntervalType(), T.NullType(), T.VariantType(),
              T.MapType(T.StringType(), T.TimeType())):
        assert not R._driver_writable(t), t
    assert R._driver_writable(_SCHEMA)

    timed = spark.range(1).selectExpr("id", "CAST('01:02:03' AS TIME) AS t")
    assert (timed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            <= HStreamEngine._DRIVER_ARROW_MAX_BYTES)
    HStreamEngine._write_rows(timed, str(tmp_path / "time"))
    assert "_SUCCESS" in os.listdir(tmp_path / "time")

    HStreamEngine._write_rows(_frame(spark).filter("k < 0"),
                              str(tmp_path / "empty"))
    assert os.listdir(tmp_path / "empty") == []

    monkeypatch.setattr(HStreamEngine, "_DRIVER_ARROW_MAX_BYTES", 0)
    HStreamEngine._write_rows(_frame(spark), str(tmp_path / "capped"))
    assert "_SUCCESS" in os.listdir(tmp_path / "capped")


def test_crash_between_page_write_and_rename(spark, tmp_path, monkeypatch):
    """A failure after the temp write and before the rename leaves no
    file and no epoch marker; the replayed epoch then lands once."""
    path, sink = _sink(tmp_path, "crash")

    class Crash(Exception):
        pass

    def hook(point):
        if point == "append-written":
            raise Crash(point)

    monkeypatch.setattr(R, "_FAULT_HOOK", hook)
    with pytest.raises(Crash):
        sink(_frame(spark), 0)
    monkeypatch.setattr(R, "_FAULT_HOOK", None)
    assert os.listdir(path) == []
    assert not os.path.exists(tmp_path / "crash_ck" / "_sink_epoch")
    sink(_frame(spark), 0)
    sink(_frame(spark), 0)
    assert len(_parts(path)) == 1
    assert spark.read.schema(_SCHEMA).parquet(path).count() == len(_ROWS)
