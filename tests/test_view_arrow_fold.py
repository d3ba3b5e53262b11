"""Driver-side view fold: below ``_DRIVER_ARROW_MAX_BYTES`` the
pyarrow merge must write exactly the rows the Spark fold writes
(``_retained`` over ``_view_state_frame``) and run no Spark job; above
it the fold stays on the Spark plan."""

from __future__ import annotations

import dataclasses
import datetime as dt
import decimal
import math
import os
import shutil
import struct

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

# a quiet NaN whose payload differs from the one Python's float("nan")
# carries: Arrow's hash grouping would tell the two apart
_NAN2 = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
_T0 = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)


@pytest.fixture(autouse=True)
def _no_cadence_folds(monkeypatch):
    """The state is laid down by ``_view_upsert`` one batch per
    generation slot; each test runs the fold itself."""
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_EVERY", 10**6)
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_MAX_DELTAS", 10**6)


def _lay_state(spark, vi, batches):
    """Base from the first batch, one delta per later batch, all
    written through Spark; returns (base, delta indexes)."""
    for rows in batches:
        HStreamEngine._view_upsert(vi, spark.createDataFrame(rows, vi.schema))
    return HStreamEngine._view_layout(vi.state_dir)


def _copy(vi, dst):
    shutil.copytree(vi.state_dir, dst)
    return dataclasses.replace(vi, state_dir=str(dst), delta_rows_cache={},
                               delta_bytes_cache={})


def _fold_jobs(spark, vi, base, ks, group):
    """Run the fold under a fresh job group; the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "view fold")
    try:
        HStreamEngine._view_fold(spark, vi, base, ks)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_fold_parity(spark, vi, tmp_path, monkeypatch, name):
    """Fold one copy of the state in the driver and another on the
    Spark plan (cap 0); both new bases read back under ``vi.schema``
    hold exactly the rows ``_view_state_frame`` serves before the fold,
    after retention."""
    base, ks = HStreamEngine._view_layout(vi.state_dir)
    assert base == 0 and ks, "the fold needs a base and deltas"
    ref = _copy(vi, tmp_path / f"{name}_ref")
    spark_vi = _copy(vi, tmp_path / f"{name}_spark")
    want = HStreamEngine._retained(
        ref, HStreamEngine._view_state_frame(spark, ref)
    )

    assert HStreamEngine._arrow_foldable(vi, base, ks)
    assert _fold_jobs(spark, vi, base, ks, f"arrow-fold-{name}") == []

    monkeypatch.setattr(HStreamEngine, "_DRIVER_ARROW_MAX_BYTES", 0)
    assert not HStreamEngine._arrow_foldable(spark_vi, base, ks)
    assert _fold_jobs(spark, spark_vi, base, ks, f"spark-fold-{name}") != []
    monkeypatch.undo()

    n = want.count()
    for folded in (vi, spark_vi):
        assert HStreamEngine._view_layout(folded.state_dir) == (base + 1, [])
        got = spark.read.schema(vi.schema).parquet(
            os.path.join(folded.state_dir, f"v{base + 1}")
        )
        assert got.count() == n == folded.delta_rows_cache[f"v{base + 1}"]
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    return want.collect()


_KEYED = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("f", T.DoubleType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("d", T.DecimalType(12, 3)),
    T.StructField("a", T.ArrayType(T.LongType())),
    T.StructField("n", T.LongType()),
])


def _kv(k, f, n):
    return (k, f, _T0 + dt.timedelta(seconds=n),
            decimal.Decimal(n) / 8, [n, -n], n)


def test_arrow_fold_matches_spark_fold_keyed(spark, tmp_path, monkeypatch):
    """Keyed latest-wins over a NULL key, NaN and -0.0 float keys and
    non-ASCII strings, with timestamp, decimal and array values: the
    newest version of each key wins on both paths, and -0.0/0.0 and
    two NaN payloads are one key each, as in Spark."""
    vi = ViewInfo("kf", "", None, str(tmp_path / "kf"), _KEYED,
                  ("k", "f"))
    base, _ = _lay_state(spark, vi, [
        [_kv(None, 1.0, 1), _kv("é", -0.0, 2), _kv("日本", _NAN2, 3),
         _kv("x", 2.0, 4), _kv("y", None, 5), _kv("😀", 7.5, 6)],
        [_kv(None, 1.0, 11), _kv("é", 0.0, 12), _kv("z", 3.0, 13)],
        [_kv("日本", math.nan, 23), _kv("y", None, 25), _kv("é", 0.0, 22)],
        [_kv("w", -0.0, 31), _kv("x", 2.0, 34)],
    ])
    # the state as Spark stored it: -0.0 kept (the fold must group it
    # with 0.0), the odd NaN payload stored as the canonical NaN (the
    # fold may group NaN keys by bits)
    stored = pq.read_table(os.path.join(vi.state_dir, f"v{base}")).to_pydict()
    bits = {k: struct.pack("<d", f)
            for k, f in zip(stored["k"], stored["f"]) if f is not None}
    assert bits["é"] == struct.pack("<d", -0.0)
    assert bits["日本"] == struct.pack("<d", math.nan)
    rows = _assert_fold_parity(spark, vi, tmp_path, monkeypatch, "keyed")
    got = {(r["k"], "nan" if r["f"] != r["f"] else r["f"]): r["n"] for r in rows}
    assert got == {(None, 1.0): 11, ("é", 0.0): 22, ("日本", "nan"): 23,
                   ("x", 2.0): 34, ("y", None): 25, ("😀", 7.5): 6,
                   ("z", 3.0): 13, ("w", 0.0): 31}


def test_arrow_fold_matches_spark_fold_keyless(spark, tmp_path, monkeypatch):
    """A keyless view's newest delta is its state."""
    schema = T.StructType([T.StructField("n", T.LongType()),
                           T.StructField("s", T.StringType())])
    vi = ViewInfo("nl", "", None, str(tmp_path / "nl"), schema, ())
    _lay_state(spark, vi, [[(1, "a"), (2, "b")], [(3, "ç")], [(4, "d"), (5, None)]])
    rows = _assert_fold_parity(spark, vi, tmp_path, monkeypatch, "keyless")
    assert sorted((r["n"], r["s"]) for r in rows) == [(4, "d"), (5, None)]


def test_arrow_fold_matches_spark_fold_retention(spark, tmp_path, monkeypatch):
    """WITH (DURATION …): rows whose window closed before the cutoff
    go, a NULL window_end stays."""
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ])
    vi = ViewInfo("rt", "", None, str(tmp_path / "rt"), schema,
                  ("window_start", "window_end", "k"), retention_secs=30.0)

    def w(k, i, n):
        return (k, _T0 + dt.timedelta(seconds=10 * i),
                _T0 + dt.timedelta(seconds=10 * i + 10), n)

    _lay_state(spark, vi, [
        [w("a", 0, 1), w("b", 0, 1), w("a", 1, 1), ("n", None, None, 9)],
        [w("a", 1, 2), w("a", 2, 1)],
        [w("b", 5, 1), w("a", 3, 4)],
    ])
    rows = _assert_fold_parity(spark, vi, tmp_path, monkeypatch, "retention")
    # high-water 60 s; cutoff 30 s keeps windows ending at 30 s and later
    kept = sorted((r["k"], r["window_end"].timestamp() - _T0.timestamp(),
                   r["n"]) for r in rows if r["k"] != "n")
    assert kept == [("a", 30.0, 1), ("a", 40.0, 4), ("b", 60.0, 1)]
    assert [r["n"] for r in rows if r["k"] == "n"] == [9]


def test_session_and_nested_keys_stay_on_spark(tmp_path):
    """SESSION (overlap) views and list-keyed views never take the
    driver fold, whatever their size."""
    schema = T.StructType([T.StructField("a", T.ArrayType(T.LongType())),
                           T.StructField("n", T.LongType())])
    nested = ViewInfo("na", "", None, str(tmp_path), schema, ("a",))
    session = ViewInfo("se", "", None, str(tmp_path), schema, ("n",),
                       merge_on_overlap=True)
    for vi in (nested, session):
        vi.delta_bytes_cache.update({"v0": 1, "v0_d1": 1})
        assert not HStreamEngine._arrow_foldable(vi, 0, [1])

