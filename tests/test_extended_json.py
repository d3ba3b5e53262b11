"""Extended-JSON wire-format tests — mirrors the reference's
jsonValueToFlowValue ParseRefine cases (hstream-sql/src/HStream/SQL/
Rts/Old.hs:163-198): each wrapper decodes to its typed value, the
plain spelling still works, malformed wrappers are rejected (driver
path) or surfaced as dead letters (scan path), and nested documents
stay JSONB."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hstream_spark.sources import extended_json as EJ


FIELDS = {
    "i": "INTEGER",
    "f": "FLOAT",
    "b": "BOOLEAN",
    "s": "STRING",
    "by": "BYTEA",
    "d": "DATE",
    "t": "TIME",
    "ts": "TIMESTAMP",
    "iv": "INTERVAL",
    "sub": "JSONB",
}

WIRE = (
    '{"i": {"$numberLong": "42"}, "f": {"$numberDouble": "1.5"},'
    ' "b": true, "s": "plain",'
    ' "by": {"$binary": {"base64": "aGVsbG8=", "subType": "00"}},'
    ' "d": {"$date": "2024-03-01"}, "t": {"$time": "12:34:56"},'
    ' "ts": {"$timestamp": "2024-03-01T06:00:00Z"},'
    ' "iv": {"$interval": "P1DT2H"},'
    ' "sub": {"x": 1, "y": [1, 2]}}'
)


def test_decode_record_all_wrappers(spark):
    df = spark.createDataFrame([(WIRE,)], "payload string")
    row = EJ.decode_record(df, "payload", FIELDS, keep=[]).collect()[0]
    assert row["i"] == 42
    assert row["f"] == 1.5
    assert row["b"] is True
    assert row["s"] == "plain"
    assert bytes(row["by"]) == b"hello"
    assert row["d"] == datetime.date(2024, 3, 1)
    assert row["t"] == "12:34:56"
    assert row["ts"] == datetime.datetime(2024, 3, 1, 6, 0, 0)
    assert row["iv"] == "P1DT2H"
    assert '"x":1' in row["sub"].replace(" ", "")


def test_decode_record_plain_spellings(spark):
    df = spark.createDataFrame(
        [('{"i": 7, "f": 2.5, "d": "2024-05-05", "ts": "2024-05-05 01:02:03"}',)],
        "payload string",
    )
    row = EJ.decode_record(
        df, "payload", {"i": "INTEGER", "f": "FLOAT", "d": "DATE", "ts": "TIMESTAMP"},
        keep=[],
    ).collect()[0]
    assert row["i"] == 7
    assert row["f"] == 2.5
    assert row["d"] == datetime.date(2024, 5, 5)
    assert row["ts"] == datetime.datetime(2024, 5, 5, 1, 2, 3)


def test_malformed_wrapper_is_null(spark):
    good = '{"i": {"$numberLong": "1"}}'
    bad = '{"i": {"$numberLong": "junk"}}'
    df = spark.createDataFrame([(good,), (bad,)], "payload string")
    vals = [r["i"] for r in EJ.decode_record(df, "payload", {"i": "INTEGER"}, keep=[]).collect()]
    assert vals == [1, None]


def test_encode_decode_roundtrip(spark):
    fields = {"i": "INTEGER", "f": "FLOAT", "s": "STRING", "by": "BYTEA"}
    df = spark.createDataFrame(
        [(3, 0.25, "x", bytearray(b"\x00\xff"))],
        "i long, f double, s string, by binary",
    )
    wire = EJ.encode_record(df, fields).select("payload")
    assert '"$numberLong":"3"' in wire.collect()[0]["payload"]
    back = EJ.decode_record(wire, "payload", fields, keep=[]).collect()[0]
    assert (back["i"], back["f"], back["s"], bytes(back["by"])) == (3, 0.25, "x", b"\x00\xff")


def test_decode_python_value_cases():
    assert EJ.decode_python_value({"$numberLong": "42"}) == 42
    assert EJ.decode_python_value({"$numberDouble": "1.5"}) == 1.5
    assert EJ.decode_python_value({"$binary": {"base64": "aGVsbG8="}}) == b"hello"
    assert EJ.decode_python_value({"$date": "2024-01-01"}) == "2024-01-01"
    assert EJ.decode_python_value([{"$numberLong": "1"}, 2]) == [1, 2]
    # nested documents recurse but stay documents
    assert EJ.decode_python_value({"a": {"$numberLong": "9"}, "b": "t"}) == {"a": 9, "b": "t"}
    with pytest.raises(ValueError):
        EJ.decode_python_value({"$numberLong": "junk"})


def test_insert_values_decodes_extended_json(spark, tmp_path):
    from hstream_spark.streaming.runtime import HStreamEngine

    eng = HStreamEngine(spark, str(tmp_path / "data"))
    try:
        eng.execute("CREATE STREAM exj (x INTEGER, y STRING);")
        eng.execute(
            "INSERT INTO exj VALUES CAST('"
            '{"x": {"$numberLong": "99"}, "y": "ok"}'
            "' AS JSONB);"
        )
        rows = eng.execute("SELECT x, y FROM exj;").collect()
        assert [(r["x"], r["y"]) for r in rows] == [(99, "ok")]
    finally:
        eng.shutdown()


from hypothesis import given, settings, strategies as st

_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24
)


@settings(max_examples=5, deadline=None)
@given(
    recs=st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            _TEXT,
            st.binary(max_size=16),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_roundtrip_property(spark, recs):
    """decode ∘ encode == identity over arbitrary typed records — one
    Spark job per hypothesis example batch."""
    fields = {"i": "INTEGER", "f": "FLOAT", "s": "STRING", "by": "BYTEA"}
    df = spark.createDataFrame(
        [(i, f, s, bytearray(b)) for i, f, s, b in recs],
        "i long, f double, s string, by binary",
    )
    wire = EJ.encode_record(df, fields).select("payload")
    back = EJ.decode_record(wire, "payload", fields, keep=[]).collect()
    got = sorted((r["i"], r["f"], r["s"], bytes(r["by"])) for r in back)
    want = sorted((i, f, s, bytes(b)) for i, f, s, b in recs)
    assert got == want
