"""Per-function scalar specs — ports of the reference's unit-test style
(hstream-sql/test/HStream/SQL/Codegen/MathSpec.hs, ArraySpec.hs) onto a
single literal row, as in FIXTURES.md §4."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hstream_spark.functions import scalar as S


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


class TestNullSemantics:
    def test_null_safe_eq(self, spark):
        assert one(spark, S.eq(F.lit(None), F.lit(None))) is True
        assert one(spark, S.eq(F.lit(None).cast("int"), F.lit(1))) is False
        assert one(spark, S.neq(F.lit(None), F.lit(None))) is False

    def test_comparison_null_propagates(self, spark):
        assert one(spark, F.lit(None).cast("int") < F.lit(1)) is None

    def test_arith_null_propagates(self, spark):
        assert one(spark, F.lit(None).cast("int") + F.lit(1)) is None


class TestMath:
    def test_add_mixed_promotes(self, spark):
        assert one(spark, F.lit(1) + F.lit(2)) == 3
        assert one(spark, F.lit(1) + F.lit(2.5)) == 3.5

    def test_floor_ceil_round_sign_are_ints(self, spark):
        assert one(spark, S.floor(F.lit(1.5))) == 1
        assert one(spark, S.ceil(F.lit(1.5))) == 2
        # Haskell `round` is half-even: round 2.5 == 2
        assert one(spark, S.round_(F.lit(2.5))) == 2
        assert one(spark, S.round_(F.lit(3.5))) == 4
        assert one(spark, S.sign(F.lit(-3.2))) == -1

    def test_exp_log(self, spark):
        assert one(spark, S.log_(F.lit(math.e))) == pytest.approx(1.0)
        assert one(spark, S.log2(F.lit(8.0))) == pytest.approx(3.0)
        assert one(spark, S.sqrt(F.lit(9.0))) == pytest.approx(3.0)


class TestStrings:
    def test_take_drop_family(self, spark):
        s = F.lit("abcdef")
        assert one(spark, S.take(2, s)) == "ab"
        assert one(spark, S.takeend(2, s)) == "ef"
        assert one(spark, S.drop(2, s)) == "cdef"
        assert one(spark, S.dropend(2, s)) == "abcd"
        assert one(spark, S.dropend(9, s)) == ""

    def test_chunksof(self, spark):
        assert one(spark, S.chunksof(2, F.lit("abcde"))) == ["ab", "cd", "e"]

    def test_split_literal_delim(self, spark):
        assert one(spark, S.split(".", F.lit("a.b.c"))) == ["a", "b", "c"]

    def test_trim_reverse_len(self, spark):
        assert one(spark, S.trim(F.lit("  x "))) == "x"
        assert one(spark, S.reverse_(F.lit("abc"))) == "cba"
        assert one(spark, S.strlen(F.lit("abc"))) == 3


class TestArrays:
    def test_array_ops(self, spark):
        arr = F.array(F.lit(3), F.lit(1), F.lit(3), F.lit(2))
        other = F.array(F.lit(2))
        assert one(spark, S.array_distinct_(arr)) == [3, 1, 2]
        assert one(spark, S.array_except_(arr, other)) == [3, 1]
        assert one(spark, S.array_intersect_(arr, other)) == [2]
        assert one(spark, S.array_union_(arr, other)) == [3, 1, 2]
        assert one(spark, S.array_remove_(arr, F.lit(3))) == [1, 2]
        assert one(spark, S.array_max_(arr)) == 3
        assert one(spark, S.array_min_(arr)) == 1
        assert one(spark, S.array_sort_(arr)) == [1, 2, 3, 3]
        assert one(spark, S.array_contain(arr, F.lit(2))) is True
        assert one(spark, S.array_join_(arr.cast("array<string>"), ",")) == "3,1,3,2"

    def test_array_index_and_slice_zero_based(self, spark):
        arr = F.array(*[F.lit(i) for i in (10, 20, 30, 40)])
        assert one(spark, S.array_index(arr, 0)) == 10
        assert one(spark, S.array_index(arr, 3)) == 40
        assert one(spark, S.array_slice(arr, 1, 2)) == [20, 30]
        assert one(spark, S.array_slice(arr, 2, None)) == [30, 40]
        assert one(spark, S.array_slice(arr, None, 1)) == [10, 20]


class TestJson:
    def test_json_get(self, spark):
        j = F.lit('{"a": {"b": 7}, "arr": [1, 2]}')
        assert one(spark, S.json_get(j, "a")) == '{"b":7}'
        assert one(spark, S.json_path(j, ["a", "b"])) == "7"
        assert one(spark, S.json_path(j, ["arr", 1])) == "2"


class TestCasts:
    def test_cast_int_floors(self, spark):
        assert one(spark, S.cast_int(F.lit(1.9))) == 1
        assert one(spark, S.cast_int(F.lit(True))) == 1

    def test_cast_text_null_literal(self, spark):
        assert one(spark, S.cast_text(F.lit(None).cast("int"))) == "NULL"

    def test_cast_bool_accepts_variants(self, spark):
        for txt, expect in [("TRUE", True), ("f", False), ("1", True), ("0", False)]:
            assert one(spark, S.cast_bool(F.lit(txt))) is expect


class TestTernary:
    def test_between_symmetric(self, spark):
        v = F.lit(5)
        assert one(spark, S.between_symmetric(v, F.lit(9), F.lit(1))) is True
        assert one(spark, S.between_symmetric(v, F.lit(6), F.lit(9))) is False


class TestDates:
    def test_datetostring_roundtrip(self, spark):
        epoch = 1704067200  # 2024-01-01T00:00:00Z
        assert (
            one(spark, S.datetostring(F.lit(epoch), "yyyy-MM-dd HH:mm:ss"))
            == "2024-01-01 00:00:00"
        )
        assert (
            one(spark, S.stringtodate(F.lit("2024-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss"))
            == epoch
        )


def test_native_time_type_literals_casts_and_ddl(spark):
    """Native TIME (Spark 4.1 TimeType): literals, string→TIME and
    timestamp→TIME casts (time-of-day extraction), comparisons, and a
    TIME column in CREATE STREAM DDL all work; date-only strings cast
    to NULL rather than garbage."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    src = spark.createDataFrame(
        [Row(id=1, s="08:30:00", ts="2024-03-05 17:45:10.123456"),
         Row(id=2, s="23:59:59", ts="2024-03-05 00:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stmt = parse(
        "SELECT id, CAST(s AS TIME) AS t1, CAST(ts AS TIME) AS t2, "
        "CAST(s AS TIME) > TIME '12:00:00' AS after_noon, "
        "IS_TIME(CAST(s AS TIME)) AS p FROM src;"
    )
    out = compile_select(stmt, lambda n: src)
    assert "time" in out.schema["t1"].dataType.simpleString()
    rows = {r["id"]: r for r in out.collect()}
    import datetime

    assert rows[1]["t1"] == datetime.time(8, 30)
    assert rows[1]["t2"] == datetime.time(17, 45, 10, 123456)
    assert rows[2]["t2"] == datetime.time(0, 0)
    assert rows[1]["after_noon"] is False and rows[2]["after_noon"] is True
    assert rows[1]["p"] is True
    # date-only string: no time-of-day part -> NULL
    d = spark.createDataFrame([Row(s="2024-03-05")])
    stmt2 = parse("SELECT CAST(s AS TIME) AS t FROM d;")
    assert compile_select(stmt2, lambda n: d).collect()[0]["t"] is None


def test_time_column_in_stream_ddl(spark, tmp_path):
    from hstream_spark.streaming.runtime import HStreamEngine

    eng = HStreamEngine(spark, str(tmp_path / "data"))
    try:
        eng.execute("CREATE STREAM shifts (worker INTEGER, clock_in TIME);")
        eng.execute(
            "INSERT INTO shifts (worker, clock_in) VALUES (1, '09:15:00');"
        )
        out = eng.execute(
            "SELECT worker, clock_in FROM shifts "
            "WHERE clock_in > TIME '09:00:00';"
        ).collect()
        import datetime

        assert [(r["worker"], r["clock_in"]) for r in out] == [
            (1, datetime.time(9, 15))
        ]
    finally:
        eng.shutdown()
