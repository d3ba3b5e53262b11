"""Semi/anti join helpers (EXISTS / NOT EXISTS shapes).

The reference grammar has no semi or anti joins anywhere (SURVEY.md
§2.3); these are first-class extensions. Semantics pinned here:
- semi_join keeps left rows with >=1 match, never duplicates a left
  row even when many right rows match, and emits only left columns.
- anti_join is the exact complement (NOT EXISTS, not NOT IN — NULL
  keys in the right side do not nuke the result).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hstream_spark.operators.joins import anti_join, semi_join


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["id", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 10), (1, 11), (3, 30), (None, 99)], "rid int, payload int"
    )
    return left, right


def test_semi_keeps_matches_without_duplication(frames):
    left, right = frames
    out = semi_join(left, right, left["id"] == right["rid"])
    rows = sorted((r.id, r.tag) for r in out.collect())
    # id=1 has TWO right matches but appears once; only left columns out
    assert rows == [(1, "a"), (3, "c")]
    assert out.columns == ["id", "tag"]


def test_anti_is_exact_complement(frames):
    left, right = frames
    semi = semi_join(left, right, left["id"] == right["rid"])
    anti = anti_join(left, right, left["id"] == right["rid"])
    assert sorted(r.id for r in anti.collect()) == [2, 4]
    assert semi.count() + anti.count() == left.count()


def test_anti_not_exists_ignores_null_right_keys(frames):
    # SQL NOT IN over a subquery containing NULL returns no rows;
    # anti_join implements NOT EXISTS, which keeps the non-matching rows.
    left, right = frames
    out = anti_join(left, right, left["id"] == right["rid"])
    assert out.count() == 2


def test_semi_with_residual_predicate(frames):
    # EXISTS with a correlated non-equi condition: equi key + residual
    left, right = frames
    out = semi_join(
        left, right, (left["id"] == right["rid"]) & (right["payload"] > 10)
    )
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_semi_broadcast_plan_shape(frames):
    left, right = frames
    plan = semi_join(
        left, right, left["id"] == right["rid"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_rollup_and_cube_row_counts(spark, sf_dir):
    from hstream_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem")
    flags = l.select("l_returnflag").distinct().count()
    pairs = l.select("l_returnflag", "l_linestatus").distinct().count()
    statuses = l.select("l_linestatus").distinct().count()
    rollup = l.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)))
    cube = l.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)))
    assert rollup.count() == pairs + flags + 1
    assert cube.count() == pairs + flags + statuses + 1


def test_range_join_bucketed_matches_broadcast(spark):
    from hstream_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(200)], "id long, v double"
    )
    bands = spark.createDataFrame(
        [(0, 0.0, 20.0), (1, 15.0, 60.0), (2, 55.0, 99.0)],
        "band long, lo double, hi double",
    )
    cond = (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    bc = {(r["id"], r["band"])
          for r in left.join(F.broadcast(bands), cond).collect()}
    bk = {(r["id"], r["band"])
          for r in range_join(left, bands, "v", "lo", "hi", bucket_width=25.0).collect()}
    assert bc == bk and bc
    plan = (range_join(left, bands, "v", "lo", "hi", bucket_width=25.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
