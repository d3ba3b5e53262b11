"""As-of join semantics: inclusive backward match, tie-breaking,
unmatched rows, and the no-explosion plan shape."""

from __future__ import annotations

import pytest

from hstream_spark.operators.joins import asof_join


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [
            (1, 100, "p1"),
            (1, 205, "p2"),
            (2, 100, "p3"),  # no right row at or before
            (3, 100, "p4"),  # key absent on right entirely
        ],
        "k long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [
            (1, 90, "c1"),
            (1, 100, "c2"),   # same instant as p1 -> visible
            (1, 100, "c3"),   # tie at ts=100 -> max tiebreak wins
            (1, 201, "c4"),
            (2, 150, "c5"),   # after p3 only
        ],
        "k long, ts long, cid string",
    )
    return left, right


def test_asof_left_matches(spark, sides):
    left, right = sides
    rows = {
        r.pid: r.cid
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", tiebreak="cid"
        ).collect()
    }
    assert rows["p1"] == "c3"  # inclusive same-instant, tie -> max cid
    assert rows["p2"] == "c4"  # latest at-or-before 205
    assert rows["p3"] is None  # right rows exist but all later
    assert rows["p4"] is None  # key absent


def test_asof_plan_has_no_join(spark, sides):
    """The scale property: as-of is a union + window, not a range join —
    no join node, no cartesian explosion, one exchange on the key."""
    left, right = sides
    plan = (
        asof_join(left, right, on="k", tiebreak="cid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
