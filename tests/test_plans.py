"""Physical-plan regression tests — the scale properties the engine
promises (pushdown, pruning, broadcast, equi-extraction, map-side
partial aggregation, no cartesian products) asserted against the
executed plans of catalog queries. A correctness-preserving change
that silently degrades one of these plans fails here."""

from __future__ import annotations

import re

import pytest

from hstream_spark.queries import REGISTRY
from tests.conftest import SF_DIR as SF


def plan_of(spark, name: str) -> str:
    return REGISTRY[name].builder(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    plan = plan_of(spark, "select_where_project")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters in scan"
    assert "EqualTo(event_type,purchase)" in m.group(1)
    assert "GreaterThan(value,50.0)" in m.group(1)


def test_column_pruning(spark):
    plan = plan_of(spark, "tpch_q1")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no FileScan in plan"
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    # only the 7 needed columns are read, not all 11
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_date_filter_pushdown(spark):
    plan = plan_of(spark, "tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "tpch_q3")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_extracts_equi_keys(spark):
    plan = plan_of(spark, "interval_join_inner")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(k in plan for k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_bucketed_cross_join_is_hash_join(spark):
    plan = plan_of(spark, "cross_join_within")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_agg_partial_before_shuffle(spark):
    plan = plan_of(spark, "tumble_agg")
    assert "HashAggregate" in plan and "Exchange" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_minhash_lsh_no_cartesian(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_is_map_only(spark):
    plan = plan_of(spark, "simhash_signature")
    # per-row fold: no aggregation shuffle in the signature computation.
    # A round-robin repartition (parallelism spread over few input files)
    # is allowed; a hash-partitioned exchange (groupBy shuffle) is not.
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_stream_table_join_broadcasts_dimension(spark):
    plan = plan_of(spark, "stream_table_join")
    assert "BroadcastHashJoin" in plan


def test_profile_table_with_nulls(spark):
    from hstream_spark.operators.relational import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")],
        "k long, s string",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_null"] == 0
    assert rows["k"]["n_distinct"] == 4
    assert rows["k"]["min_value"] == "1" and rows["k"]["max_value"] == "4"
    assert rows["s"]["n_null"] == 1 and rows["s"]["null_rate"] == 0.25
    # distinct includes the null bucket: {a, b, NULL}
    assert rows["s"]["n_distinct"] == 3


def test_profile_table_approx_one_pass(spark):
    """approx_distinct=True folds HLL distinct counts into the single
    wide aggregate: one scan total (no per-column distinct scans), and
    at small cardinalities HLL++ is exact-by-construction (sparse
    mode). Null bucket is NOT counted (HLL ignores nulls)."""
    from hstream_spark.operators.relational import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")],
        "k long, s string",
    )
    prof = profile_table(df, approx_distinct=True)
    rows = {r["column"]: r for r in prof.collect()}
    assert rows["k"]["n_distinct"] == 4
    assert rows["s"]["n_distinct"] == 2  # {a, b}; null not counted
    assert rows["s"]["n_null"] == 1 and rows["s"]["null_rate"] == 0.25
    # ONE pass: no per-column distinct branches — the plan has no Union
    # (exact mode unions n_cols distinct scans) and no join back
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and "Join" not in plan


def test_funnel_ordering_semantics(spark):
    from hstream_spark.operators.relational import funnel

    rows = [
        # u1 completes in order
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:10:00"),
        # u2: click BEFORE view -> click does not count; stage 1
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 09:30:00"),
        # u3: view+click only -> stage 2
        (3, "view", "2024-01-01 08:00:00"),
        (3, "click", "2024-01-01 08:01:00"),
        # u4: purchase only (no view) -> stage 0
        (4, "purchase", "2024-01-01 07:00:00"),
    ]
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["user_id"]: r for r in
           funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out[1]["stage"] == 3
    assert out[2]["stage"] == 1 and out[2]["step2_us"] is None
    assert out[3]["stage"] == 2 and out[3]["step3_us"] is None
    assert out[4]["stage"] == 0 and out[4]["step1_us"] is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one step"):
        funnel(ev, [])


def test_cohort_retention_matrix(spark):
    from pyspark.sql import functions as F

    from hstream_spark.operators.relational import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 20:00:00"),  # same day twice -> one active day
        (2, "2024-01-01 11:00:00"),
        (3, "2024-01-02 08:00:00"), (3, "2024-01-04 08:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {(r["cohort_date"], r["day_offset"]): r
           for r in cohort_retention(ev).collect()}
    d1 = out[("2024-01-01", 0)]
    assert d1["active_users"] == 2 and d1["cohort_users"] == 2
    assert d1["retention_rate"] == 1.0
    assert out[("2024-01-01", 1)]["active_users"] == 1  # only u1 returns
    assert out[("2024-01-01", 1)]["retention_rate"] == 0.5
    assert out[("2024-01-02", 2)]["active_users"] == 1  # u3 on day 4
    assert ("2024-01-02", 1) not in out
