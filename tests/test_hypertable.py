"""Hypertable layout + incremental-rollup tests: chunk pruning reaches
the scan, rollup maintenance touches only new/dirty chunks, and the
incremental result equals a full recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hstream_spark.sources import hypertable as H
from hstream_spark.sources.tables import load_table


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "ht")
    ev = load_table(spark, sf_dir, "events")
    H.write_time_partitioned(ev, path, "ts", "day", mode="overwrite")
    return path


def _daily(src):
    return src.groupBy("dt", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
    )


def test_chunk_layout_and_pruned_scan(spark, table):
    days = H.chunks(table)
    assert len(days) > 1
    pruned = spark.read.parquet(table).filter(F.col(H.CHUNK_COL) == days[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:160]
    assert pruned.select("dt").distinct().count() == 1


def test_incremental_rollup_only_processes_delta(spark, table, tmp_path, sf_dir):
    rollup = str(tmp_path / "ru")
    done = H.incremental_rollup(spark, table, rollup, _daily)
    assert sorted(done) == H.chunks(table)
    # second run: nothing new
    assert H.incremental_rollup(spark, table, rollup, _daily) == []
    # late data arrives into an existing chunk -> refresh recomputes it
    days = H.chunks(table)
    late_day = days[0]
    ev = load_table(spark, sf_dir, "events").limit(5)
    late = ev.withColumn(
        "ts", F.to_timestamp(F.lit(late_day + " 01:02:03"))
    )
    H.write_time_partitioned(late, table, "ts", "day", mode="append")
    done = H.incremental_rollup(spark, table, rollup, _daily, refresh=[late_day])
    assert done == [late_day]
    # incremental result == full recompute
    full = _daily(spark.read.parquet(table))
    inc = spark.read.parquet(rollup)
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, inc.select(full.columns).collect()))
    assert a == b
