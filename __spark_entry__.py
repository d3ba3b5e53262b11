"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1-style pricing
summary) at sf0.001; ``queries()``/``oracle_sql()`` expose the full
oracle-gated catalog from ``hstream_spark.queries`` in ``REGISTRY``
order — one entry per implemented operator from SURVEY.md §2 plus the
data-pipeline extensions (dedup, similarity search, text analysis,
multimodal). Every entry has a DuckDB oracle, and Tier-1
(``tests/test_catalog_oracle.py``) checks each one strictly at sf0.01,
with the plan audit, on every run.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hstream_spark.queries import REGISTRY  # noqa: E402


def _driver_confs(spark: SparkSession) -> None:
    """The session confs every entry needs; a caller's bare session has
    none of ``hstream_spark.session``'s defaults."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark 4.1 gates the native TIME type behind a runtime-settable
    # session conf
    spark.conf.set("spark.sql.timeType.enabled", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001; driver checks rows>0."""
    _driver_confs(spark)
    return REGISTRY["tpch_q1"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(builder):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _driver_confs(spark)
            return builder(spark, sf_dir)

        return run

    return {name: _wrap(q.builder) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per query."""
    return {name: q.oracle for name, q in REGISTRY.items()}
