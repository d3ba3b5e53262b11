"""The catalog correctness gate: every ``REGISTRY`` entry, built through
the driver wrapper at ``tools/check.py``'s scale (sf0.01), must equal its DuckDB oracle under
``tools/check.py``'s strict compare, and its executed plan must carry
none of ``tools/audit_plans.py``'s hard flags (cartesian, nested loop
outside the allowlist, row-at-a-time Python UDF).
"""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entry_mod
from hstream_spark.queries import REGISTRY

_TOOLS = os.path.join(os.path.dirname(__file__), "..", "tools")


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check = _load_tool("check")
audit = _load_tool("audit_plans")
ORACLE_SF_DIR = check.SF_DIR

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def oracle_spark(spark):
    # strict float equality depends on partitioning, so runtime SQL
    # confs that earlier tests set on the shared session must not apply
    return spark.newSession()


@pytest.fixture(scope="module")
def duck():
    con = check.oracle_db(ORACLE_SF_DIR)
    yield con
    con.close()


def test_catalog_is_registry_order():
    assert list(QUERIES) == list(ORACLES) == list(REGISTRY)


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle_with_clean_plan(name, oracle_spark, duck):
    sql = ORACLES[name]
    assert isinstance(sql, str) and sql.strip(), f"{name} has no oracle"
    df = QUERIES[name](oracle_spark, ORACLE_SF_DIR)
    flags = audit.hard_flags(name, df._jdf.queryExecution().executedPlan().toString())
    assert not flags, f"{name} plan: {', '.join(flags)}"
    issues = check.compare(name, df.toPandas(), duck.execute(sql).fetchdf(), strict=True)
    assert not issues, "\n".join(issues)
