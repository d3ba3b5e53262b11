"""Toy-size run of ``tools/gen_scale_data.py``, the generator that
rebuilds the sf1 scale data from a base scale. DuckDB only, no Spark:
two replicas of sf0.001 keep the base fan-out with disjoint keys."""

from __future__ import annotations

import os
import sys

import duckdb

from tests.conftest import SF_DIR

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools"),
)

KEYS = {
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}


def test_two_replicas_double_rows_with_disjoint_keys(tmp_path):
    import gen_scale_data

    gen_scale_data.generate(SF_DIR, str(tmp_path), 2)
    con = duckdb.connect()

    def rows(d, t, what="count(*)", where=""):
        return con.execute(
            f"SELECT {what} FROM read_parquet('{d}/{t}.parquet') {where}"
        ).fetchone()[0]

    for t in ("region", "nation"):
        assert rows(tmp_path, t) == rows(SF_DIR, t), t
    for t in ("customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        assert rows(tmp_path, t) == 2 * rows(SF_DIR, t), t
    for t, key in KEYS.items():
        base_max = rows(SF_DIR, t, f"max({key})")
        # replica 0 keeps the base keys; replica 1's all lie above them
        assert rows(tmp_path, t, f"count(DISTINCT {key})") == 2 * rows(
            SF_DIR, t, f"count(DISTINCT {key})"), t
        assert rows(tmp_path, t, where=f"WHERE {key} > {base_max}") == rows(SF_DIR, t), t
    same = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE b.text IS NOT DISTINCT FROM o.text) "
        f"FROM read_parquet('{SF_DIR}/documents.parquet') b "
        f"JOIN read_parquet('{tmp_path}/documents.parquet') o USING (doc_id)"
    ).fetchone()
    assert same[0] == rows(SF_DIR, "documents") and same[1] == same[0]
