"""Plan-quality regression tests — the scale properties SCALE.md
claims, pinned against the EXECUTED plans so a refactor that silently
un-pushes a filter, materializes a cartesian product, or drops a
broadcast fails loudly.

These are the properties that decide 100 TB behavior: filters reaching
the parquet scan, narrow read schemas, map-side partial aggregation
before every exchange, and dimension broadcasts. The absence of
nested-loop/cartesian physical nodes is checked for every catalog entry
by ``tests/test_catalog_oracle.py``.
"""

from __future__ import annotations

import pytest

from hstream_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = plan_of(spark, sf_dir, name)
        return cache[name]

    return get


def test_q6_filters_reach_the_scan(plans):
    p = plans("tpch_q6")
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_reads_only_needed_columns(plans):
    p = plans("tpch_q6")
    schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    # 4 referenced columns, not the 11-column table
    assert "l_extendedprice" in schema and "l_returnflag" not in schema


def test_dim_joins_broadcast(plans):
    for q in ("stream_table_join", "tpch_q5ish", "tpch_q9ish"):
        assert "BroadcastHashJoin" in plans(q), q


def test_lm_scoring_join_broadcasts_the_model(plans):
    """lm_cross_entropy joins doc tokens against the vocab-sized
    probability table: must broadcast (a token-keyed hash shuffle of
    the doc side is maximally skewed — Zipf: 'the' ≈ 5% of rows)."""
    p = plans("lm_cross_entropy")
    assert "BroadcastHashJoin" in p
    # the doc-token scoring join must not shuffle both sides on tok
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_aggregations_partial_before_exchange(plans):
    for q in ("tpch_q1", "agg_basic", "tumble_agg"):
        p = plans(q)
        # partial + final hash aggregation around the exchange
        assert p.count("HashAggregate") >= 2, q
        assert "Exchange" in p, q


def test_whole_stage_codegen_covers_scans(spark, sf_dir):
    # the scan→filter→project→agg pipeline must live inside codegen
    # stages; AQE wraps the plan lazily, so flip it off to see the
    # materialized codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["tpch_q6"].builder(spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen stages print as *(N) prefixes: span 1 = scan→filter→
    # project→partial-agg, span 2 = final agg after the exchange
    assert "*(1) Filter" in p and "*(1) HashAggregate" in p
    assert "*(2) HashAggregate" in p


def test_single_wide_shuffle_q21(plans):
    # the q21 rewrite's contract: the lineitem-orders base is shuffled
    # once; a regression to the semi+anti self-join pair doubles scans
    p = plans("tpch_q21ish")
    assert p.count("Scan parquet") <= 3  # lineitem, orders, supplier


def test_bm25_plan_is_shuffle_free_scoring(plans):
    """BM25: corpus stats reduce to ONE row (single partial+final agg),
    scoring is map-side, top-k is TakeOrdered — no gram explode, no
    inverted-index shuffle, no per-doc Exchange beyond the stats agg
    and the input spread."""
    p = plans("bm25_search")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # the only BroadcastNestedLoopJoin allowed is the 1-row stats join
    assert p.count("BroadcastNestedLoopJoin") == 1
    # no grouping shuffle on doc or token keys: every HashAggregate is
    # the global stats reduction (empty Keys)
    import re
    for m in re.finditer(r"HashAggregate\(keys=\[(.*?)\]", p):
        assert m.group(1) == "", p


def test_exact_substring_no_cartesian_and_int64_gram_keys(plans):
    """ExactSubstr spans: the gram self-count shuffles 8-byte xxhash64
    keys (never gram strings) and nothing is quadratic."""
    p = plans("dedup_exact_substring")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p


def test_temperature_sample_rate_table_broadcasts(plans):
    """The per-group rate table joins by broadcast — corpus rows never
    shuffle for the sampling decision."""
    p = plans("temperature_sample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_pq_encode_is_map_only(plans):
    """PQ encoding: nearest-centroid fold inside the scan task — zero
    exchanges beyond the input spread repartition."""
    p = plans("pq_encode")
    assert "Join" not in p
    import re
    exchanges = re.findall(r"Exchange (\w+)", p)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_quality_classifier_single_scan(plans):
    """Classifier: one scan, no joins, no aggregates — pure projection."""
    p = plans("quality_classifier")
    assert "Join" not in p and "HashAggregate" not in p


def test_bigram_lm_broadcast_gate(spark, sf_dir):
    """lm_bigram_cross_entropy(broadcast_bigrams=False) must NOT
    broadcast the bigram probability table (billions of rows at corpus
    scale — a forced broadcast OOMs the driver): its scoring join pins
    a SHUFFLE_HASH hint and hash-partitions on the (prev, tok) key.
    The vocab-sized unigram table still broadcasts on both paths."""
    from hstream_spark.operators.text import lm_bigram_cross_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    off = (
        lm_bigram_cross_entropy(docs, broadcast_bigrams=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    on = (
        lm_bigram_cross_entropy(docs, broadcast_bigrams=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin [prev" in off or "ShuffledHashJoin" in off
    assert "BroadcastHashJoin" in off  # unigram model still broadcasts
    assert "ShuffledHashJoin" not in on  # default path unchanged


def test_shingle_md5_pass_runs_once(spark, sf_dir):
    """The md5 token-hash transform must appear EXACTLY ONCE in the
    optimized plan of every single-corpus MinHash consumer.

    The shingle fold references the token-hash array n times and a
    size() filter pushed through the projection duplicates the whole
    tree — before round 12 the family's plans evaluated the md5 pass
    up to 12x per document (the dominant family cost; see
    doc_shingle_sets). The two-projection split + the posexplode
    when()-guard in minhash_bands_from_sets keep it at one; this pins
    that property against refactors and Catalyst rule changes.

    Cache is cleared first: earlier tests legitimately leave shingle
    sets persisted for the session (dedup's cache_sets contract), and
    the cache manager substitutes a matching InMemoryRelation whose
    nested plan string double-counts md5 — this test pins the shape of
    the FRESH plan, not cache-substitution behavior."""
    from hstream_spark.operators import dedup as D

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = D.doc_shingle_sets(docs)
    cases = {
        "doc_shingle_sets": sets,
        "doc_shingle_sets_nonempty": D.doc_shingle_sets(docs, nonempty=True),
        "bands": D.minhash_bands_from_sets(sets),
        "lsh_bucket_stats": D.lsh_bucket_stats(docs),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5(") == 1, (
            f"{name}: md5 transform duplicated "
            f"({plan.count('md5(')} occurrences) — an expression "
            "reference or filter pushdown re-inlined the token-hash pass"
        )


def test_text_tokenize_pass_runs_once(spark, sf_dir):
    """The regex tokenize split must appear EXACTLY ONCE in the
    optimized plan of every multi-feature text scorer.

    Same failure class as the md5 pin above, at expression scope:
    Column helpers that reference tokens(text) N times inline N copies
    of the split (no CSE in interpreted/HOF subtrees) — lang_id's
    argmax ladder paid 62 splits per row, quality_classifier's feature
    set 36, before the round-12 _bind_once / own-projection fixes."""
    from pyspark.sql import functions as F

    from hstream_spark.operators import text as TX

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cases = {
        "lang_id": docs.select(
            "doc_id", TX.lang_id(F.col("text")).alias("lang_pred")
        ),
        "quality_score": docs.select(
            "doc_id", TX.quality_score(F.col("text")).alias("q")
        ),
        "quality_classifier": TX.quality_classifier(docs),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, (
            f"{name}: tokenize split duplicated "
            f"({plan.count('split(')} occurrences) — a multi-reference "
            "consumer re-inlined the tokenize pass"
        )


def test_operators_read_no_environment():
    """Operator plans are chosen by arguments alone: an environment
    read inside an operator lets an ambient variable silently change
    what a caller's query executes. Deployment settings belong in
    ``session.py`` and the connectors."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / "hstream_spark" / "operators"
    hits = [
        f"{path.name}:{i}: {line.strip()}"
        for path in sorted(ops.glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\benviron\b|\bgetenv\b", line)
    ]
    assert hits == []
