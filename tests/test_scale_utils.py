"""Scale utilities: skew-salted join equivalence and bucketed
co-located joins (the no-exchange property bucketing buys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hstream_spark.operators.joins import salted_join
from hstream_spark.sources.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    plain = {tuple(r) for r in orders.join(cust, "o_custkey").collect()}
    salted = {tuple(r) for r in salted_join(orders, cust, on="o_custkey", salt=8).collect()}
    assert salted == plain


def test_cap_per_group_deterministic_and_bounded(spark):
    from hstream_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(100)], "doc_id long, grp string"
    )
    a = cap_per_group(df, "doc_id", "grp", 5)
    b = cap_per_group(df.repartition(7), "doc_id", "grp", 5)
    rows_a = sorted((r["grp"], r["doc_id"]) for r in a.collect())
    rows_b = sorted((r["grp"], r["doc_id"]) for r in b.collect())
    assert rows_a == rows_b, "kept set must be partitioning-independent"
    from collections import Counter

    per = Counter(g for g, _ in rows_a)
    assert all(n == 5 for n in per.values())


def test_quantize_embeddings_error_bound(spark):
    from hstream_spark.operators.similarity import quantize_embeddings
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df).collect()
    by_id = {r["vec_id"]: r for r in q}
    # dequantized error <= 0.5/scale per element; max|q| == 127 exactly
    for r in q:
        assert max(abs(x) for x in r["qvec"]) == 127
    assert by_id[1]["scale"] == 127.0  # max|x| = 1.0


def test_temperature_sample_rebalances_head(spark):
    import math

    from hstream_spark.operators.sampling import temperature_sample

    # 400 'en' docs vs 50 'fr' docs; T=0.5 keeps fr whole and en at
    # (50/400)^0.5 ~ 0.3535
    rows = [(i, "en") for i in range(400)] + [(1000 + i, "fr") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "doc_id", "lang", temperature=0.5)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["fr"] == 50  # smallest group anchored at rate 1
    expected_rate = math.sqrt(50 / 400)
    # hash buckets are uniform; 400 draws at rate .3535 ~ N(141, 9.5)
    assert abs(counts["en"] - 400 * expected_rate) < 40
    # temperature 1 keeps everything
    assert temperature_sample(df, "doc_id", "lang", temperature=1.0).count() == 450
    # determinism: same selection on rerun
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in
         temperature_sample(df, "doc_id", "lang", temperature=0.5).collect()}
    assert a == b


def test_temperature_sample_rejects_bad_temperature(spark):
    import pytest as _pytest

    from hstream_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with _pytest.raises(ValueError, match="temperature"):
        temperature_sample(df, "doc_id", "lang", temperature=1.5)


def test_group_split_colocates_duplicates(spark):
    from hstream_spark.operators.sampling import group_train_test_split

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(70)],  # 7 groups of 10 dups
        "doc_id long, text string",
    )
    out = group_train_test_split(docs, F.md5(F.col("text")), test_fraction=0.3)
    per_group = (
        out.groupBy("text")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in per_group)  # a group never straddles splits
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "test"}


def test_token_budget_sample_caps_expected_tokens(spark):
    """Over-budget groups thin toward the budget; under-budget groups
    pass through whole; the keep set is deterministic."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.sampling import token_budget_sample

    rows = [(i, "big", 100) for i in range(200)]      # 20k tokens
    rows += [(1000 + i, "small", 10) for i in range(5)]  # 50 tokens
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    out = token_budget_sample(df, "lang", 2000, n_tokens=F.col("n"))
    got = out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("toks")
    ).collect()
    by = {r["lang"]: (r["docs"], r["toks"]) for r in got}
    assert by["small"] == (5, 50)            # under budget: untouched
    # big: rate = 2000/20000 = 0.1 → expect ~20 docs / ~2000 tokens
    assert 8 <= by["big"][0] <= 40
    # deterministic: second run identical
    out2 = token_budget_sample(df, "lang", 2000, n_tokens=F.col("n"))
    assert sorted(r["doc_id"] for r in out.collect()) == \
           sorted(r["doc_id"] for r in out2.collect())


class TestDsirSelect:
    """DSIR-style importance selection (operators/sampling.py): docs
    bigram-similar to the target profile must outrank dissimilar ones,
    and the integer fixed-point path is deterministic."""

    def _corpus(self, spark):
        target_like = "machine learning models train on curated text data"
        noise = "zebra quartz vortex jumble plinth oboe grommet"
        rows = [(i, target_like + f" extra{i}", "src0") for i in range(10)]
        rows += [(100 + i, target_like + f" tail{i}", "raw") for i in range(5)]
        rows += [(200 + i, noise + f" filler{i} gap{i}", "raw") for i in range(5)]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_target_like_docs_outrank_noise(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import sampling as SMP

        docs = self._corpus(spark)
        target = docs.where(F.col("source") == "src0")
        kept = SMP.dsir_select(docs, target, keep_n=15).collect()
        ids = {r["doc_id"] for r in kept}
        # every target-like raw doc beats every noise doc into the cut
        assert all(100 + i in ids for i in range(5))
        assert len(kept) == 15
        # deterministic rank: re-run produces identical rows
        again = SMP.dsir_select(docs, target, keep_n=15).collect()
        assert sorted(map(tuple, kept)) == sorted(map(tuple, again))

    def test_short_docs_score_zero_not_dropped(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import sampling as SMP

        docs = spark.createDataFrame(
            [(1, "single", "src0"), (2, "two words here", "src0")],
            "doc_id long, text string, source string",
        )
        scored = SMP.dsir_select(docs, docs.where(F.col("source") == "src0"),
                                 keep_n=5).collect()
        by_id = {r["doc_id"]: r["dsir_score"] for r in scored}
        assert by_id[1] == 0          # < 2 tokens -> no bigrams
        assert by_id[2] > 0
        assert len(scored) == 2       # keep_n above corpus size keeps all
