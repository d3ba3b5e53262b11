"""Similarity-search operator tests: ANN (brute-force / LSH / IVF) and
embedding-cosine near-duplicates — structure, recall, and the plan
properties the scale path depends on (equi-joins, no cartesian)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hstream_spark.operators import similarity as SIM
from hstream_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_ivf_topk_shape_and_ranks(spark, emb):
    quant = SIM.train_ivf_quantizer(emb, n_clusters=8)
    res = SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), quant, k=10, nprobe=2)
    rows = res.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
        assert r.q_id != r.c_id
    assert set(per_q) == {0, 1, 2, 3, 4}
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 10


def test_ivf_recall_vs_brute_force(spark, emb):
    qs = emb.filter(F.col("vec_id") < 5)
    exact = {(r.q_id, r.c_id) for r in SIM.brute_force_topk(emb, qs, k=10).collect()}
    quant = SIM.train_ivf_quantizer(emb, n_clusters=8)
    approx = {(r.q_id, r.c_id) for r in SIM.ivf_topk(emb, qs, quant, k=10, nprobe=2).collect()}
    recall = len(exact & approx) / len(exact)
    # nprobe=2 of 8 near-random clusters: recall well above the ~25%
    # mass of the probed lists because true neighbors skew into them
    assert recall >= 0.2, recall


def test_bruteforce_np_matches_expression_path(spark, emb):
    qs = emb.filter(F.col("vec_id") < 5)
    expr = {(r.q_id, r.c_id) for r in SIM.brute_force_topk(emb, qs, k=10).collect()}
    nppath = {(r.q_id, r.c_id) for r in SIM.brute_force_topk_np(emb, qs, k=10).collect()}
    # identical neighbor sets (scores differ only in the 8th decimal)
    assert nppath == expr


def test_ivf_probe_join_is_equi(spark, emb):
    plan = (
        SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5),
                     SIM.train_ivf_quantizer(emb, n_clusters=8), k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_embedding_near_duplicates_exact(spark, emb):
    rows = SIM.embedding_near_duplicates(emb, threshold=0.4, blocked=False).collect()
    assert rows, "threshold 0.4 should yield pairs on the synthetic corpus"
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cos >= 0.4


def test_embedding_near_duplicates_lsh_subset_of_exact(spark, emb):
    exact = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_duplicates(emb, threshold=0.2, blocked=False).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_duplicates(
            emb, threshold=0.2, dim=64, planes=8, blocked=True
        ).collect()
    }
    assert blocked <= exact
    assert blocked, "LSH blocking should retain some near-dup pairs"


def test_embedding_near_duplicates_capped_supersets_single_table(spark, emb):
    """Multi-table candidates ⊇ table-0 candidates (table 0 uses the
    SAME planes as the single-table path), and every emitted pair is
    exact-cosine verified — so with a cap no bucket exceeds, the capped
    multi-table pair set contains the single-table one and stays a
    subset of the exact pairs."""
    exact = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_duplicates(
            emb, threshold=0.2, blocked=False
        ).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_duplicates(
            emb, threshold=0.2, dim=64, planes=8, blocked=True
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_duplicates_capped(
            emb, threshold=0.2, dim=64, planes=8, tables=2,
            cap=10_000_000,  # nothing capped: pure multi-table recall
        ).collect()
    }
    assert single <= capped <= exact
    assert capped, "multi-table LSH should retain near-dup pairs"


def test_embedding_near_duplicates_capped_bounds_hot_bucket(spark):
    """An adversarial corpus collapsing into ONE bucket (identical
    vectors): uncapped pairs grow m²; the cap bounds any sub-bucket at
    ~cap members so pair count drops to O(m·cap) — and the duplicate
    CLUSTER stays connected through shared sub-bucket members."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.dedup import connected_components

    m = 120
    vecs = spark.range(m).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0) for _ in range(8)]).alias("embedding"),
    )
    capped = SIM.embedding_near_duplicates_capped(
        vecs, threshold=0.9, dim=8, planes=4, tables=2, cap=16
    )
    pairs = [(r.id_a, r.id_b) for r in capped.collect()]
    # uncapped would emit m(m-1)/2 = 7140 pairs; the cap bounds each
    # sub-bucket at ~16 members across 2 tables
    assert 0 < len(pairs) < 2 * m * 16
    comp = connected_components(
        spark.createDataFrame(pairs, "doc_a long, doc_b long")
    )
    n_components = comp.select("component").distinct().count()
    assert n_components == 1, "duplicate cluster must stay connected"


def test_capped_band_candidates_hot_only_broadcast_matches_window(spark):
    """No tested SF produces a hot MinHash bucket (sf0.1 max occupancy
    13 < cap 32), so the oracle gate never exercises
    capped_band_candidates' over-cap salt arm. This pins it
    synthetically: identical docs collapse into one band bucket over
    the cap, and the pair set must match an independently-written
    count-Window formulation byte-for-byte. (Round 13 also A/B'd a
    hot-only broadcast-join variant against the window — byte-equal
    by this same construction, but +31% slower; the window stays.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hstream_spark.operators.dedup import (
        capped_band_candidates,
        ceil_div,
        doc_shingle_sets,
        minhash_bands_from_sets,
    )

    # 60 docs sharing one shingle set (hot bucket, 60 > cap=8) plus
    # distinct fillers that stay under the cap
    rows = [(i, "the quick brown fox jumps over the lazy dog again")
            for i in range(60)]
    rows += [(100 + i, f"unique filler text number {i} with tokens {i * 7}")
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = doc_shingle_sets(docs, "text", "doc_id", 3).persist()
    bands = minhash_bands_from_sets(sets)
    cap = 8
    occ = bands.groupBy("band", "band_sig").count()
    assert occ.agg(F.max("count")).collect()[0][0] > cap, (
        "test corpus must actually produce a hot bucket"
    )

    got = {(r.doc_a, r.doc_b) for r in
           capped_band_candidates(bands, cap).collect()}

    # reference: the pre-round-13 count-Window formulation, verbatim
    bn = F.count(F.lit(1)).over(Window.partitionBy("band", "band_sig"))
    n_sub = ceil_div(bn, cap)
    salt = F.when(bn <= cap, F.lit(0).cast("long")).otherwise(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("doc_id").cast("string"),
                                  F.col("band").cast("string"))), 1, 15,
            ), 16, 10,
        ).cast("long") % n_sub
    )
    salted = bands.select("doc_id", "band", "band_sig", salt.alias("salt"))
    left = salted.select("band", "band_sig", "salt",
                         F.col("doc_id").alias("doc_a"))
    right = salted.select("band", "band_sig", "salt",
                          F.col("doc_id").alias("doc_b"))
    want = {(r.doc_a, r.doc_b) for r in (
        left.join(right, ["band", "band_sig", "salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct().collect()
    )}
    sets.unpersist()
    assert got == want
    # the hot bucket really was split: fewer pairs than all-pairs
    assert len(got) < 60 * 59 / 2 + 200


def test_connected_components_chain_and_islands(spark):
    from hstream_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # island 10-11, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_empty(spark):
    from hstream_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def _union_find_components(pairs):
    """Reference labelling: plain union-find, component = min member."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """The seeded label table (min(node, min direct neighbor)) must
    reach the same fixpoint as a pure-Python union-find on any graph.
    Pinned on a mixed graph (reversed chain + star + islands) where a
    wrong seed would surface as a different component minimum or a
    missing node."""
    from hstream_spark.operators.dedup import connected_components

    # reversed chain 9-8-...-1, star around 50, island pair, singleton
    # edge, all interleaved with ids that punish a lucky layout
    pairs = [(i + 1, i) for i in range(1, 9)]
    pairs += [(50, x) for x in (77, 41, 93, 62)]
    pairs += [(30, 31), (100, 99)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    comp = {r.doc_id: r.component for r in connected_components(df).collect()}

    assert comp == _union_find_components(pairs)
    assert set(comp.values()) == {1, 41, 30, 99}


def test_connected_components_raises_when_not_converged(spark):
    """Hitting max_iter with labels still changing must fail loudly,
    never return partial components; the same reversed 40-node chain
    converges under the default max_iter."""
    from hstream_spark.operators.dedup import connected_components

    n = 40
    df = spark.createDataFrame(
        [(n - i, n - i - 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match=r"max_iter=1\b.*still changing"):
        connected_components(df, max_iter=1)
    comp = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert len(comp) == n
    assert set(comp.values()) == {1}


def test_connected_components_long_chain_contracts(spark):
    """Round-12 star-contraction rewrite: a 300-node chain (worst-case
    diameter for min propagation) must converge well inside max_iter —
    the contracted edge set shrinks geometrically, so rounds are
    O(log n) — and every node must land on the chain minimum. Ids are
    REVERSED (min at the far end) so convergence can't come from a
    lucky id layout."""
    from hstream_spark.operators.dedup import connected_components

    n = 300
    pairs = spark.createDataFrame(
        [(n - i, n - i - 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    comp = {
        r.doc_id: r.component for r in connected_components(pairs).collect()
    }
    assert len(comp) == n
    assert set(comp.values()) == {1}


def test_connected_components_two_components_interleaved(spark):
    """Interleaved ids across two components: contraction must never
    merge across components (labels only ever move within an edge-
    connected neighborhood)."""
    from hstream_spark.operators.dedup import connected_components

    # evens form one chain, odds another; ids interleave
    pairs = [(i, i + 2) for i in range(0, 20, 2)]
    pairs += [(i, i + 2) for i in range(1, 21, 2)]
    comp = {
        r.doc_id: r.component
        for r in connected_components(
            spark.createDataFrame(pairs, "doc_a long, doc_b long")
        ).collect()
    }
    assert all(c == 0 for node, c in comp.items() if node % 2 == 0)
    assert all(c == 1 for node, c in comp.items() if node % 2 == 1)


def test_embedding_near_duplicates_lsh_no_cartesian(spark, emb):
    plan = (
        SIM.embedding_near_duplicates(emb, threshold=0.2, dim=64, blocked=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


class TestKMeans:
    def test_kmeans_improves_cohesion_and_is_deterministic(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from hstream_spark.operators.similarity import (
            kmeans_assign,
            kmeans_fit,
            train_ivf_quantizer,
        )
        from hstream_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")

        def cohesion(cents):
            return (
                kmeans_assign(emb, cents)
                .agg(F.avg("cos").alias("m"))
                .collect()[0]["m"]
            )

        seed = train_ivf_quantizer(emb, 4)
        trained = kmeans_fit(emb, init=seed, iters=3)
        # Lloyd iterations must not worsen the (monotone) objective
        assert cohesion(trained) >= cohesion(seed) - 1e-12
        # bit-deterministic: same data, same result
        again = kmeans_fit(emb, init=seed, iters=3)
        assert trained == again
        assert len(trained) == 4
        for _, c in trained:
            assert abs(sum(v * v for v in c) - 1.0) < 1e-9  # unit norm

    def test_kmeans_fit_accepts_fixed_init(self, spark, sf_dir):
        """`init=` pins the seeds (the hash-gated kmeans_fit_fixed
        path): training starts from exactly those centroids, iterates,
        and stays bit-deterministic. Partition count must not change
        the result — the fixed-point int64 sums are order-independent."""
        from hstream_spark.operators.similarity import kmeans_fit
        from hstream_spark.queries import _seed_centroids
        from hstream_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        init = _seed_centroids(emb)
        t1 = kmeans_fit(emb, init=init, iters=3)
        t2 = kmeans_fit(emb.repartition(13), init=init, iters=3)
        assert t1 == t2
        assert [cl for cl, _ in t1] == [0, 1, 2, 3]
        assert t1 != sorted(init)  # it actually moved the centroids

    def test_kmeans_fit_fused_objectives(self, spark, sf_dir):
        """Round-12: ``return_objectives=True`` must not change the
        trained model (the fused objective rides the same hash-agg as
        the centroid update), must emit one objective per iteration —
        each equal (up to partial-sum association, far under the 1e-9
        slack the consumer uses) to the separate-pass
        ``kmeans_assign(...).sum(cos)`` of the pre-update model — and
        a fused ``iters=3`` call must equal three chained ``iters=1``
        calls."""
        from pyspark.sql import functions as F

        from hstream_spark.operators.similarity import (
            kmeans_assign,
            kmeans_fit,
            train_ivf_quantizer,
        )
        from hstream_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        seed = train_ivf_quantizer(emb, 4)
        fused, objs = kmeans_fit(
            emb, init=seed, iters=3, return_objectives=True
        )
        assert kmeans_fit(emb, init=seed, iters=3) == fused
        chained = seed
        models = [seed]
        for _ in range(3):
            chained = kmeans_fit(emb, init=chained, iters=1)
            models.append(chained)
        assert chained == fused
        assert len(objs) == 3
        for m, got in zip(models[:3], objs):
            ref = (
                kmeans_assign(emb, m)
                .agg(F.sum("cos").alias("s"))
                .collect()[0]["s"]
            )
            assert abs(got - ref) < 1e-9 * max(1.0, abs(ref))


def test_bruteforce_np_rejects_oversized_query_side(spark, emb, monkeypatch):
    monkeypatch.setattr(SIM, "_MAX_QUERIES", 10)
    with pytest.raises(ValueError, match="_MAX_QUERIES=10"):
        SIM.brute_force_topk_np(emb, emb, k=3)


def _lloyd_codebooks(emb, m, ks, iters):
    """PQ codebooks by per-subspace Lloyd iterations in numpy, seeded
    with the ``ks`` lowest-id vectors; empty cells keep their centroid."""
    import numpy as np

    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    x = np.array([v for _, v in rows], dtype=np.float64)
    dsub = x.shape[1] // m
    books = []
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        cent = sub[:ks].copy()
        for _ in range(iters):
            code = ((sub[:, None, :] - cent[None]) ** 2).sum(-1).argmin(1)
            for c in range(ks):
                if (code == c).any():
                    cent[c] = sub[code == c].mean(0)
        books.append(cent.tolist())
    return books


class TestProductQuantization:
    def test_seed_codebooks_shape_and_determinism(self):
        a = SIM.pq_seed_codebooks(64, m=8, ks=16)
        b = SIM.pq_seed_codebooks(64, m=8, ks=16)
        assert a == b
        assert len(a) == 8 and len(a[0]) == 16 and len(a[0][0]) == 8
        assert all(-1.0 <= x < 1.0 for sub in a for c in sub for x in c)
        with pytest.raises(ValueError, match="not divisible"):
            SIM.pq_seed_codebooks(65, m=8)

    def test_encode_shape_and_range(self, spark, emb):
        books = SIM.pq_seed_codebooks(64, m=8, ks=16)
        codes = SIM.pq_encode(emb, books).collect()
        assert len(codes) == emb.count()
        for r in codes:
            assert len(r["codes"]) == 8
            assert all(0 <= c < 16 for c in r["codes"])

    def test_adc_recall_vs_exact(self, spark, emb):
        # trained PQ's top-10 should substantially overlap the exact
        # top-10 (ADC is approximate; seeded books are the floor)
        books = _lloyd_codebooks(emb, m=8, ks=16, iters=3)
        codes = SIM.pq_encode(emb, books)
        queries = emb.where(F.col("vec_id") < 5)
        approx = SIM.pq_adc_topk(codes, queries, books, k=10)
        # exact L2 == exact cosine ranking only for normalized vectors;
        # compare against exact *L2* top-10 computed directly
        q = queries.select(
            F.col("vec_id").alias("q_id"),
            SIM._to_double(F.col("embedding")).alias("qv"),
        )
        c = emb.select(
            F.col("vec_id").alias("c_id"),
            SIM._to_double(F.col("embedding")).alias("cv"),
        )
        from pyspark.sql import Window

        exact = (
            q.crossJoin(c)
            .where(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", SIM._l2sq(F.col("qv"), F.col("cv")).alias("d"))
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("q_id").orderBy(
                        F.col("d").asc(), F.col("c_id").asc()
                    )
                ),
            )
            .where(F.col("rank") <= 10)
        )
        got = {(r["q_id"], r["c_id"]) for r in approx.collect()}
        want = {(r["q_id"], r["c_id"]) for r in exact.collect()}
        recall = len(got & want) / len(want)
        # this corpus is near-uniform on the unit sphere (hard for PQ:
        # an ideal numpy PQ at these params lands ~0.3); random would
        # be 10/(n-1) ~ 0.02
        assert recall >= 0.2, recall


def test_pq_encode_np_matches_expression_path(spark, emb):
    books = SIM.pq_seed_codebooks(64, m=8, ks=16)
    expr = {r["vec_id"]: list(r["codes"])
            for r in SIM.pq_encode(emb, books).collect()}
    fast = {r["vec_id"]: list(r["codes"])
            for r in SIM.pq_encode_np(emb, books).collect()}
    assert expr == fast


def test_semantic_dedup_drops_lowest_id_keeps_rest(spark):
    """Within a cluster, every vector with a lower-id neighbor at
    cosine >= eps drops; the lowest-id group member survives."""
    from hstream_spark.operators.similarity import semantic_dedup

    # two tight groups along different axes + one isolated vector
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.01, 0.999, 0.0, 0.0]),   # dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),      # isolated
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
             (2, [0.0, 0.0, 1.0, 0.0])]
    out = sorted(r["vec_id"] for r in
                 semantic_dedup(vecs, cents, eps=0.95).collect())
    assert out == [1, 3, 5]


def test_semantic_dedup_np_matches_expression_path(spark, emb):
    from hstream_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_np,
    )

    rows = emb.filter(F.col("vec_id").isin(1, 7, 19, 42)).collect()
    import math

    def _l2(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [float(x) / n for x in v]

    cents = [(i, _l2([float(x) for x in r["embedding"]]))
             for i, r in enumerate(sorted(rows, key=lambda r: r["vec_id"]))]
    a = sorted((r["vec_id"], r["cluster"])
               for r in semantic_dedup(emb, cents, eps=0.4).collect())
    b = sorted((r["vec_id"], r["cluster"])
               for r in semantic_dedup_np(emb, cents, eps=0.4).collect())
    assert a == b


class TestLinearProbe:
    """Linear-probe trainer (least-squares GD on embedding dims):
    convergence on a separable synthetic task, determinism, and the
    scoring half."""

    def test_probe_learns_separable_labels(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        # y = 1 iff x0 + x1 > 0 — linearly separable in the first two
        # dims; deterministic pseudo-random features from md5
        import hashlib

        def feat(i, j):
            h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
            return (h / 0x7FFFFFFF) - 1.0

        rows = []
        for i in range(400):
            x = [feat(i, j) for j in range(8)]
            rows.append((i, x, 1.0 if x[0] + x[1] > 0 else 0.0))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, y double"
        )

        def mse(w):
            scored = SIM.linear_probe_score(df, w).join(
                df.select("vec_id", "y"), "vec_id"
            )
            return scored.agg(
                F.avg((F.col("score") - F.col("y")) ** 2).alias("m")
            ).collect()[0]["m"]

        # full-batch GD from the zero start is deterministic, so the
        # model after `iters` steps is the state of one chained descent
        losses = [mse([0.0] * 9)]
        for iters in range(1, 5):
            w = SIM.linear_probe_fit(
                df, label=F.col("y"), dim=8, iters=iters, lr=0.5
            )
            losses.append(mse(w))
        # GD strictly improves on a separable least-squares problem
        assert all(b < a for a, b in zip(losses, losses[1:])), losses
        # the two informative dims dominate the learned weights
        assert abs(w[0]) > 3 * max(abs(v) for v in w[2:8])
        assert abs(w[1]) > 3 * max(abs(v) for v in w[2:8])
        # and the trained probe classifies well above chance
        scored = SIM.linear_probe_score(df, w).join(
            df.select("vec_id", "y"), "vec_id"
        )
        acc = scored.agg(
            F.avg((F.col("keep").cast("double") == F.col("y")).cast("double"))
        ).collect()[0][0]
        assert acc > 0.8, acc

    def test_probe_is_deterministic_across_partitionings(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        emb = spark.createDataFrame(
            [(i, [((i * 37 + j * 11) % 101 - 50) / 50.0 for j in range(8)],
              float(i % 2)) for i in range(200)],
            "vec_id long, embedding array<double>, y double",
        )
        w1 = SIM.linear_probe_fit(emb.repartition(1), F.col("y"), dim=8, iters=2)
        w32 = SIM.linear_probe_fit(emb.repartition(32), F.col("y"), dim=8, iters=2)
        assert w1 == w32  # fixed-point sums are order-independent

    def test_probe_skips_untrainable_rows(self, spark):
        """Short arrays / NULL elements / NULL labels drop out of BOTH
        the gradient sums and the n denominator (a counted-but-
        contributing-nothing row silently shrinks every step with a
        per-position-INCONSISTENT denominator); an all-bad corpus
        raises instead of returning the zero start or crashing on float(None)."""
        import pytest as _pytest

        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        clean = spark.createDataFrame(
            [(i, [((i * 37 + j * 11) % 101 - 50) / 50.0 for j in range(8)],
              float(i % 2)) for i in range(50)],
            "vec_id long, embedding array<double>, y double",
        )
        dirty = clean.unionByName(
            spark.createDataFrame(
                [
                    (100, None, 1.0),
                    (101, [0.1] * 8, None),
                    (102, [0.1] * 3, 1.0),
                    (103, [0.1, None] + [0.1] * 6, 0.0),
                ],
                "vec_id long, embedding array<double>, y double",
            )
        )
        w_clean = SIM.linear_probe_fit(clean, F.col("y"), dim=8, iters=2)
        w_dirty = SIM.linear_probe_fit(dirty, F.col("y"), dim=8, iters=2)
        assert w_clean == w_dirty  # fixed-point: exact equality holds
        all_bad = spark.createDataFrame(
            [(0, [0.1] * 3, 1.0), (1, None, 0.0)],
            "vec_id long, embedding array<double>, y double",
        )
        with _pytest.raises(ValueError, match="no trainable rows"):
            SIM.linear_probe_fit(all_bad, F.col("y"), dim=8, iters=1)


class TestLogisticProbe:
    """Logistic-probe trainer (full-batch GD on BCE): loss-monotone on
    its convex objective, learns a separable task, and ignores NULL
    rows like the linear sibling."""

    def _separable(self, spark, n=400):
        import hashlib

        def feat(i, j):
            h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
            return (h / 0x7FFFFFFF) - 1.0

        rows = []
        for i in range(n):
            x = [feat(i, j) for j in range(8)]
            rows.append((i, x, 1.0 if x[0] + x[1] > 0 else 0.0))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, y double"
        )

    def test_logistic_probe_learns_separable_labels(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        df = self._separable(spark)
        w, losses = SIM.logistic_probe_fit(
            df, label=F.col("y"), dim=8, iters=10, lr=0.5
        )
        assert len(losses) == 11
        # convex objective + conservative step: monotone non-increasing
        assert all(b <= a + 1e-12 for a, b in zip(losses, losses[1:])), losses
        assert losses[-1] < 0.9 * losses[0]  # and actually LEARNING
        # the two informative dims dominate the learned weights
        assert abs(w[0]) > 2 * max(abs(v) for v in w[2:8])
        assert abs(w[1]) > 2 * max(abs(v) for v in w[2:8])
        # decision threshold for a logistic score is z > 0, i.e.
        # linear_probe_score with threshold 0.0
        scored = SIM.linear_probe_score(df, w, threshold=0.0).join(
            df.select("vec_id", "y"), "vec_id"
        )
        acc = scored.agg(
            F.avg((F.col("keep").cast("double") == F.col("y")).cast("double"))
        ).collect()[0][0]
        assert acc > 0.85, acc

    def test_logistic_probe_skips_null_rows(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        df = self._separable(spark, n=100)
        noisy = df.unionByName(
            spark.createDataFrame(
                [
                    (1000, None, 1.0),            # NULL embedding
                    (1001, [0.1] * 8, None),       # NULL label
                    (1002, [0.1] * 3, 1.0),        # SHORT array (< dim)
                    (1003, [0.1, None] + [0.1] * 6, 0.0),  # NULL element
                ],
                "vec_id long, embedding array<double>, y double",
            )
        )
        w_clean, l_clean = SIM.logistic_probe_fit(
            df, label=F.col("y"), dim=8, iters=3, lr=0.25
        )
        w_noisy, l_noisy = SIM.logistic_probe_fit(
            noisy, label=F.col("y"), dim=8, iters=3, lr=0.25
        )
        # double sums are shuffle-order-dependent (unlike the linear
        # probe's fixed-point quanta), so compare to tight tolerance
        assert all(abs(a - b) <= 1e-9 * max(1.0, abs(a))
                   for a, b in zip(w_clean, w_noisy))
        assert all(abs(a - b) <= 1e-9 * max(1.0, abs(a))
                   for a, b in zip(l_clean, l_noisy))

    def test_logistic_probe_backtracks_on_overshoot(self, spark):
        """Large feature norms put fixed lr=0.25 above the BCE
        curvature bound (~4n/||X||²) — unguarded full-batch GD then
        overshoots and the loss INCREASES, flaking the oracle's
        loss-non-increasing invariant. The step-halving guard must keep
        the losses monotone non-increasing regardless of feature scale,
        while still actually descending."""
        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        df = self._separable(spark).withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x * 50.0)
        )
        w, losses = SIM.logistic_probe_fit(
            df, label=F.col("y"), dim=8, iters=5, lr=0.25
        )
        assert len(losses) == 6
        assert all(b <= a + 1e-12 for a, b in zip(losses, losses[1:])), losses
        assert losses[-1] < losses[0]  # halving still makes progress

    def test_logistic_probe_all_null_raises(self, spark):
        import pytest as _pytest

        from pyspark.sql import functions as F

        from hstream_spark.operators import similarity as SIM

        bad = spark.createDataFrame(
            [(0, [0.1] * 3, 1.0), (1, None, 0.0)],
            "vec_id long, embedding array<double>, y double",
        )
        with _pytest.raises(ValueError, match="no trainable rows"):
            SIM.logistic_probe_fit(bad, F.col("y"), dim=8, iters=1)


class TestScalarQuantization:
    def _corpus(self, spark, dim=4):
        rows = [
            (0, [0.0, 1.0, -1.0, 0.5]),
            (1, [0.1, 0.9, -0.8, 0.4]),
            (2, [-1.0, -1.0, 1.0, -0.5]),
            (3, [0.0, 1.0, -1.0, 0.5]),     # exact duplicate of 0
            (4, [0.5, 0.0, 0.0, 0.0]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_encode_codes_in_range_and_monotone(self, spark):
        from hstream_spark.operators.similarity import sq_encode, sq_train

        emb = self._corpus(spark)
        mns, mxs = sq_train(emb)
        assert len(mns) == 4 and all(m <= x for m, x in zip(mns, mxs))
        codes = {r["vec_id"]: r["codes"] for r in sq_encode(emb, mns, mxs).collect()}
        for cs in codes.values():
            assert all(0 <= c <= 255 for c in cs)
        # the per-dim min encodes 0 and the max encodes 255
        assert codes[2][0] == 0 and codes[0][1] == 255
        # dim ordering preserved: doc 4 is mid-range on dim 0
        assert 0 < codes[4][0] <= 255

    def test_adc_topk_finds_exact_duplicate_first(self, spark):
        from hstream_spark.operators.similarity import (
            sq_adc_topk,
            sq_encode,
            sq_train,
        )
        from pyspark.sql import functions as F

        emb = self._corpus(spark)
        mns, mxs = sq_train(emb)
        codes = sq_encode(emb, mns, mxs)
        queries = emb.where(F.col("vec_id") == 0)
        out = sq_adc_topk(codes, queries, mns, mxs, k=3).collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        # vec 3 is byte-identical to the query — it must rank first,
        # and closer than any non-identical vector
        assert out[0]["c_id"] == 3
        assert out[0]["sqdist"] < out[1]["sqdist"]
        assert all(r["sqdist"] >= 0 for r in out)

    def test_adc_topk_query_cap_raises(self, spark, monkeypatch):
        from hstream_spark.operators.similarity import (
            sq_adc_topk,
            sq_encode,
            sq_train,
        )

        emb = self._corpus(spark)
        mns, mxs = sq_train(emb)
        codes = sq_encode(emb, mns, mxs)
        import pytest

        monkeypatch.setattr(SIM, "_MAX_QUERIES", 2)
        with pytest.raises(ValueError, match="_MAX_QUERIES=2"):
            sq_adc_topk(codes, emb, mns, mxs, k=1)

    def test_constant_dimension_encodes_zero(self, spark):
        from hstream_spark.operators.similarity import sq_encode, sq_train

        emb = spark.createDataFrame(
            [(0, [0.5, 1.0]), (1, [0.5, -1.0])],
            "vec_id long, embedding array<float>",
        )
        mns, mxs = sq_train(emb)
        assert mns[0] == mxs[0]
        codes = {r["vec_id"]: r["codes"] for r in sq_encode(emb, mns, mxs).collect()}
        assert codes[0][0] == 0 and codes[1][0] == 0

    def test_np_kernels_match_expression_path(self, spark, sf_dir):
        """The catalog entry runs the Arrow/numpy kernels; the Catalyst
        expression path must agree byte-exactly (all-int64 pipeline)."""
        from pyspark.sql import functions as F

        from hstream_spark.operators.similarity import (
            sq_adc_topk,
            sq_adc_topk_np,
            sq_encode,
            sq_encode_np,
            sq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        mns, mxs = sq_train(emb)
        c_expr = {r["vec_id"]: list(r["codes"])
                  for r in sq_encode(emb, mns, mxs).collect()}
        c_np = {r["vec_id"]: list(r["codes"])
                for r in sq_encode_np(emb, mns, mxs).collect()}
        assert c_expr == c_np
        q = emb.where(F.col("vec_id") < 3)
        t_expr = sorted(
            tuple(r) for r in
            sq_adc_topk(sq_encode(emb, mns, mxs), q, mns, mxs, k=10).collect()
        )
        t_np = sorted(
            tuple(r) for r in
            sq_adc_topk_np(sq_encode_np(emb, mns, mxs), q, mns, mxs, k=10).collect()
        )
        assert t_expr == t_np

    def test_encode_clamps_out_of_range_vectors(self, spark):
        """Encoding against a PREVIOUSLY trained quantizer (the
        incremental-index use) must clamp to [0, 255] — FAISS SQ8
        behavior — identically on both kernel paths."""
        from hstream_spark.operators.similarity import (
            sq_encode,
            sq_encode_np,
            sq_train,
        )

        train = spark.createDataFrame(
            [(0, [0.0, 1.0]), (1, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        mns, mxs = sq_train(train)
        # values outside the trained per-dim [min, max] on both sides
        fresh = spark.createDataFrame(
            [(10, [-5.0, 9.0]), (11, [0.5, 1.5])],
            "vec_id long, embedding array<float>",
        )
        c_expr = {r["vec_id"]: list(r["codes"])
                  for r in sq_encode(fresh, mns, mxs).collect()}
        c_np = {r["vec_id"]: list(r["codes"])
                for r in sq_encode_np(fresh, mns, mxs).collect()}
        assert c_expr == c_np
        assert c_expr[10] == [0, 255]
        assert all(0 <= c <= 255 for cs in c_expr.values() for c in cs)

    @pytest.mark.slow
    def test_adc_topk_np_tie_break_at_cut_boundary(self, spark):
        """Duplicate vectors collapse to identical codes → exact sqdist
        ties; a tie that straddles the per-batch k+1 cut must resolve by
        (sqdist asc, c_id asc), not argpartition order. Single partition
        forces every tied candidate through the same batch-local cut."""
        from pyspark.sql import functions as F

        from hstream_spark.operators.similarity import (
            sq_adc_topk,
            sq_adc_topk_np,
            sq_encode_np,
            sq_train,
        )

        # 8 identical vectors (all tie at distance 0 from the query)
        # plus the query itself; k=3 → kk=4 < 8 tied candidates
        rows = [(i, [0.25, 0.75]) for i in range(9)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1)
        mns, mxs = sq_train(emb)
        codes = sq_encode_np(emb, mns, mxs)
        q = emb.where(F.col("vec_id") == 8)
        got = [(r["c_id"], r["rank"])
               for r in sq_adc_topk_np(codes, q, mns, mxs, k=3).collect()]
        # global order: smallest c_ids among the tied set
        assert got == [(0, 1), (1, 2), (2, 3)]
        want = [(r["c_id"], r["rank"])
                for r in sq_adc_topk(codes, q, mns, mxs, k=3).collect()]
        assert got == want

    def test_persisted_index_matches_direct_path(self, spark, sf_dir,
                                                 tmp_path):
        from pyspark.sql import functions as F

        from hstream_spark.operators.similarity import (
            build_sq_index,
            sq_adc_topk_np,
            sq_encode_np,
            sq_index_topk,
            sq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path = str(tmp_path / "sqidx")
        build_sq_index(emb, path)
        q = emb.where(F.col("vec_id") < 2)
        via_index = sorted(
            tuple(r) for r in sq_index_topk(spark, path, q, k=5).collect()
        )
        mns, mxs = sq_train(emb)
        direct = sorted(
            tuple(r) for r in
            sq_adc_topk_np(sq_encode_np(emb, mns, mxs), q, mns, mxs, k=5).collect()
        )
        assert via_index == direct and len(via_index) == 10
