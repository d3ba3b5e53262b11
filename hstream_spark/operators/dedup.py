"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

LLM-data-pipeline extensions (no counterpart in the reference). The
scale story, per operator:

- **exact**: hash-groupBy on md5(text) — one shuffle keyed by a 128-bit
  digest (no skew: digests are uniform), map-side combine.
- **minhash_lsh**: shingle → 31-bit hash → k permutations → band
  signatures. Candidate generation is a self-join on (band, signature)
  — i.e. a shuffle keyed by the band bucket, which is the whole point
  of LSH: at 100 TB the candidate set is ~linear in the number of true
  near-dups, never O(n²). Verification re-computes exact Jaccard only
  for candidates.
- **simhash**: 32-bit signature per doc via bitwise majority vote of
  token hashes (explode + 32 conditional sums, map-side combined);
  near-dup pairs block on 8-bit bands (Hamming ≤ 3 ⇒ at least one of
  four bands equal) then filter by bit_count(xor) — again shuffle only
  on small band keys.
- **ngram_jaccard**: exact word-bigram Jaccard within explicit blocks
  (e.g. same language) — the brute-force baseline; quadratic within a
  block, so blocks must be bounded (LSH is the scale path).

All hashing is md5-derived (engine-agnostic, reproducible) — see
operators/text.py. Everything is Catalyst expressions; no Python UDFs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hstream_spark.operators.text import P31, ngrams, token_hash, tokens

# Deterministic MinHash permutation parameters: perm i maps h to
# (A_i * h + B_i) mod P31 with odd multipliers.
MINHASH_PERMS = 16
BANDS = 4
ROWS_PER_BAND = MINHASH_PERMS // BANDS


def _perm_a(i: int) -> int:
    return 2 * i + 1


def _perm_b(i: int) -> int:
    return (7919 * (i + 1)) % P31


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: digest, representative (min id),
    count. Only groups with >1 member are duplicates."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


SHINGLE_B = 1_000_003  # polynomial combiner for token-hash n-grams


def ceil_div(num: Column, den: int) -> Column:
    """ceil(num/den) on longs in exact integer arithmetic.

    ``(num + den-1) / den`` with Column ``/`` is DOUBLE division then
    truncation — exact in practice below 2^53, but the byte-exact
    engine/oracle contract (DuckDB uses integer ``//``) should not rest
    on an FP-rounding argument. Subtracting the remainder first makes
    the quotient an exact integer by construction for any ``den``.
    """
    q = num + F.lit(den - 1)
    return ((q - q % den) / den).cast("long")


def token_hash_array(text: Column) -> Column:
    """31-bit md5 token hashes of the whitespace tokens, in order."""
    return F.transform(tokens(text), token_hash)


def shingles_from_hashes(th: Column, n: int = 3) -> Column:
    """Distinct word-n-gram hashes from an (already materialized)
    token-hash array column.

    Each shingle hash is the polynomial fold of its n token hashes mod
    2^31-1 — arithmetic only, no string concat / re-hash per shingle;
    intermediate products stay < 2^52. Built with ``zip_with`` over
    shifted slices rather than per-index ``element_at`` lambdas:
    higher-order functions are interpreted (no whole-stage codegen, no
    common-subexpression elimination), so an ``element_at(th, i)``
    inside a lambda re-evaluates its argument per access. The zip form
    references ``th`` n times — which is why callers must pass a bound
    COLUMN (cheap array re-read), never the md5 transform expression
    itself (n full re-hashes of every token).
    """
    acc = th
    for k in range(1, n):
        shifted = F.slice(th, k + 1, F.size(th))
        acc = F.zip_with(acc, shifted, lambda x, y: (x * SHINGLE_B + y) % P31)
    # zip_with pads the shorter (shifted) side with nulls → drop them.
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


def doc_shingle_sets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     n: int = 3, nonempty: bool = False) -> DataFrame:
    """(doc_id, hs) — the materialization point every downstream stage
    (signatures, bands, Jaccard) reuses.

    Two stacked projections: the first computes the token-hash array
    (ONE md5 pass per document), the second folds it into shingles.
    The split is load-bearing: the fold references the array n times,
    and Catalyst's CollapseProject keeps the expensive md5 transform in
    its own projection instead of inlining a copy per reference.

    ``nonempty=True`` drops documents with fewer than ``n`` tokens —
    exactly the rows whose shingle set is empty — as a CHEAP token-count
    filter on the scan columns. Equivalent to ``.where(size(hs) > 0)``
    but pushdown-safe: a size(hs) predicate pushed through the
    projection re-evaluates the whole shingle tree per row.
    """
    from hstream_spark.sources.tables import spread

    base = spread(docs)
    if nonempty:
        base = base.where(F.size(tokens(F.col(text_col))) >= n)
    tok = base.select(
        F.col(id_col).alias("doc_id"),
        token_hash_array(F.col(text_col)).alias("_th"),
    )
    return tok.select(
        "doc_id", shingles_from_hashes(F.col("_th"), n).alias("hs")
    )


def minhash_signature_from_sets(sets: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, hs, sig): per permutation i, min over shingle hashes of
    (A_i*h + B_i) mod P31. Empty shingle set → P31 sentinel. One
    projection — tokenization is not re-run per permutation, and all
    permutation coefficients ship as ONE nested literal with a
    transform fold (not ``perms`` unrolled trees — plan construction
    cost scales with expression size)."""
    perm_lit = F.lit([[_perm_a(i), _perm_b(i)] for i in range(perms)])
    sig = F.transform(
        perm_lit,
        lambda p: F.coalesce(
            F.array_min(
                F.transform(
                    F.col("hs"),
                    lambda h: (h * F.element_at(p, 1) + F.element_at(p, 2)) % P31,
                )
            ),
            F.lit(P31).cast("long"),
        ),
    )
    return sets.withColumn("sig", sig)


def minhash_bands_from_sets(sets: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) via a single posexplode pass — no
    union-of-branches, so the signature expression evaluates once.

    Docs with EMPTY shingle sets are excluded from the band table: they
    would all share the P31-sentinel signature, and on a corpus with
    many sub-n-token documents that one phantom bucket makes the
    candidate self-join quadratic in their count — pairs that the
    downstream Jaccard filter would drop anyway (null similarity), but
    only after the join cost is paid. Consumers' results are unchanged;
    the join is strictly cheaper, and lsh_bucket_stats (which predicts
    this join's cost) stays consistent with it.

    The exclusion is a ``when(size(hs) > 0, …)`` guard on the exploded
    array, NOT a Filter node: ``posexplode(NULL)`` emits no rows, so
    the semantics are identical, while a Filter on size(hs) would be
    pushed through the shingle projection and re-evaluate the whole
    fold (and, pre-split, the md5 token transform) once more per row
    (round-12 plan audit: that duplication put the md5 pass at 12x per
    document across the family)."""
    with_sig = minhash_signature_from_sets(sets)
    band_strs = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.array_join(
            F.transform(
                F.slice(F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                lambda x: x.cast("string"),
            ),
            "-",
        ),
    )
    guarded = F.when(F.size("hs") > 0, band_strs)
    return with_sig.select(
        "doc_id", F.posexplode(guarded).alias("band", "band_sig")
    )


def jaccard_for_pairs(sets: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    |∩| via array_intersect on distinct hashes; |∪| = |A|+|B|−|∩|."""
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - inter
    return joined.select(
        "doc_a",
        "doc_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def minhash_near_duplicates(docs: DataFrame, threshold: float = 0.5,
                            text_col: str = "text", id_col: str = "doc_id",
                            n: int = 3,
                            cap: Optional[int] = None) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle sets → band buckets →
    candidate self-join → exact-Jaccard verify ≥ threshold.

    The shingle-set frame feeds three plan branches (bands ×2 sides,
    Jaccard ×2 sides); it is persisted so the tokenize+hash scan runs
    once. At cluster scale replace the cache with a parquet
    checkpoint of (doc_id, hs).

    ``cap`` routes candidate generation through
    ``capped_band_candidates`` (hot band buckets split into salted
    sub-buckets, bounding any one bucket's pairs at O(m·cap)); ``None``
    keeps the plain all-pairs-per-bucket join.
    """
    sets = doc_shingle_sets(docs, text_col, id_col, n).persist()
    bands = minhash_bands_from_sets(sets)
    if cap is not None:
        cands = capped_band_candidates(bands, cap)
    else:
        left = bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
        right = bands.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
        cands = (
            left.join(right, ["band", "band_sig"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    return jaccard_for_pairs(sets, cands).filter(F.col("jaccard") >= threshold)


def capped_band_candidates(bands: DataFrame, cap: int) -> DataFrame:
    """Candidate pairs from a band table with HOT-BUCKET CAPPING.

    The LSH failure mode a web corpus hits that curated corpora don't:
    one boilerplate-collapsed band bucket (cookie banners, error pages,
    SEO spam) holding m docs yields m²/2 candidate pairs — a single hot
    key that turns the linear candidate join quadratic at 100 TB.
    Mitigation: buckets over ``cap`` are split into ceil(m/cap) salted
    sub-buckets (salt = engine-agnostic md5 of ``doc_id#band`` mod
    n_sub, so each BAND re-salts independently), and pairs form only
    within a sub-bucket — still scored by exact Jaccard downstream.
    Pair count per hot bucket drops from O(m²) to O(m·cap).

    Semantics: buckets at or under the cap get salt 0 on every member,
    so their pair set is EXACTLY the uncapped one — on a corpus with no
    hot buckets the decisions are identical. In a hot bucket a dup pair
    is compared iff some band co-salts it (P ≈ 1-(1-1/n_sub)^BANDS),
    but a dup CLUSTER stays connected with overwhelming probability
    (a doc is isolated only if it shares no sub-bucket with any of its
    ~cap co-salted neighbours in all bands), which is what component-
    based dedup consumes. Documented bounded-recall trade, not a bug.

    Bucket sizes come from a count window over the same (band,
    band_sig) key the candidate self-join shuffles on, so AQE reuses
    one exchange; no extra join against a sizes table. Round 13
    re-measured the tempting hot-only alternative (aggregate counts,
    keep only buckets over the cap, broadcast-LEFT-join the tiny hot
    set back — byte-identical salts, pinned by
    test_capped_band_candidates_hot_only_broadcast_matches_window):
    it ran +31% on the full capped pipeline at sf0.1 (1.48 -> 1.94 s
    median, alternating same-JVM A/B) because the counting pass
    re-runs the band fold over the shingle sets, which costs more
    than the window's sort of the band frame.
    """
    from pyspark.sql import Window

    bn = F.count(F.lit(1)).over(Window.partitionBy("band", "band_sig"))
    n_sub = ceil_div(bn, cap)
    salt = F.when(bn <= cap, F.lit(0).cast("long")).otherwise(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("doc_id").cast("string"),
                        F.col("band").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % n_sub
    )
    salted = bands.select("doc_id", "band", "band_sig", salt.alias("salt"))
    left = salted.select(
        "band", "band_sig", "salt", F.col("doc_id").alias("doc_a")
    )
    right = salted.select(
        "band", "band_sig", "salt", F.col("doc_id").alias("doc_b")
    )
    return (
        left.join(right, ["band", "band_sig", "salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_duplicates_capped(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    cap: int = 32,
) -> DataFrame:
    """``minhash_near_duplicates`` with bounded hot buckets — one body,
    selected by its ``cap`` parameter, so the two operators can never
    silently diverge. Equal to the uncapped operator wherever every
    bucket fits the cap; see ``capped_band_candidates`` for the hot-
    bucket semantics."""
    return minhash_near_duplicates(
        docs, threshold, text_col, id_col, n, cap=cap
    )


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Near-duplicate clusters from a pair list: iterative min-label
    propagation (each node adopts the smallest id reachable so far)
    until fixpoint — the dedup completion step that turns pairwise
    matches into groups with a deterministic canonical member
    (component = min id).

    Pregel-style driver loop with POINTER JUMPING: each round a node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path compression), so convergence is O(log diameter)
    rounds instead of O(diameter) — the difference between 4 and 40
    shuffles on chain-shaped clusters at corpus scale. Every round is
    two distributed joins + one groupBy; the convergence flag rides the
    checkpointed frame (no extra join job), and ``localCheckpoint``
    truncates lineage so the plan stays flat regardless of rounds.
    localCheckpoint (not persist) is LOAD-BEARING here, not merely
    faster: round 13 measured the executor-loss-resilient
    persist(MEMORY_AND_DISK) alternative and it never finished at
    sf0.1 — each round's plan references the previous labels THREE
    times (self, neighbor join, label-of-label), so without lineage
    truncation the logical tree grows 3^rounds and driver-side
    analysis explodes (>13 min near-idle vs ~8 s; killed). On a
    cluster the executor-loss trade therefore stands as documented:
    a lost executor re-runs the job from the last checkpoint rather
    than recomputing partitions.

    The label table is SEEDED at min(node, min direct neighbor) — with
    identity labels that is exactly what the first fixpoint round
    computes (nb_label = min neighbor id; label-of-label degenerates to
    the node's own id), so seeding replaces a whole round — two joins,
    a checkpoint and a count job — with one aggregate folded into the
    init that was already scanning the edges (round-12 A/B: the node
    set came from a distinct over the same frame). Every later round is
    byte-identical by induction from the identical post-round-1 state.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds, rather than returning unconverged components.
    """
    # The symmetric edge set references the pair frame TWICE (once per
    # union branch) and Spark plans no reuse across the branches — so an
    # expensive candidate pipeline (banded self-join + distinct +
    # verification) would evaluate twice while `edges` materializes. One
    # localCheckpoint pins the pair list (always candidate-stage-bounded,
    # far smaller than the corpus) so the union reads blocks instead of
    # re-running the pipeline.
    e = pairs.select(
        F.col(left_col).cast("long").alias("a"),
        F.col(right_col).cast("long").alias("b"),
    ).localCheckpoint()
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("__mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("__mb")).alias("label"),
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nb_label"))
        )
        # label-of-label (pointer jumping): follow one indirection so
        # chains halve every round
        lbl2 = labels.alias("x").join(
            labels.alias("y"), F.col("x.label") == F.col("y.node")
        ).select(F.col("x.node").alias("n2"), F.col("y.label").alias("ll"))
        best = F.least(
            F.col("label"),
            F.coalesce(F.col("nb_label"), F.col("label")),
            F.coalesce(F.col("ll"), F.col("label")),
        )
        new_labels = (
            labels.join(nb_min, labels["node"] == nb_min["a"], "left")
            .join(lbl2, labels["node"] == lbl2["n2"], "left")
            .select(
                F.col("node"),
                best.alias("label"),
                (best < F.col("label")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    edges.unpersist()
    if changed:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} rounds: {changed} labels still changing"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def simhash_column(text: Column, bits: int = 32) -> Column:
    """32-bit SimHash as a pure projection: majority vote per bit over
    token hashes (+1 if bit set, −1 otherwise; signature bit set iff
    sum > 0).

    Computed as a single per-row fold with an array-of-32 accumulator —
    map-only, no explode, no shuffle: the per-document signature never
    leaves the scan stage regardless of corpus size. All lambda
    references are cheap bound variables: interpreted higher-order
    functions re-evaluate an inlined expression at every reference
    (see ``doc_shingle_sets``).
    """
    powers = F.lit([1 << b for b in range(bits)])
    th = F.transform(tokens(text), token_hash)
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    sums = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda v, p: v + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sig_bits = F.zip_with(
        sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(sig_bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — see simhash_column."""
    from hstream_spark.sources.tables import spread

    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        simhash_column(F.col(text_col), bits).alias("simhash"),
    )


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 3,
                            text_col: str = "text", id_col: str = "doc_id",
                            cap: Optional[int] = None) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming, blocked on 8-bit bands.

    With 4 bands and Hamming ≤ 3, pigeonhole guarantees an equal band,
    so blocking loses no true pair while keeping the join keyed.
    The band frame (bands from a single posexplode pass, so the
    signature fold runs once; plus the occupancy-Window salt on the
    capped path) is localCheckpoint-ed before the self-join: Spark
    plans no ReusedExchange across the two self-join sides, so without
    materialization each side re-runs the posexplode — and on the
    capped path the Window with its own exchange. Measured at sf0.1
    with byte-identical pairs: capped 3.0 → 1.95 s, uncapped
    1.60 → 1.44 s vs the old persist-signatures-and-re-explode shape.
    Cluster caveat (same as every localCheckpoint site in this
    module): the checkpoint truncates lineage to non-replicated
    executor blocks, so an executor loss during the
    self-join forces a job re-run rather than a partition recompute.
    The resilient persist(MEMORY_AND_DISK)+count alternative measured
    ~8% slower at sf0.1 (1.72 vs 1.86 s median, round-13 alternating
    A/B) — close enough that a cluster deployment on preemptible
    executors should flip to it; locally the checkpoint stays.

    ``cap`` bounds hot band buckets (the ``capped_band_candidates``
    scheme, same engine-agnostic salt = md5(doc_id#band) mod n_sub):
    a boilerplate-collapsed bucket of m docs contributes O(m·cap)
    candidates instead of m²/2 — the 100 TB shape. Buckets at or under
    the cap keep salt 0 on every member, so corpora without hot buckets
    get EXACTLY the uncapped pair set; in a hot bucket a dup pair
    survives iff some band co-salts it (bounded-recall trade; dup
    CLUSTERS stay connected with overwhelming probability, which is
    what component-based pruning consumes).
    """
    sh = simhash(docs, text_col, id_col)
    band_keys = F.array(
        *[
            F.shiftright(F.col("simhash"), band * 8).bitwiseAND(F.lit(255))
            for band in range(4)
        ]
    )
    b = sh.select(
        "doc_id", "simhash", F.posexplode(band_keys).alias("band", "bkey")
    )
    keys = ["band", "bkey"]
    if cap is None:
        # same no-ReusedExchange story as the capped branch below, just
        # a cheaper duplicated subtree (posexplode only): checkpointing
        # the band frame measured 1.60 -> 1.44 s at sf0.1 vs persisting
        # the signatures and re-exploding per join side. Eager on
        # purpose (round 13 re-measured the ADVICE r12 lazy
        # suggestion): with eager=False the two self-join sides —
        # independent stages of one job — each computed the signature
        # fold concurrently before any partition was checkpointed,
        # +36% on dedup_simhash / +65% on curation_pipeline at sf0.1.
        b = b.localCheckpoint()
    if cap is not None:
        # Occupancy stays a count Window ON PURPOSE (round 13
        # re-derivation): the Window's (band, bkey) hash partitioning
        # is a SUBSET of the self-join keys (band, bkey, salt), so the
        # checkpointed frame below satisfies the join's distribution
        # and the candidate self-join plans with ZERO further
        # exchanges. The tempting groupBy-counts + broadcast-join-back
        # alternative measured dedup_simhash_capped 1.23 -> 2.2-2.5 s
        # at sf0.1: it reintroduces per-side join exchanges (4 -> 12
        # Exchange nodes) and the bogus-small post-broadcast size
        # estimate flips the self-join to a full-side broadcast.
        from pyspark.sql import Window as _W

        bn = F.count(F.lit(1)).over(_W.partitionBy("band", "bkey"))
        n_sub = ceil_div(bn, cap)
        salt = F.when(bn <= cap, F.lit(0).cast("long")).otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#",
                            F.col("doc_id").cast("string"),
                            F.col("band").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % n_sub
        )
        b = b.select(
            "doc_id", "simhash", "band", "bkey", salt.alias("salt")
        ).localCheckpoint()
        keys = ["band", "bkey", "salt"]
    left = b.select(*keys, F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    right = b.select(*keys, F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # Hamming-filter BEFORE distinct: the filter is cheap codegen'd
    # bit arithmetic over the (possibly skew-inflated) candidate set,
    # and dedup then runs on the small survivor set only.
    return (
        left.join(right, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# Largest block the quadratic within-block pair operators accept.
_MAX_BLOCK = 20_000


def _guard_block_size(docs: DataFrame, block_cols: list[str], op_name: str) -> None:
    """Enforce the 'blocks must be bounded' contract of the quadratic
    within-block baselines: a skewed block key (one language, one
    domain) silently turns O(Σ block²) into O(corpus²). One cheap
    count-per-block aggregation over the BLOCK COLUMNS ONLY (block
    size doesn't depend on text, so the scan column-prunes to the keys
    and no shingle work runs; model-sized driver traffic — a single
    max) fails loudly with the scale path instead."""
    top = (
        docs.select(*[F.col(c) for c in block_cols])
        .groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("n"))
        .collect()[0]
    )
    if (top["mx"] or 0) > _MAX_BLOCK:
        raise ValueError(
            f"{op_name}: largest block has {top['mx']} rows "
            f"(> _MAX_BLOCK={_MAX_BLOCK}); the within-block self-join is "
            f"quadratic, so this block alone yields ~{top['mx']}^2 pairs. "
            "Use finer block_cols, or use "
            "minhash_near_duplicates / dedup_minhash_lsh (banded LSH) as "
            "the corpus-scale candidate generator."
        )


def ngram_jaccard_pairs(docs: DataFrame, block_cols: list[str], threshold: float = 0.3,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 2) -> DataFrame:
    """Exact word-n-gram Jaccard over all pairs within a block.

    Brute-force baseline: O(block²) — block sizes are ENFORCED bounded
    (loud error past ``_MAX_BLOCK``, the ``_MAX_QUERIES`` pattern; LSH is
    the unblocked-corpus scale path).
    """
    from hstream_spark.sources.tables import spread

    tok = spread(docs).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("doc_id"),
        token_hash_array(F.col(text_col)).alias("_th"),
    )
    sets = tok.select(
        *block_cols, "doc_id",
        shingles_from_hashes(F.col("_th"), n).alias("hs"),
    ).persist()
    _guard_block_size(docs, block_cols, "ngram_jaccard_pairs")
    a = sets.select(*block_cols, F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sets.select(*block_cols, F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    joined = a.join(b, block_cols).filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - inter
    jac = inter.cast("double") / union.cast("double")
    return joined.select(*block_cols, "doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def prune_duplicates(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """End-to-end duplicate REMOVAL: keep one canonical member per
    near-duplicate cluster — the completion step every dedup pipeline
    actually ships (pairs → clusters → pruned corpus).

    Clusters come from min-label propagation (`connected_components`),
    whose component id IS the minimum member id, so the canonical
    survivor per cluster is deterministic (lowest id) and the losers
    are exactly the rows where doc_id != component. The prune is one
    left-anti hash join of the corpus against that loser set — at
    100 TB the corpus never moves except through the anti join's
    equi-shuffle, and the loser side is |duplicates|-sized, typically
    a small fraction of the corpus (broadcast when it fits).
    """
    comps = connected_components(pairs, left_col=left_col, right_col=right_col)
    losers = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("__loser")
    )
    return corpus.join(
        losers, corpus[id_col] == losers["__loser"], "left_anti"
    )


def prune_duplicates_by(
    corpus: DataFrame,
    pairs: DataFrame,
    order_by: list[Column],
    id_col: str = "doc_id",
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Priority-aware duplicate pruning: per near-duplicate cluster,
    keep the member that ranks FIRST under ``order_by`` (id ascending
    as the final tie-break) instead of the lowest id — the real-world
    multi-source curation rule "when a page appears in both a curated
    dump and a crawl, keep the curated copy".

    Same distributed shape as `prune_duplicates`: pairs → min-label
    components (O(log diameter) rounds), then ONE component-keyed
    window picks each cluster's winner and ONE left-anti join drops
    the losers — the corpus moves only through that anti join, the
    window runs over |clustered docs| (duplicates only, a small
    fraction of the corpus).
    """
    from pyspark.sql import Window

    comps = connected_components(pairs, left_col=left_col, right_col=right_col)
    members = corpus.join(
        comps.withColumnRenamed("doc_id", id_col), id_col
    )
    w = Window.partitionBy("component").orderBy(*order_by, F.col(id_col))
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(F.col(id_col).alias("__loser"))
    )
    return corpus.join(
        losers, corpus[id_col] == losers["__loser"], "left_anti"
    )


def duplicate_passage_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
) -> DataFrame:
    """Exact-substring duplicate detection (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr pass, re-expressed relationally): find, per document,
    the maximal token spans of length >= ``min_tokens`` whose every
    ``min_tokens``-gram occurs more than once in the corpus — i.e. the
    repeated passages an exact-substring dedup would cut. Emits
    ``(doc_id, span_start, span_end, span_tokens)`` with 1-based
    inclusive token positions.

    The reference paper builds a monolithic suffix array; the Spark
    plan gets the same spans with bounded distributed state instead:

    1. map-only: slide a ``min_tokens`` window over each doc's tokens,
       hashing each gram to int64 (``xxhash64`` — 8-byte shuffle keys,
       never gram strings);
    2. ONE exchange on the gram hash: a count window over ``g`` tags
       every position with its gram's corpus occurrence count (the
       gram rows ship once — a groupBy + join-back would re-generate
       and re-shuffle the gram set a second time for the join side);
       positions whose count > 1 survive;
    3. per-doc gaps-and-islands (window partitioned BY doc — no global
       sort): adjacent/overlapping duplicated gram starts merge into
       maximal spans.

    At 100 TB every stage is keyed by either the uniform gram hash or
    the doc id; nothing is quadratic and no driver state exists. A
    64-bit gram-hash collision (~n²/2⁶⁵) can at worst widen a span by
    one false gram.
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    L = int(min_tokens)
    starts = F.when(
        n >= F.lit(L), F.sequence(F.lit(1), n - F.lit(L) + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.concat_ws(" ", F.slice(toks, i, L))).alias("g"),
                ),
            )
        ).alias("pg"),
    ).select(id_col, F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    hits = (
        grams.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .where(F.col("c") > 1)
        .select(id_col, "pos")
    )
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(by_doc) <= F.lit(L), F.lit(0)
    ).otherwise(F.lit(1))
    islands = hits.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(by_doc)
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).alias("span_end"),
        (F.max("pos") + F.lit(L) - F.min("pos")).alias("span_tokens"),
    ).drop("island")


def remove_duplicate_passages(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
) -> DataFrame:
    """The cut step of exact-substring dedup (Lee et al. remove every
    duplicated passage): rebuild each document's text with its
    ``duplicate_passage_spans`` excised. Emits
    ``(doc_id, clean_text, n_tokens, n_removed)``; documents without
    duplicated spans pass through whole.

    Span detection reuses the relational plan; the cut itself is one
    LEFT join of the corpus to its per-doc span list (collected to an
    array with one groupBy — span counts per doc are tiny) followed by
    a map-only token filter: keep token position p unless some span
    covers it. No Python in the row path.
    """
    spans = duplicate_passage_spans(docs, text_col, id_col, min_tokens)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(per_doc, id_col, "left")
    toks = tokens(F.col(text_col))
    keep = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, p: F.struct(t.alias("t"), p.alias("p")),
        ),
        lambda s: ~F.exists(
            F.coalesce(
                F.col("__spans"),
                F.array().cast(
                    "array<struct<span_start:bigint,span_end:bigint>>"
                ),
            ),
            lambda sp: (s["p"] >= sp["span_start"]) & (s["p"] <= sp["span_end"]),
        ),
    )
    cleaned = F.transform(keep, lambda s: s["t"])
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", cleaned).alias("clean_text"),
        F.size(cleaned).alias("n_tokens"),
        (F.size(toks) - F.size(cleaned)).alias("n_removed"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document LINE deduplication (the C4 three-sentence-span /
    CCNet paragraph dedup shape): every non-empty line keeps exactly
    ONE occurrence corpus-wide — its first by ``(doc_id, line_no)`` —
    and each document is rebuilt from its surviving lines in order.
    Kills navigation menus, footers, and cookie banners repeated across
    a crawl, which document-level dedup never sees.

    Plan: posexplode lines → md5 line key → one groupBy(min(struct))
    picks each key's global winner (map-side combinable — NOT a window,
    whose per-key ordering state would all land on one shuffle side) →
    inner join back on (key, doc, pos) keeps winners → one groupBy(doc)
    rebuilds the text with an array_sort on line position. Two shuffles
    keyed by uniform 128-bit digests and by doc id; at 100 TB both
    hash-partition evenly and the winner table is |distinct lines|,
    far smaller than the corpus.

    Emits ``(doc_id, n_lines_before, n_lines_after, clean_text)``;
    documents whose every line lost pass through with an empty
    ``clean_text`` (count 0). Blank lines are dropped as normalization
    (they carry no dedupable content but would otherwise all collapse
    into one global winner).
    """
    lines = _nonempty_lines(docs, text_col, id_col)
    keyed = lines.withColumn("__lkey", F.md5(F.col("__line")))
    return _first_win_rebuild(keyed, lines, docs.select(id_col).distinct(), id_col)


def _first_win_rebuild(
    keyed: DataFrame, lines: DataFrame, base: DataFrame, id_col: str
) -> DataFrame:
    """Shared tail of the line-dedup family: pick each digest's global
    winner by ``min(struct(doc, pos))`` (map-side combinable — NOT a
    window), keep winners via a (doc, pos) semi-join — the pair
    uniquely identifies a line occurrence, avoiding an ambiguous
    self-join on the digest — and rebuild each document from its
    surviving lines in order (zero-survivor docs emit '')."""
    winners = keyed.groupBy("__lkey").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias("__w")
    )
    winner_keys = winners.select(
        F.col("__w")["i"].alias(id_col), F.col("__w")["p"].alias("__pos")
    )
    surviving = keyed.join(winner_keys, [id_col, "__pos"], "leftsemi").select(
        id_col, "__pos", "__line"
    )
    rebuilt = surviving.groupBy(id_col).agg(
        F.count("*").alias("n_lines_after"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    before = lines.groupBy(id_col).agg(F.count("*").alias("n_lines_before"))
    return (
        base.join(before, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines_before", F.lit(0)).alias("n_lines_before"),
            F.coalesce("n_lines_after", F.lit(0)).alias("n_lines_after"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def _nonempty_lines(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("__pos", "__line"),
    ).where(F.trim(F.col("__line")) != "")


def build_line_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the STANDING line-digest index for incremental line
    dedup: the distinct md5 digests of every non-empty line in the
    corpus, as parquet. 16 bytes per distinct line — far smaller than
    the corpus — and each arriving batch thereafter pays only its own
    line hashing plus one digest anti-join (the `build_dedup_index`
    amortization applied at line granularity)."""
    import os as _os

    _nonempty_lines(docs, text_col, id_col).select(
        F.md5(F.col("__line")).alias("lkey")
    ).distinct().write.mode("overwrite").parquet(_os.path.join(path, "lines"))


def dedup_lines_against_index(
    spark,
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental cross-document line dedup of a NEW batch against
    the EXISTING corpus via the standing digest index: a batch line
    dies if its digest is already indexed (the corpus owns it), else
    its first in-batch occurrence wins (same rule as ``dedup_lines``).
    One anti-join against the 16-byte digest table + the in-batch
    winner groupBy — the batch never touches corpus text, which is the
    point at 100 TB of standing corpus. Emits the same shape as
    ``dedup_lines``."""
    import os as _os

    idx = spark.read.parquet(_os.path.join(path, "lines"))
    lines = _nonempty_lines(batch, text_col, id_col)
    keyed = lines.withColumn("__lkey", F.md5(F.col("__line")))
    fresh = keyed.join(
        idx.withColumnRenamed("lkey", "__lkey"), "__lkey", "leftanti"
    )
    return _first_win_rebuild(fresh, lines, batch.select(id_col).distinct(), id_col)


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup — score a NEW batch against an EXISTING corpus
    without re-deduplicating the corpus (the shape every production
    training pipeline needs when data arrives continuously; the
    reference's streams are exactly this append model).  Per batch
    document: ``exact_dup`` (its md5 text digest already exists in the
    corpus) and ``near_dup`` (some corpus document reaches shingle
    Jaccard >= ``threshold`` through the MinHash-LSH band index).
    Emits ``(doc_id, exact_dup, near_dup)`` for every batch doc — the
    keep decision is one filter on the flags.

    Scale: the corpus side of the band join is precomputable — persist
    ``minhash_bands_from_sets(corpus)`` partitioned by band once and
    every arriving batch joins against it (the standing LSH index);
    candidates are band-key equi-matches, never batch × corpus. The
    exact check is a semi-join on uniform md5 keys. Both shuffles are
    skew-free.
    """
    bsets = doc_shingle_sets(batch, text_col, id_col)
    csets = doc_shingle_sets(corpus, text_col, id_col)
    b_bands = minhash_bands_from_sets(bsets).select(
        F.col("doc_id").alias("__ba"), "band", "band_sig"
    )
    c_bands = minhash_bands_from_sets(csets).select(
        F.col("doc_id").alias("__cb"), "band", "band_sig"
    )
    cand = (
        b_bands.join(c_bands, ["band", "band_sig"])
        .select("__ba", "__cb")
        .distinct()
    )
    pairs = (
        cand.join(bsets.select(F.col("doc_id").alias("__ba"),
                               F.col("hs").alias("__hsa")), "__ba")
        .join(csets.select(F.col("doc_id").alias("__cb"),
                           F.col("hs").alias("__hsb")), "__cb")
    )
    inter = F.size(F.array_intersect(F.col("__hsa"), F.col("__hsb")))
    union = F.size(F.col("__hsa")) + F.size(F.col("__hsb")) - inter
    near = (
        pairs.where(
            inter.cast("double") / union.cast("double") >= F.lit(float(threshold))
        )
        .select(F.col("__ba").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    c_digests = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    exact = (
        batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
        .join(c_digests, "__h", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(True))
    )
    return (
        batch.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__exact"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__near"), F.lit(False)).alias("near_dup"),
        )
    )


def similar_docs_topk(
    docs: Optional[DataFrame],
    query_ids: list[int],
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_path: Optional[str] = None,
    spark=None,
) -> DataFrame:
    """Document similarity search: for each query document, the top-k
    most-similar corpus documents by shingle Jaccard, with candidates
    from the MinHash-LSH band index — the "find documents like this
    one" lookup (near-dup forensics, retrieval QA on a curated corpus).

    Candidates are band-key equi-matches (never query × corpus); the
    exact Jaccard verify touches only candidate pairs, and the final
    rank is a per-query row_number over a handful of rows. Shares the
    shingle/band machinery with the dedup operators. Emits
    (q_id, doc_id, jaccard, rank).

    WARM PATH: pass ``index_path`` (a ``build_dedup_index`` of the
    corpus, plus ``spark``) and the whole shingle+minhash corpus pass
    is READ, not recomputed — the query's band rows come from the
    stored band table (partition-pruned by band) and the verify reads
    the stored shingle sets. This is the production shape: the index
    amortizes the corpus pass across every lookup.
    """
    import os as _os

    from pyspark.sql import Window

    if index_path is not None:
        if spark is None:
            raise ValueError("similar_docs_topk: index_path requires spark=")
        sets = spark.read.parquet(_os.path.join(index_path, "sets"))
        bands = spark.read.parquet(_os.path.join(index_path, "bands"))
    else:
        sets = doc_shingle_sets(docs, text_col, id_col)
        bands = minhash_bands_from_sets(sets)
    qb = bands.where(F.col("doc_id").isin(*[int(q) for q in query_ids])).select(
        F.col("doc_id").alias("__q"), "band", "band_sig"
    )
    cand = (
        qb.join(bands, ["band", "band_sig"])
        .where(F.col("__q") != F.col("doc_id"))
        .select("__q", F.col("doc_id").alias("__c"))
        .distinct()
    )
    pairs = (
        cand.join(sets.select(F.col("doc_id").alias("__q"),
                              F.col("hs").alias("__hsq")), "__q")
        .join(sets.select(F.col("doc_id").alias("__c"),
                          F.col("hs").alias("__hsc")), "__c")
    )
    inter = F.size(F.array_intersect(F.col("__hsq"), F.col("__hsc")))
    union = F.size(F.col("__hsq")) + F.size(F.col("__hsc")) - inter
    # empty-shingle docs share the sentinel signature and would pair
    # with 0/0 Jaccard — exclude them (undefined similarity)
    scored = pairs.where(union > 0).select(
        F.col("__q").alias("q_id"),
        F.col("__c").alias(id_col),
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("jaccard").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
    )


def build_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the standing dedup index for a corpus: its MinHash
    band table (the LSH candidate side), distinct shingle-hash sets
    (the Jaccard-verify side), and exact md5 digests.  Built ONCE per
    corpus; every arriving batch then dedups against it via
    ``dedup_with_index`` paying only its OWN shingle/minhash cost —
    the corpus never recomputes (at 100 TB the corpus pass dominates,
    so the index amortizes ~everything after the first batch).

    Layout: ``bands/`` partitioned by band (the candidate join reads
    band-matched partitions), ``sets/``, ``digests/`` — plain parquet,
    appendable as accepted batches merge into the corpus.
    """
    import os as _os

    sets = doc_shingle_sets(corpus, text_col, id_col)
    bands = minhash_bands_from_sets(sets)
    bands.write.mode("overwrite").partitionBy("band").parquet(
        _os.path.join(path, "bands")
    )
    sets.write.mode("overwrite").parquet(_os.path.join(path, "sets"))
    corpus.select(F.md5(F.col(text_col)).alias("digest")).distinct().write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "digests"))


def append_to_dedup_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Merge an ACCEPTED batch into the standing index: its band rows,
    shingle sets and digests append to the existing parquet components
    (parquet append = new files per write). Continuous ingestion
    therefore accretes small files — run ``compact_dedup_index``
    periodically (or on a file-count threshold) to re-coalesce."""
    import os as _os

    sets = doc_shingle_sets(batch, text_col, id_col)
    bands = minhash_bands_from_sets(sets)
    bands.write.mode("append").partitionBy("band").parquet(
        _os.path.join(path, "bands")
    )
    sets.write.mode("append").parquet(_os.path.join(path, "sets"))
    batch.select(F.md5(F.col(text_col)).alias("digest")).distinct().write.mode(
        "append"
    ).parquet(_os.path.join(path, "digests"))


def index_file_counts(path: str) -> dict:
    """Parquet data-file count per index component — the compaction
    trigger signal (and the test's before/after evidence)."""
    import os as _os

    out = {}
    for comp in ("bands", "sets", "digests"):
        n = 0
        for root, _dirs, files in _os.walk(_os.path.join(path, comp)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        out[comp] = n
    return out


def compact_dedup_index(
    spark,
    path: str,
    target_files: int = 4,
) -> dict:
    """Rewrite the standing dedup index into coalesced files — the
    maintenance pass continuous ingestion needs: every
    ``append_to_dedup_index`` call adds files, and a year of batches
    degrades the band-partitioned layout into millions of tiny parquet
    files (open/footer overhead starts to dominate the candidate
    join's partition-pruned reads).

    - ``bands/`` re-clusters on the band key (one shuffle task per
      band → ~1 file per band partition, preserving the partition
      pruning the warm path depends on);
    - ``sets``/``digests`` coalesce to ``target_files`` (map-only).

    Each component rewrites to ``<comp>__compact`` then swaps
    directories (old moved aside and deleted) — readers racing the
    swap should retry, exactly the discipline a production deployment
    would get from a table format (Delta/Iceberg rewrite + atomic
    commit; plain parquet is the jar-free stand-in here). Returns
    {component: {files_before, files_after}}.
    """
    import os as _os
    import shutil as _shutil

    before = index_file_counts(path)

    def _swap(comp: str, write_fn) -> None:
        live = _os.path.join(path, comp)
        tmp = _os.path.join(path, comp + "__compact")
        old = _os.path.join(path, comp + "__old")
        if _os.path.exists(tmp):
            _shutil.rmtree(tmp)
        write_fn(tmp)
        if _os.path.exists(old):
            _shutil.rmtree(old)
        _os.rename(live, old)
        _os.rename(tmp, live)
        _shutil.rmtree(old)

    bands = spark.read.parquet(_os.path.join(path, "bands"))
    sets = spark.read.parquet(_os.path.join(path, "sets"))
    # one shuffle task per band value → one file per band partition
    _swap(
        "bands",
        lambda tmp: bands.repartition("band")
        .write.partitionBy("band")
        .parquet(tmp),
    )
    _swap("sets", lambda tmp: sets.coalesce(int(target_files)).write.parquet(tmp))
    digests = spark.read.parquet(_os.path.join(path, "digests")).distinct()
    _swap(
        "digests",
        lambda tmp: digests.coalesce(int(target_files)).write.parquet(tmp),
    )
    after = index_file_counts(path)
    return {
        comp: {"files_before": before[comp], "files_after": after[comp]}
        for comp in before
    }


def dedup_with_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``dedup_against_corpus`` against a persisted ``build_dedup_index``
    — same flags, but the corpus side is read, not recomputed. Only the
    batch pays tokenize/shingle/minhash; candidates are band-key
    equi-matches against the stored band table."""
    import os as _os

    bsets = doc_shingle_sets(batch, text_col, id_col)
    b_bands = minhash_bands_from_sets(bsets).select(
        F.col("doc_id").alias("__ba"), "band", "band_sig"
    )
    c_bands = spark.read.parquet(_os.path.join(path, "bands")).select(
        F.col("doc_id").alias("__cb"), "band", "band_sig"
    )
    cand = (
        b_bands.join(c_bands, ["band", "band_sig"])
        .select("__ba", "__cb")
        .distinct()
    )
    csets = spark.read.parquet(_os.path.join(path, "sets"))
    pairs = (
        cand.join(bsets.select(F.col("doc_id").alias("__ba"),
                               F.col("hs").alias("__hsa")), "__ba")
        .join(csets.select(F.col("doc_id").alias("__cb"),
                           F.col("hs").alias("__hsb")), "__cb")
    )
    inter = F.size(F.array_intersect(F.col("__hsa"), F.col("__hsb")))
    union = F.size(F.col("__hsa")) + F.size(F.col("__hsb")) - inter
    near = (
        pairs.where(
            inter.cast("double") / union.cast("double") >= F.lit(float(threshold))
        )
        .select(F.col("__ba").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    digests = spark.read.parquet(_os.path.join(path, "digests")).select(
        F.col("digest").alias("__h")
    )
    exact = (
        batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
        .join(digests, "__h", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(True))
    )
    return (
        batch.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__exact"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__near"), F.lit(False)).alias("near_dup"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    block_cols: list[str],
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-containment detection: pairs where most of document A's
    distinct n-gram set also appears in document B —
    ``|A ∩ B| / |A| >= threshold`` (one-sided Jaccard). Catches quotes,
    excerpts, and subset documents that symmetric Jaccard misses (a
    short doc inside a long one scores low Jaccard but high
    containment).

    Result-identical to the naive within-block self-join, but the
    candidate stage is a PREFIX-FILTER inverted-index join (All-Pairs /
    PPJoin family, Bayardo et al. 2007): containment ≥ t means B holds
    all but ⌊(1−t)·|A|⌋ of A's grams, so ANY ⌊(1−t)·|A|⌋+1 of A's grams
    must intersect B — only that prefix of A explodes against the
    block's full gram index, and the exact |A∩B|/|A| verify runs on the
    surviving candidate pairs alone. The round-5 version self-joined
    whole blocks (quadratic in block population): the round-10 sf1
    sweep measured it 72.9× at 10× data ((lang, source) blocks grow
    linearly → pairs quadratically); the prefix filter scales with
    Σ_gram df(prefix)·df(gram), not Σ block². Emits both directions
    when both exceed the threshold. Pairs sharing no gram can't reach
    any threshold > 0, so candidate pruning never drops a result row.

    The gram sets PERSIST before the joins — without materialization
    each join re-evaluates the gram expression per candidate
    (O(pairs × doc_len); measured 40× at sf0.1), the same reason
    ``ngram_jaccard_pairs`` caches.
    """
    sets = docs.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.array_distinct(
            F.transform(ngrams(F.col(text_col), n), lambda g: F.xxhash64(g))
        ).alias("__g"),
    ).where(F.size("__g") > 0).persist()
    _guard_block_size(docs, block_cols, "containment_pairs")
    # prefix: any floor((1-t)*|A|)+1 grams satisfy the filter — which
    # ones is pure optimization, and the canonical All-Pairs choice is
    # the RAREST (global document frequency ascending): on a
    # small-vocabulary corpus a hash-ordered prefix keeps stop-grams
    # whose df² candidate blowup re-creates the quadratic this filter
    # exists to kill. One linear df aggregate + an id-keyed window.
    from pyspark.sql import Window as _W

    a_all = sets.select(
        *block_cols, F.col(id_col).alias("__ida"),
        F.size("__g").alias("__na"),
        F.explode("__g").alias("__gram"),
    )
    gram_df = a_all.groupBy("__gram").agg(F.count("*").alias("__df"))
    rank_w = _W.partitionBy("__ida").orderBy("__df", "__gram")
    a_pref = (
        a_all.join(gram_df, "__gram")
        .withColumn("__rk", F.row_number().over(rank_w))
        .where(
            F.col("__rk")
            <= F.floor(F.lit(1.0 - threshold) * F.col("__na")).cast("int") + 1
        )
        .select(*block_cols, "__ida", "__gram")
    )
    b_full = sets.select(
        *block_cols, F.col(id_col).alias("__idb"),
        F.explode("__g").alias("__gram"),
    )
    cand = (
        a_pref.join(b_full, [*block_cols, "__gram"])
        .where(F.col("__ida") != F.col("__idb"))
        .select(*block_cols, "__ida", "__idb")
        .distinct()
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__g"), F.col("b.__g")))
    containment = inter.cast("double") / F.size(F.col("a.__g")).cast("double")
    return (
        cand.join(
            a,
            [F.col(f"a.{c}") == cand[c] for c in block_cols]
            + [F.col(f"a.{id_col}") == cand["__ida"]],
        )
        .join(
            b,
            [F.col(f"b.{c}") == cand[c] for c in block_cols]
            + [F.col(f"b.{id_col}") == cand["__idb"]],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(containment, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def lsh_bucket_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Band-bucket size distribution of the MinHash-LSH index — the
    skew diagnostic for the candidate join.

    Candidate pairs per bucket grow as C(size, 2): boilerplate-heavy
    corpora collapse many near-identical documents into one band
    signature, and that single hot bucket dominates the band-join
    shuffle long before storage notices. One row per (band,
    bucket_size): how many buckets have that population and how many
    candidate pairs they contribute. At 100 TB this histogram is the
    go/no-go check before running the pair join — and the input to a
    cap/salting decision for the hot buckets.
    """
    # docs too short to shingle (< n tokens) have NO band membership:
    # a cheap token-count prefilter (see doc_shingle_sets) — without it
    # they'd all share the P31-sentinel signature and fabricate one
    # giant phantom bucket per band
    sets = doc_shingle_sets(docs, text_col, id_col, nonempty=True)
    buckets = minhash_bands_from_sets(sets).groupBy("band", "band_sig").agg(
        F.count("*").alias("bucket_size")
    )
    return (
        buckets.groupBy("band", "bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .select(
            "band",
            "bucket_size",
            "n_buckets",
            F.expr(
                "n_buckets * (bucket_size * (bucket_size - 1) DIV 2)"
            ).alias("candidate_pairs"),
        )
    )


def lsh_recall_eval(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Recall of MinHash-LSH candidate generation against exact
    shingle-Jaccard ground truth — the measurement behind the
    (bands × rows-per-band) parameter choice: fewer rows per band
    raises recall but multiplies candidate volume.

    Ground truth comes from the shingle INVERTED INDEX (equi-join on
    shingle hash, pair counts by groupBy), never an all-pairs cross
    join — it scales with shared-shingle pairs, not corpus². That
    truth join is still the expensive thing LSH exists to avoid, so at
    corpus scale run this on a sample taken upstream and tune
    parameters from the sample's recall. One row per threshold (0.3,
    0.5, 0.7): true near-dup pairs at that Jaccard, how many the band
    index surfaced, and recall; plus the total candidate count (the
    precision denominator / join cost).
    """
    thresholds = (0.3, 0.5, 0.7)
    # exclude unshingleable docs (see lsh_bucket_stats) — they can be
    # neither ground truth nor candidates. NOTE: the returned frame is
    # lazy, so the persisted shingle sets stay cached for the session
    # (like minhash_near_duplicates); long-lived services should
    # unpersist via spark.catalog.clearCache() between evaluations.
    sets = (
        doc_shingle_sets(docs, text_col, id_col, nonempty=True)
        .persist()
    )
    ex = sets.select("doc_id", F.explode("hs").alias("h"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets.select("doc_id", F.size("hs").alias("sz"))
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("inter").cast("double")
             / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
             ).alias("jaccard"),
        )
    )
    bands = minhash_bands_from_sets(sets)
    cand = (
        bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
        .join(
            bands.select("band", "band_sig", F.col("doc_id").alias("doc_b")),
            ["band", "band_sig"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # `cand` feeds both the recall scoring join and the
    # total_candidates count in the same plan, and Spark reuses nothing
    # across the two references — without pinning, the band self-join +
    # distinct runs twice. The distinct pair list is tiny, so the
    # checkpoint is near-free.
    cand = cand.localCheckpoint()
    # pairs below every threshold contribute 0 to each __true_i
    # (otherwise-0 arm) and 0 to each __hit_i (null hit coalesced),
    # so dropping them BEFORE the scoring join is exact — the join
    # and final aggregation then run over the near-dup pairs only,
    # not every co-shingle pair (1.13M rows at sf0.1)
    jac = jac.where(F.col("jaccard") >= min(thresholds))
    scored = jac.join(
        cand.withColumn("__hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    aggs = []
    for i, t in enumerate(thresholds):
        hit = F.when(F.col("jaccard") >= t, F.col("__hit"))
        # coalesce AFTER the sum too: an empty sample aggregates to
        # NULL, but the contract (and the DuckDB oracle) is 0 counts
        # with one row per threshold
        aggs.append(F.coalesce(
            F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0)),
            F.lit(0),
        ).alias(f"__true_{i}"))
        aggs.append(F.coalesce(
            F.sum(F.coalesce(hit, F.lit(0))), F.lit(0)
        ).alias(f"__hit_{i}"))
    one = scored.agg(*aggs)
    total = cand.agg(F.count("*").alias("total_candidates"))
    stack = ", ".join(
        f"{t}D, __true_{i}, __hit_{i}" for i, t in enumerate(thresholds)
    )
    return (
        one.crossJoin(F.broadcast(total))  # 1-row scalar broadcast
        .selectExpr(
            f"stack({len(thresholds)}, {stack}) AS "
            "(threshold, true_pairs, hit_pairs)",
            "total_candidates",
        )
        .select(
            "threshold", "true_pairs", "hit_pairs",
            F.when(
                F.col("true_pairs") > 0,
                F.col("hit_pairs").cast("double")
                / F.col("true_pairs").cast("double"),
            ).alias("recall"),
            "total_candidates",
        )
    )
