"""Deterministic sampling and dataset splitting for training-data
pipelines.

Random sampling (`df.sample`) is irreproducible across engines, Spark
versions, and partitionings — a training corpus sampled that way can't
be audited or re-derived. Everything here buckets rows by an
engine-agnostic md5-derived hash of a stable id instead:

- the same row always lands in the same bucket, on any engine — the
  DuckDB oracle verifies the exact selected row set;
- samples are consistent under re-partitioning, retries, and
  incremental re-runs (a re-ingested row keeps its split);
- train/test splits are disjoint BY CONSTRUCTION (disjoint bucket
  ranges of one hash), not by bookkeeping.

All operators are map-only Catalyst expressions: no shuffle, no UDF —
sampling 100 TB costs one scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 10k buckets → 0.01% fraction granularity
BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = BUCKETS) -> Column:
    """Engine-agnostic bucket in [0, buckets): first 60 bits of
    md5(key as string), mod buckets. Mirrors the DuckDB expression
    ``('0x' || substring(md5(x), 1, 15))::BIGINT % buckets``."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return h % buckets


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, buckets: int = BUCKETS
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hash bucket of ``key_col``."""
    return df.filter(hash_bucket(F.col(key_col), buckets) < int(fraction * buckets))


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int = 16,
    seed: str = "",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the
    data-ordering step before sequence packing: every row gets a
    ``shard`` in [0, n_shards) and a dense ``pos`` within its shard,
    both derived purely from ``md5(seed || key)``.  Same seed → same
    order on every engine and every re-run (resumable training);
    changing ``seed`` is a full reshuffle.  Epoch-wise reshuffling =
    one cheap re-run with ``seed=f"epoch{k}"``.

    Scale: md5 buckets are uniform, so shards balance and the single
    exchange (on the shard key) has no skew; the in-shard rank is a
    window per shard — state bounded by shard size (raise ``n_shards``
    to bound it; writers then emit one file per shard in shard order).
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(seed)), F.col(key_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    with_h = df.withColumn("__h", h)
    w = Window.partitionBy(F.col("__h") % n_shards).orderBy("__h", key_col)
    return (
        with_h.withColumn(shard_col, F.col("__h") % n_shards)
        .withColumn(pos_col, F.row_number().over(w))
        .drop("__h")
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    budget_tokens: int,
    n_tokens: Column,
    id_col: str = "doc_id",
    buckets: int = BUCKETS,
) -> DataFrame:
    """Token-budget mixture sampling — cap each group's EXPECTED token
    contribution at ``budget_tokens`` (the mixture-weighting step when
    a training run fixes per-domain/per-language token budgets; swap
    the uniform budget for per-group targets to express DoReMi-style
    learned weights): keep-rate r_g = min(1, budget / group_total),
    rows kept by deterministic id-hash — reproducible, and incremental
    ingestion keeps or drops a given document consistently.

    One small aggregation (group cardinality rows) broadcasts back; the
    keep decision is a map-only hash filter. Under-budget groups pass
    through whole; the cap is in expectation (hash buckets are uniform),
    which is the correct semantics for corpus-scale budgets.
    """
    base = df.withColumn("__nt", n_tokens.cast("long"))
    totals = base.groupBy(group_col).agg(F.sum("__nt").alias("__total"))
    rates = totals.select(
        group_col,
        F.least(
            F.lit(1.0), F.lit(float(budget_tokens)) / F.col("__total").cast("double")
        ).alias("__rate"),
    )
    joined = base.join(F.broadcast(rates), group_col)
    kept = joined.where(
        hash_bucket(F.col(id_col), buckets)
        < F.floor(F.col("__rate") * buckets).cast("long")
    )
    return kept.drop("__rate").withColumnRenamed("__nt", "n_tokens")


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    buckets: int = BUCKETS,
    split_col: str = "split",
) -> DataFrame:
    """Tag each row 'train' or 'test' — disjoint bucket ranges of one
    hash, so the split survives re-runs and incremental ingestion."""
    b = hash_bucket(F.col(key_col), buckets)
    return df.withColumn(
        split_col,
        F.when(b < int(test_fraction * buckets), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Per-stratum deterministic sampling — e.g. keep 100% of rare
    high-quality documents but 1% of boilerplate. Unlisted strata get
    ``default_fraction``. Still map-only: the stratum picks a threshold,
    the hash picks the rows."""
    thresh: Column = F.lit(int(default_fraction * buckets))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(frac * buckets))
        ).otherwise(thresh)
    return df.filter(hash_bucket(F.col(key_col), buckets) < thresh)


def cap_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    limit: int,
) -> DataFrame:
    """Keep at most ``limit`` rows per group, chosen DETERMINISTICALLY
    by id-hash rank — the "at most K documents per domain/source"
    downsampling rule of corpus curation, reproducible across engines
    and partitionings (unlike per-group random reservoirs).

    One shuffle on the group key; the rank is a window row_number over
    (hash, id) so ties are impossible for distinct ids. Skewed groups
    (one domain with 10^9 docs) cost one hot partition during ranking —
    for pathological skew, pre-filter with `deterministic_sample` to
    approach the cap before the exact rank.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), 1_000_000_007), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= limit)
        .drop("__rk")
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    temperature: float = 0.7,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Temperature-based source rebalancing — the multilingual /
    multi-source training-mix sampler (mT5/XLM-R style): group g with
    corpus share p_g is kept at a rate proportional to
    ``p_g^(temperature-1)`` — temperature 1 keeps the natural mix,
    temperature 0 equalizes groups, in between upsamples the tail
    relative to the head. Expressed as pure downsampling (no row
    duplication, the result stays a subset): the smallest group
    anchors at rate 1 and group g keeps ``(n_min/n_g)^(1-T)`` of
    itself.

    The plan at 100 TB: one small groupBy for the group counts (group
    cardinality ~ sources/languages, map-side combined), rates derive
    from the counts in one more 1-row reduction (min), broadcast back
    as a tiny rate table on the group key, then the same map-only
    deterministic hash-bucket filter as every sampler here — rows
    never shuffle. Rates round to bucket granularity (1/buckets), so
    the selected set is exactly reproducible cross-engine (the oracle
    replays the identical arithmetic).
    """
    if not 0.0 <= temperature <= 1.0:
        raise ValueError("temperature must be in [0, 1]")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # weight_g = n_g^T; keeping the smallest group whole, group g keeps
    # rate_g = (n_g^T / n_g) / (n_min^T / n_min) = (n_min/n_g)^(1-T)
    # of itself -- the pow-renormalized mix as pure downsampling rates.
    mn = counts.agg(F.min("__n").alias("__nmin")).withColumn("__k", F.lit(1))
    rates = (
        counts.withColumn("__k", F.lit(1))
        .join(F.broadcast(mn), "__k")
        .select(
            group_col,
            F.least(
                F.lit(1.0),
                F.pow(F.col("__n").cast("double"), F.lit(temperature))
                / F.col("__n").cast("double")
                * (
                    F.col("__nmin").cast("double")
                    / F.pow(F.col("__nmin").cast("double"), F.lit(temperature))
                ),
            ).alias("__rate"),
        )
    )
    out = df.join(F.broadcast(rates), group_col)
    keep = hash_bucket(F.col(key_col), buckets) < F.floor(
        F.col("__rate") * F.lit(float(buckets))
    ).cast("long")
    return out.where(keep).drop("__rate")


def group_train_test_split(
    df: DataFrame,
    group_key: Column,
    test_fraction: float = 0.1,
    buckets: int = BUCKETS,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/test split: the hash bucket is computed over a
    GROUP key (content hash, near-dup cluster id, source domain…)
    instead of the row id, so every member of a group lands in the same
    split — the standard guard against test-set contamination by
    duplicates or near-duplicates of training rows.

    Same map-only shape as ``train_test_split``; the caller chooses how
    strong the grouping is (``md5(text)`` for exact dups, a
    ``connected_components`` cluster label for near-dups, ``url_host``
    for domain-level isolation).
    """
    b = hash_bucket(group_key, buckets)
    return df.withColumn(
        split_col,
        F.when(b < int(test_fraction * buckets), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling") — integer fixed-point
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_FP = 1 << 20  # ratio fixed point: L_k = (p_k+1)·FP // (q_k+1)


def _bigram_buckets(text: Column, buckets: int) -> Column:
    """Hashed-bigram feature buckets of a document, linear-time.

    One md5 ``token_hash`` per TOKEN, then each bigram is the
    polynomial fold of its two token hashes mod 2^31-1, mod
    ``buckets`` — the same engine-agnostic scheme the shingle oracles
    replay in DuckDB SQL. Two wins over hashing the bigram STRING:
    the md5 count halves (per token, not per gram — and no per-gram
    concat), and the exploded feature rows are longs, not strings.
    Built with zip_with over the 1-shifted slice: a
    transform(sequence, slice(tk, i+1, 2)) form copies a slice per
    index, O(tokens²) per document (measured: the dominant cost of the
    whole DSIR pipeline at sf0.1 before round 12). The fold
    null-propagates into the zip_with padding element, which the
    filter drops; sub-2-token docs yield an empty array."""
    from hstream_spark.operators.dedup import SHINGLE_B, token_hash_array
    from hstream_spark.operators.text import P31

    th = token_hash_array(text)
    shifted = F.slice(th, 2, F.size(th))
    gh = F.filter(
        F.zip_with(th, shifted, lambda x, y: (x * SHINGLE_B + y) % P31),
        lambda g: g.isNotNull(),
    )
    return F.transform(gh, lambda g: g % buckets)


def dsir_bucket_counts(
    docs: DataFrame,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Hashed-bigram feature counts per bucket — DSIR's corpus profile.

    Each doc's whitespace bigrams hash (md5 token-hash fold, see
    ``_bigram_buckets``) into ``buckets``; one explode → groupBy with
    map-side combine, output is ``buckets`` rows regardless of corpus
    size — the profile is model-sized at 100 TB."""
    return (
        docs.select(
            F.explode(_bigram_buckets(F.col(text_col), buckets)).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_ratio_table(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    buckets: int = DSIR_BUCKETS,
    fp: int = DSIR_FP,
) -> list[int]:
    """Per-bucket importance ratio in fixed point:
    ``L_k = (p_k + 1) * fp // (q_k + 1)`` (add-one smoothing).

    Integer-only — byte-exact on any engine — where canonical DSIR uses
    ``log p_k − log q_k``; the ranking this induces is a documented
    monotone variant (per-bucket ratio instead of log-ratio; scores sum
    count-weighted ratios rather than log-likelihood ratios), chosen so
    the oracle can replay selection EXACTLY instead of tolerating
    engine-specific ``ln`` ulps. The table is ``buckets`` int64s —
    model-sized, ships as a literal to every executor."""
    return [
        ((target_counts.get(k, 0) + 1) * fp) // (raw_counts.get(k, 0) + 1)
        for k in range(buckets)
    ]


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    keep_n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """End-to-end DSIR selection: profile the target and raw corpora
    (two model-sized aggregates), build the fixed-point ratio table
    driver-side, score every raw doc, keep the top ``keep_n`` by
    (score desc, id asc — deterministic tie-break).

    Scale shape: the two profiles collect ``buckets`` rows each (the
    only driver traffic); scoring is one explode → groupBy over the raw
    corpus; selection is a global top-k (TakeOrdered — no full sort).
    At 100 TB the raw-corpus pass dominates and is linear."""
    t_counts = {
        r["bucket"]: r["n"]
        for r in dsir_bucket_counts(target, text_col, buckets).collect()
    }
    # The raw corpus feeds BOTH the q-profile and the scoring pass, and
    # the expensive part of each is the same bigram tokenize+hash.
    # Aggregate it ONCE to (doc, bucket, c) — map-side combinable, at
    # most docs x buckets rows — materialize that, and derive profile
    # and scores from it: one raw-corpus hash pass instead of two
    # (round-11 verdict task 2). NULL bucket rows keep sub-2-token docs
    # in the output with score 0 (explode_outer). localCheckpoint, not
    # persist: the q-profile collect() below forces the job anyway, and
    # checkpoint blocks are ContextCleaner-GC'd when the returned frame
    # drops out of scope — a caller-invisible persist() would pin a
    # cache per invocation with nothing able to release it (the
    # gopher_repetition lesson).
    per_doc = (
        docs.select(
            F.col(id_col),
            F.explode_outer(
                _bigram_buckets(F.col(text_col), buckets)
            ).alias("__b"),
        )
        .groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    q_counts = {
        r["__b"]: r["n"]
        for r in per_doc.where(F.col("__b").isNotNull())
        .groupBy("__b").agg(F.sum("__c").alias("n")).collect()
    }
    ratios = dsir_ratio_table(t_counts, q_counts, buckets)
    lut = F.lit(ratios).cast("array<long>")
    scored = per_doc.select(
        F.col(id_col),
        F.when(F.col("__b").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.element_at(lut, (F.col("__b") + 1).cast("int")) * F.col("__c")
        ).alias("__r"),
    ).groupBy(id_col).agg(F.sum("__r").alias("dsir_score"))
    # orderBy + limit compiles to TakeOrderedAndProject (distributed
    # top-k, every partition ships only its local top keep_n); the rank
    # column is then a window over the keep_n survivors only — an
    # unpartitioned row_number over the full scored set would funnel
    # the whole corpus through one task
    kept = scored.orderBy(
        F.col("dsir_score").desc(), F.col(id_col).asc()
    ).limit(keep_n)
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
    return kept.withColumn("rank", F.row_number().over(w)).select(
        id_col, "dsir_score", "rank"
    )
