"""Core relational operators: scan → filter → affiliate → reduce →
having → project — the fixed plan order of the reference
(hstream-sql/src/HStream/SQL/Planner.hs:338-387).

Each builder is a thin declarative wrapper over DataFrame ops; the
value is the *contract* (names, order, semantics), while Catalyst is
free to reorder/push down — e.g. a WHERE filter lands in the parquet
scan's PushedFilters, which the reference (zero-optimizer,
row-at-a-time) cannot do.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scan(spark, path: str) -> DataFrame:
    """Stream scan (Planner.hs:23) — batch flavor: columnar parquet scan
    with pushdown; streaming flavor lives in sources/registry.py."""
    return spark.read.parquet(path)


def where(df: DataFrame, predicate: Column) -> DataFrame:
    """Filter (Planner.hs:38). Reference drops rows whose predicate
    *errors* (Codegen/V1.hs:235-240); Spark expressions yield NULL on
    most error-ish cases which `filter` likewise drops."""
    return df.filter(predicate)


def affiliate(df: DataFrame, items: Mapping[str, Column]) -> DataFrame:
    """Affiliate (Planner.hs:40, rSelToAffiliateItems) — add every
    computed SELECT item as a column before aggregation."""
    return df.withColumns(dict(items))


def project(df: DataFrame, cols: Sequence[Column | str]) -> DataFrame:
    """Project (Planner.hs:39); empty list = ``*`` wildcard
    (Planner.hs:384-386)."""
    return df.select(*cols) if cols else df


def reduce(
    df: DataFrame,
    keys: Sequence[Column | str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Reduce (Planner.hs:45) — hash aggregation; GROUP BY is columns
    only in the dialect (AST.hs:653-656) but we accept expressions."""
    return df.groupBy(*keys).agg(*aggs)


def having(df: DataFrame, predicate: Column) -> DataFrame:
    """HAVING = post-aggregation filter (Planner.hs:343-345)."""
    return df.filter(predicate)


def distinct(df: DataFrame) -> DataFrame:
    """Distinct plan node (Planner.hs:48; V1 throws, V2 differential —
    DiffFlow/Graph.hs:71). Spark: native."""
    return df.distinct()


def union(left: DataFrame, right: DataFrame) -> DataFrame:
    """Union (Planner.hs:54; V1 throws, V2 implements). By-name to be
    robust to column order."""
    return left.unionByName(right)


def profile_table(
    df: DataFrame,
    approx_distinct: bool = False,
) -> DataFrame:
    """Data profiling — the schema-quality report a pipeline runs before
    committing 100 TB to training: per column of ``df`` (select first
    to profile fewer), row count, null count and rate, distinct count,
    and min/max (rendered as strings so one tidy schema covers every
    column type).

    One wide aggregate computes every column's counts/extremes in a
    single pass (map-side partial, one 1-row reduction). Distinct
    counts: EXACT mode (default, oracle-gated) runs one column-pruned
    groupBy scan per column; ``approx_distinct=True`` folds
    `approx_count_distinct` (HLL++, default 5% rsd) into the SAME wide
    aggregate — the whole profile becomes ONE pass over the table,
    which is the corpus-scale mode (a 100 TB table profiles in a single
    scan instead of n_cols+1). Semantics note: exact mode counts the
    NULL bucket as a distinct value (SQL DISTINCT over the column);
    approx mode counts NON-NULL distincts (HLL sketches ignore null) —
    pair it with the null counts the same row already carries. Output:
    one row per column, deterministic in exact mode.
    """
    from functools import reduce

    cols = df.columns
    approx_aggs = (
        [
            F.approx_count_distinct(F.col(c)).alias(f"__dist_{i}")
            for i, c in enumerate(cols)
        ]
        if approx_distinct
        else []
    )
    base = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{i}")
            for i, c in enumerate(cols)
        ],
        *[F.min(F.col(c).cast("string")).alias(f"__min_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("string")).alias(f"__max_{i}") for i, c in enumerate(cols)],
        *approx_aggs,
    )
    if not approx_distinct:
        distincts = [
            df.select(F.col(c)).distinct().agg(
                F.lit(c).alias("column"), F.count(F.lit(1)).alias("n_distinct")
            )
            for c in cols
        ]
        dist = reduce(lambda a, b: a.unionByName(b), distincts)
    # Expand the 1-row wide aggregate to per-column rows with ONE
    # explode over the single result — `base` appears once in the plan,
    # so the full-table aggregate executes once (a union of per-column
    # selects over `base` would re-run it once per column).
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__null_{i}").alias("n_null"),
            F.col(f"__min_{i}").alias("min_value"),
            F.col(f"__max_{i}").alias("max_value"),
            *(
                [F.col(f"__dist_{i}").alias("n_distinct")]
                if approx_distinct
                else []
            ),
        )
        for i, c in enumerate(cols)
    ])
    prof = (
        base.select(F.col("__n").alias("n_rows"), F.explode(entries).alias("e"))
        .select(
            F.col("e.column").alias("column"),
            F.col("n_rows"),
            F.col("e.n_null").alias("n_null"),
            F.round(
                F.col("e.n_null").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("null_rate"),
            F.col("e.min_value").alias("min_value"),
            F.col("e.max_value").alias("max_value"),
            *(
                [F.col("e.n_distinct").alias("n_distinct")]
                if approx_distinct
                else []
            ),
        )
    )
    if approx_distinct:
        return prof
    return prof.join(F.broadcast(dist), "column")


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis — per user, how far through a sequence
    of event types they progressed, each step strictly AFTER the
    previous one (first-touch semantics: each step binds to its
    earliest qualifying occurrence). The conversion table behind
    "view -> click -> purchase" product questions.

    ONE scan and ONE user-keyed exchange total (round-5 rewrite; the
    previous shape ran a filter+join+groupBy chain per step — 4 scans
    and ~6 exchanges for 3 steps): each user's per-step timestamps
    gather in a single conditional collect_list aggregation, and the
    strictly-after chaining is a per-row array fold (array_min over a
    filtered array per step — arrays are that user's events of ONE
    type, naturally small). Shuffle volume is the step-type events,
    paid once. Known bound: step i's filter lambda re-evaluates the
    earlier steps' folds per element (codegen doesn't hoist
    subexpressions across higher-order-function lambdas), so per-row
    work is O(s²·m) for s steps and m per-user step events — s is
    fixed and small (3 here) and m is bounded for the
    product-analytics funnels this models; pathological per-user event
    counts are the sessionize operators' skew territory. Emits (user,
    stage reached, per-step first timestamps as epoch micros).
    """
    if not steps:
        raise ValueError("funnel requires at least one step")
    uid = F.col(user_col)
    g = events.groupBy(uid.alias("__u")).agg(
        # step 0 needs only its minimum (partial-aggregates to one
        # value map-side); later steps need the candidate set because
        # their cutoff isn't known until finish time
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).alias(
            "__t0min"
        ),
        *[
            F.collect_list(
                F.when(F.col(type_col) == step, F.col(ts_col))
            ).alias(f"__l{i}")
            for i, step in enumerate(steps)
            if i > 0
        ],
    )
    def _first_after(col, prev_t):
        # 1-arg lambda closing over prev_t (a default arg would make
        # pyspark treat it as the optional index parameter of filter)
        return F.array_min(F.filter(col, lambda x: x > prev_t))

    t_exprs: list = []
    for i in range(len(steps)):
        if i == 0:
            t = F.col("__t0min")
        else:
            t = _first_after(F.col(f"__l{i}"), t_exprs[i - 1])
        t_exprs.append(t)
    stage = F.lit(0)
    for i in range(len(steps)):
        stage = F.when(t_exprs[i].isNotNull(), F.lit(i + 1)).otherwise(stage)
    return g.select(
        F.col("__u").alias(user_col),
        stage.alias("stage"),
        *[
            F.unix_micros(t_exprs[i]).alias(f"step{i + 1}_us")
            for i in range(len(steps))
        ],
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int = 30,
) -> DataFrame:
    """Cohort retention — users grouped by first-active date, counted
    on each later day they return: the (cohort_date, day_offset,
    active_users, retention_rate) matrix behind every retention curve.

    Two shuffles: first-active date per user (user-keyed min), then the
    (cohort, offset) distinct-user count — per-day activity dedups
    map-side via the distinct. Offsets beyond ``max_offset`` are
    dropped (bound the matrix, not the scan).
    """
    uid = F.col(user_col)
    day = F.to_date(F.col(ts_col))
    first = (
        events.select(uid.alias("__u"), day.alias("__d"))
        .groupBy("__u")
        .agg(F.min("__d").alias("cohort_date"))
    )
    active = events.select(uid.alias("__u"), day.alias("__d")).distinct()
    joined = active.join(first, "__u").withColumn(
        "day_offset", F.datediff(F.col("__d"), F.col("cohort_date"))
    ).where(F.col("day_offset") <= max_offset)
    sizes = first.groupBy("cohort_date").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    ret = joined.groupBy("cohort_date", "day_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    return (
        ret.join(sizes, "cohort_date")
        .select(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
            "day_offset",
            "active_users",
            "cohort_users",
            F.round(
                F.col("active_users").cast("double")
                / F.col("cohort_users").cast("double"),
                6,
            ).alias("retention_rate"),
        )
    )
