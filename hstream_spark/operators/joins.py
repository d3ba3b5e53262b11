"""Join operators: interval (WITHIN) joins, USING/NATURAL, stream-table.

Reference grammar: ``FROM a [kind] JOIN b [ON e | USING (cols) | NATURAL]
WITHIN (INTERVAL n UNIT)`` — hstream-sql/etc/SQL-v1.cf:121-145. The
WITHIN interval becomes JoinWindows{before=t, after=t}
(Codegen/V1.hs:287-291); the V1 physical algo is a symmetric buffered
nested-loop interval join (hstream-processing/src/HStream/Processing/
Stream.hs:228-312). V1 ignores outer-ness (Codegen/V1.hs:301,322,342);
we implement LEFT/RIGHT/FULL properly (divergence documented —
reference bug).

Spark mapping and the scale story:

- The join condition is ``equi-keys AND |ts_l - ts_r| <= interval``.
  Catalyst extracts the equi-part for the shuffle/hash strategy and
  applies the time predicate as a post-filter, so a keyed interval join
  shuffles once on the key — same topology as the reference's
  per-key stores, but partition-parallel.
- A *pure* time-interval cross join (reference CrossJoin) has no equi
  key; to avoid an O(n·m) nested-loop at scale we add a **time-bucket
  equi key**: bucket = floor(ts / interval), join on bucket ∈ {b-1, b,
  b+1}, then filter the exact interval. This turns the cross join into
  a hash join whose fan-out is bounded by bucket occupancy.
- In streaming, the same builders apply to withWatermark'ed inputs and
  Spark's symmetric state-store join executes them (state retention
  bounded by the interval — exactly the reference's ±interval buffer).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interval_cond(left_ts: Column, right_ts: Column, interval_seconds: float,
                   ts_native: bool = False) -> Column:
    """|ts_l - ts_r| <= interval  (JoinWindows before=after=interval).

    ``ts_native=True`` keeps the bound as timestamp±INTERVAL arithmetic,
    which Spark's stream-stream join analysis recognizes for
    watermark-based state eviction (numeric casts would force unbounded
    state). Use it whenever both sides are TimestampType.
    """
    if ts_native:
        secs = int(interval_seconds)
        lo = right_ts - F.expr(f"INTERVAL {secs} SECONDS")
        hi = right_ts + F.expr(f"INTERVAL {secs} SECONDS")
        return (left_ts >= lo) & (left_ts <= hi)
    delta = left_ts.cast("double") - right_ts.cast("double")
    return (delta <= interval_seconds) & (delta >= -interval_seconds)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Column | None,
    left_ts: Column,
    right_ts: Column,
    interval_seconds: float,
    how: str = "inner",
    ts_native: bool = False,
) -> DataFrame:
    """LoopJoinOn within ±interval (Planner.hs:33, Codegen/V1.hs:301-321).

    ``on`` is an arbitrary boolean expression; when it contains
    equalities Catalyst extracts them as hash keys. Pass
    ``ts_native=True`` for TimestampType event-time columns (required
    for streaming state eviction — see _interval_cond).
    """
    cond = _interval_cond(left_ts, right_ts, interval_seconds, ts_native)
    if on is not None:
        cond = on & cond
    return left.join(right, cond, how)


def interval_join_using(
    left: DataFrame,
    right: DataFrame,
    cols: Sequence[str],
    left_ts: Column,
    right_ts: Column,
    interval_seconds: float,
    how: str = "inner",
    ts_native: bool = False,
) -> DataFrame:
    """LoopJoinUsing — equality on named columns (Codegen/V1.hs:322-341)."""
    on = None
    for c in cols:
        eq = left[c] == right[c]
        on = eq if on is None else (on & eq)
    joined = interval_join(left, right, on, left_ts, right_ts, interval_seconds, how, ts_native)
    # USING semantics: the join columns appear once.
    dup_drop = [right[c] for c in cols]
    for c in dup_drop:
        joined = joined.drop(c)
    return joined


def interval_cross_join(
    left: DataFrame,
    right: DataFrame,
    left_ts_col: str,
    right_ts_col: str,
    interval_seconds: int,
) -> DataFrame:
    """CrossJoin within ±interval (Planner.hs:32, Codegen/V1.hs:283-300).

    Bucketed rewrite: equi-join on adjacent time buckets, then the exact
    interval filter — a hash join instead of a nested-loop cross join.
    """
    bucket = int(interval_seconds)
    # Distinct helper names on each side keep self-joins unambiguous.
    l = left.withColumn("_lts", left[left_ts_col].cast("double"))
    r = right.withColumn("_rts", right[right_ts_col].cast("double"))
    lb = (F.col("_lts") / bucket).cast("long")
    rb = (F.col("_rts") / bucket).cast("long")
    l = l.withColumn("_bucket", F.explode(F.array(lb - 1, lb, lb + 1)))
    r = r.withColumn("_bucket", rb)
    joined = l.join(r, "_bucket")
    delta = F.col("_lts") - F.col("_rts")
    joined = joined.filter((delta <= interval_seconds) & (delta >= -interval_seconds))
    return joined.drop("_bucket", "_lts", "_rts")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt: int = 8,
) -> DataFrame:
    """Skew-mitigated inner equi-join: hot keys on the (large) left side
    are spread across ``salt`` sub-partitions; the right side is
    replicated ``salt``-fold so every sub-partition can match. Result is
    identical to ``left.join(right, on)`` — only the shuffle layout
    changes.

    Use when BOTH sides are too big to broadcast and a few keys carry a
    disproportionate share of rows (AQE's skew-join handles sort-merge
    skew after the fact; salting prevents the hot partition from being
    built at all, and also covers shuffled-hash joins). The left salt
    hashes the whole row, so rows of one hot key scatter uniformly.
    """
    keys = [on] if isinstance(on, str) else list(on)
    l2 = left.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    r2 = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l2.join(r2, keys + ["_salt"]).drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    tiebreak: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """As-of join (extension — the reference has none, SURVEY §2.3):
    for each left row, attach the most recent right row with
    ``right_ts <= left_ts`` in the same key group, or nulls when there
    is none (a left join). ``tiebreak`` names a right column that breaks
    equal-timestamp ties (max wins).

    Scale design: NOT a time-range join (which explodes to every
    earlier match and re-filters). Both sides are unioned with a side
    tag and sorted once per key; a running ``last(_r, ignorenulls)``
    over (ts, side, tiebreak) carries the latest right row forward to
    each left row. One shuffle on the key + one sort — cost is
    O(n log n) per key group independent of match fan-out. Right rows
    sort before left rows at equal ts, so same-instant matches are
    visible (inclusive as-of-backward).
    """
    keys = [on] if isinstance(on, str) else list(on)
    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    rschema = right.select(*rcols).schema
    l2 = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_l"),
        F.lit(None).cast(rschema).alias("_r"),
    )
    lschema = left.select(*lcols).schema
    r2 = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lschema).alias("_l"),
        F.struct(*rcols).alias("_r"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(),
                 F.col("_r").getField(tiebreak).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l2.unionByName(r2)
    matched = (
        u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out_cols = (
        [F.col(k) for k in keys]
        + [F.col("_l").getField(c).alias(c) for c in lcols]
        + [F.col("_m").getField(c).alias(c) for c in rcols]
    )
    return matched.select(*out_cols)


def stream_table_join(
    stream: DataFrame,
    table: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Stream enriched by table lookup (Stream.hs:314-356 `joinTable`).

    The dimension table broadcasts — no shuffle on the (large) stream
    side; at 100 TB this is the difference between a map-only stage
    and a full shuffle of the fact stream.
    """
    return stream.join(F.broadcast(table), on, how)


def semi_join(left: DataFrame, right: DataFrame, cond: Column,
              broadcast_right: bool = True) -> DataFrame:
    """LEFT SEMI join: rows of ``left`` with at least one match in
    ``right`` (SQL EXISTS / IN-subquery). Absent from the reference
    grammar (SURVEY.md §2.3 — no semi/anti joins anywhere); first-class
    here because EXISTS-shaped filters are the backbone of TPC-H-style
    analytics.

    Scale: a semi join never widens rows — output carries only ``left``
    columns, and the probe side short-circuits on first match. The
    filtering key set is usually small (an aggregated or filtered key
    list), so it broadcasts by default: the big side stays map-only.
    Set ``broadcast_right=False`` when the right side is itself large —
    Spark falls back to a shuffled hash semi join on the equi-keys.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, "leftsemi")


def anti_join(left: DataFrame, right: DataFrame, cond: Column,
              broadcast_right: bool = True) -> DataFrame:
    """LEFT ANTI join: rows of ``left`` with NO match in ``right``
    (SQL NOT EXISTS / NOT IN with non-null keys). Same scale shape as
    `semi_join` — exclusion lists are small, so broadcast by default.

    NOTE: this implements NOT EXISTS semantics. SQL's NOT IN differs
    when the subquery can produce NULL keys (NOT IN yields no rows);
    callers translating NOT IN must pre-filter NULLs from ``right``.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, "leftanti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Numeric range join: left rows matched to right rows whose
    [lo, hi] interval contains the left value — the shape behind band
    lookups, histogram binning against irregular bins, and IP-range /
    price-band enrichment.

    Naively this is a theta join (BroadcastNestedLoop when the right
    side is big enough to matter). Here both sides key on fixed-width
    value buckets — the right interval EXPLODES into every bucket it
    overlaps — and the join becomes a bucket equi-join plus an exact
    refine filter: one hash shuffle, right-side replication factor =
    avg interval width / bucket_width. Pick bucket_width ≈ the median
    interval width so replication stays O(1).
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col))
    lb = left.withColumn("__rb", F.floor(F.col(value_col) / bucket_width))
    rb = right.withColumn(
        "__rb",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                F.floor(F.col(hi_col) / bucket_width),
            )
        ),
    )
    return lb.join(rb, "__rb", how).filter(cond).drop("__rb")
