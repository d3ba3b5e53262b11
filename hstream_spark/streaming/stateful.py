"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference executes every aggregate as an incremental
(init, step, merge) accumulator over a per-key KV store
(hstream-processing/src/HStream/Processing/Stream/GroupedStream.hs:
79-102, Codegen/AggOp.hs). Spark's built-in streaming aggregation
covers the standard aggregates; this module is the extension path for
accumulators Spark lacks as native *streaming* aggregates — the shape
matches the reference exactly: per-key state in the state store,
step per batch, emit updated accumulator downstream.

The session- and sliding-window aggregates below are its users; a
``TOPK`` view compiles through ``AGG.topk`` in the SQL engine instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# ---------------------------------------------------------------------------
# Generic session-window aggregation as an UPDATE stream
# ---------------------------------------------------------------------------

# (kind, needs_input): how each supported aggregate folds into its
# (value, non-null count) partial pair. The top-k kinds' partial value
# is the BOUNDED sorted-desc list of the k largest values seen so far —
# values below a partial's k-th entry can never enter the merged top-k
# (monotone), so capped partials merge losslessly and session state
# stays O(open sessions × aggs × k).
_SESSION_KINDS = ("count_all", "count", "sum", "min", "max", "avg",
                  "topk", "topkdistinct")
_TOPK_KINDS = ("topk", "topkdistinct")


def _fold_row(
    kind: str, v, n: int, x, as_int: bool = False, param: int | None = None
) -> tuple:
    """Fold one input value into a (value, count) partial. ``as_int``
    keeps the partial in exact int64 arithmetic (bigint SUM/MIN/MAX —
    float64 partials silently lose precision beyond 2^53). ``param``
    is the k of a top-k kind."""
    import math

    is_null = x is None or (isinstance(x, float) and math.isnan(x))
    if kind == "count_all":
        return (v or 0) + 1, n + 1
    if is_null:
        return v, n
    if kind in _TOPK_KINDS:
        x = int(x) if as_int else float(x)
        cur = list(v) if v else []
        cur.append(x)
        if kind == "topkdistinct":
            cur = list(set(cur))
        cur.sort(reverse=True)
        return cur[:param], n + 1
    x = int(x) if as_int else float(x)
    if kind == "count":
        return (v or 0) + 1, n + 1
    if kind in ("sum", "avg"):
        return ((v or 0) + x), n + 1
    if kind == "min":
        return x if v is None else min(v, x), n + 1
    if kind == "max":
        return x if v is None else max(v, x), n + 1
    raise ValueError(kind)


def _merge_partial(kind: str, a: tuple, b: tuple,
                   param: int | None = None) -> tuple:
    (va, na), (vb, nb) = a, b
    if kind in _TOPK_KINDS:
        m = (list(va) if va else []) + (list(vb) if vb else [])
        if kind == "topkdistinct":
            m = list(set(m))
        m.sort(reverse=True)
        return m[:param], na + nb
    if va is None:
        return vb, na + nb
    if vb is None:
        return va, na + nb
    if kind == "min":
        return min(va, vb), na + nb
    if kind == "max":
        return max(va, vb), na + nb
    return va + vb, na + nb  # count/sum/avg partials are additive


def session_aggregate(
    df: DataFrame,
    keys: list[str],
    ts_us_col: str,
    gap_us: int,
    kinds: list[str],
    input_cols: list[str | None],
    out_names: list[str],
    out_casts: list[str],
    key_ddl: str,
    params: list[int | None] | None = None,
) -> DataFrame:
    """SESSION-window aggregation emitting an UPDATE stream — the
    operator Spark's built-in session_window cannot run in update mode
    (sessions merge, so update emission needs custom state; Spark only
    offers append/complete). The reference emits per-record accumulator
    updates for session windows (SessionWindowedStream.hs:93-138 +
    GroupedStream emission); this reproduces that shape with BOUNDED
    state.

    State per group key = the open sessions only: parallel arrays of
    [start_us, last_event_us] plus one (value, non-null count) partial
    pair per aggregate — O(open sessions × aggs), independent of stream
    length. Each trigger merges the batch's rows into the session list
    (gap-merge sweep), emits ONLY the touched sessions (update-mode
    deltas: output per trigger is bounded by batch keys, never the full
    result), and evicts sessions whose close time has passed the event-
    time watermark (they can no longer merge with on-time data).

    A session's window is [start, last_event + gap) — Spark
    session_window semantics, matching the batch path. When sessions
    merge, the emitted merged row's window COVERS the superseded rows'
    windows; the view-state upsert resolves supersession by overlap
    (runtime._view_upsert merge_on_overlap).

    NaN convention: pandas/Arrow deliver SQL NULL as NaN for float64
    columns, so at this boundary NaN is indistinguishable from NULL
    and is treated as NULL for EVERY aggregate kind (including top-k,
    where the batch plan would sort a true NaN above all numbers) —
    the long-standing convention of this operator, documented rather
    than half-fixable.
    """
    assert len(kinds) == len(input_cols) == len(out_names) == len(out_casts)
    for k in kinds:
        if k not in _SESSION_KINDS:
            raise ValueError(f"unsupported session aggregate kind {k!r}")

    import json

    import pandas as pd

    params = list(params) if params is not None else [None] * len(kinds)
    n_agg = len(kinds)
    # integer-output aggregates (bigint SUM/MIN/MAX/COUNT, bigint
    # top-k lists) keep their partials in exact int64 arithmetic — no
    # float64 precision loss beyond 2^53 (matches the batch plan)
    int_slot = [tp in ("bigint", "int", "long", "array<bigint>")
                for tp in out_casts]
    is_topk = [k in _TOPK_KINDS for k in kinds]
    any_topk = any(is_topk)
    # top-k partials (bounded lists) ride a JSON-string state column —
    # added ONLY when a top-k aggregate is present so every existing
    # view's checkpointed 5-field state stays schema-compatible
    state_type = (
        "starts array<long>, lasts array<long>, "
        "vals array<array<double>>, lvals array<array<long>>, "
        "cnts array<array<long>>"
    ) + (", tops array<array<string>>" if any_topk else "")
    out_fields = ["window_start timestamp", "window_end timestamp"]
    if key_ddl:
        out_fields.append(key_ddl)
    out_fields += [f"`{nm}` {tp}" for nm, tp in zip(out_names, out_casts)]
    out_type = ", ".join(out_fields)

    def _load_partial(vals, lvals, cnts, tops, i, j):
        n = int(cnts[i][j])
        if is_topk[j]:
            return (json.loads(tops[i][j]) if tops[i][j] else [], n)
        raw = lvals[i][j] if int_slot[j] else vals[i][j]
        if kinds[j] in ("count_all", "count"):
            return (int(raw or 0), n)
        if n == 0:
            return (None, 0)
        return (int(raw) if int_slot[j] else float(raw), n)

    def step(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            st = state.get
            starts, lasts, vals, lvals, cnts = st[:5]
            tops = st[5] if any_topk else None
            sessions = [
                # [start, last, partials, changed]
                [
                    s,
                    l,
                    [_load_partial(vals, lvals, cnts, tops, i, j)
                     for j in range(n_agg)],
                    False,
                ]
                for i, (s, l) in enumerate(zip(starts, lasts))
            ]
        else:
            sessions = []

        for pdf in batches:
            # positional access: itertuples would mangle the __-prefixed
            # projection names (namedtuple rejects leading underscores)
            ts_arr = pdf[ts_us_col].astype("int64").values
            in_series = [pdf[c] if c is not None else None for c in input_cols]
            for r in range(len(pdf)):
                partial = []
                for j, kind in enumerate(kinds):
                    x = in_series[j].iloc[r] if in_series[j] is not None else None
                    partial.append(_fold_row(kind, None, 0, x,
                                             as_int=int_slot[j],
                                             param=params[j]))
                sessions.append([int(ts_arr[r]), int(ts_arr[r]), partial, True])

        # gap-merge sweep: sort by start, coalesce overlapping-within-gap
        sessions.sort(key=lambda s: s[0])
        merged: list = []
        for s in sessions:
            if merged and s[0] <= merged[-1][1] + gap_us:
                m = merged[-1]
                m[1] = max(m[1], s[1])
                m[2] = [
                    _merge_partial(kinds[j], m[2][j], s[2][j], param=params[j])
                    for j in range(n_agg)
                ]
                m[3] = m[3] or s[3]
            else:
                merged.append(s)

        try:
            wm_us = state.getCurrentWatermarkMs() * 1000
        except Exception:  # no watermark on the stream: keep all state
            wm_us = 0
        keep = [s for s in merged if s[1] + gap_us >= wm_us or wm_us == 0]
        if keep:
            new_state = (
                [s[0] for s in keep],
                [s[1] for s in keep],
                [
                    [
                        0.0 if (int_slot[j] or is_topk[j])
                        else float(s[2][j][0] or 0)
                        for j in range(n_agg)
                    ]
                    for s in keep
                ],
                [
                    [
                        int(s[2][j][0] or 0)
                        if (int_slot[j] and not is_topk[j]) else 0
                        for j in range(n_agg)
                    ]
                    for s in keep
                ],
                [[p[1] for p in s[2]] for s in keep],
            )
            if any_topk:
                new_state = new_state + (
                    [
                        [
                            json.dumps(s[2][j][0] or []) if is_topk[j] else ""
                            for j in range(n_agg)
                        ]
                        for s in keep
                    ],
                )
            state.update(new_state)
        else:
            state.remove()

        changed = [s for s in merged if s[3]]
        if not changed:
            return
        out: dict = {
            "window_start": pd.to_datetime([s[0] for s in changed], unit="us"),
            "window_end": pd.to_datetime(
                [s[1] + gap_us for s in changed], unit="us"
            ),
        }
        for i, kcol in enumerate(keys):
            out[kcol] = [key[i]] * len(changed)
        for j, nm in enumerate(out_names):
            col = []
            for s in changed:
                v, n = s[2][j]
                if kinds[j] == "count_all" or kinds[j] == "count":
                    col.append(int(v or 0))
                elif is_topk[j]:
                    # batch TOPK over an empty/all-NULL group is an
                    # empty array, never NULL
                    col.append(list(v) if v else [])
                elif n == 0 or v is None:
                    col.append(None)
                elif kinds[j] == "avg":
                    col.append(v / n)
                elif out_casts[j] in ("bigint", "int", "long"):
                    col.append(int(v))
                else:
                    col.append(v)
            out[nm] = col
        yield pd.DataFrame(out)

    from pyspark.sql import functions as F

    # keyless (global) sessionization still needs a grouping column for
    # the state store; a constant key routes everything to one state row
    grouped = df.groupBy(*keys) if keys else df.groupBy(F.lit(0).alias("__gk"))
    return grouped.applyInPandasWithState(
        step,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_aggregate(
    df: DataFrame,
    keys: list[str],
    ts_us_col: str,
    size_us: int,
    kinds: list[str],
    input_cols: list[str | None],
    out_names: list[str],
    out_casts: list[str],
    key_ddl: str,
    params: list[int | None] | None = None,
) -> DataFrame:
    """V2 SLIDING window as a true streaming operator: each arriving
    record emits its group's aggregate over the trailing ``size``
    interval (ts - size, ts] — the reference inserts a record's
    contribution at t and retracts it at t + size
    (Handler/Common.hs:97-105); the update stream sampled at arrivals.

    The batch analogue is the range-frame window function in
    ``_compile_sliding``; streaming Spark has no window functions, so
    state holds the RAW (ts, inputs) events still inside some open
    window — bounded by arrival rate × size (exactly the reference's
    retract-buffer) — and is evicted once the watermark passes
    ts + size. Emission is append-per-record.
    """
    assert len(kinds) == len(input_cols) == len(out_names) == len(out_casts)
    for k in kinds:
        if k not in _SESSION_KINDS:
            raise ValueError(f"unsupported sliding aggregate kind {k!r}")

    import math

    import pandas as pd

    params = list(params) if params is not None else [None] * len(kinds)
    n_agg = len(kinds)
    # vals doubles as the null mask (nan = null input); lvals carries
    # the exact int64 value for integer-output aggregates (bigint
    # SUM/MIN/MAX fold in exact long arithmetic, no 2^53 loss). Top-k
    # kinds need NO state change here: the buffer holds raw events and
    # each emission folds the window's values fresh (param-capped).
    int_slot = [tp in ("bigint", "int", "long", "array<bigint>")
                for tp in out_casts]
    state_type = (
        "ts array<long>, vals array<array<double>>, lvals array<array<long>>"
    )
    out_fields = [f"`{ts_us_col}` long"]
    if key_ddl:
        out_fields.append(key_ddl)
    out_fields += [f"`{nm}` {tp}" for nm, tp in zip(out_names, out_casts)]
    out_type = ", ".join(out_fields)

    def step(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ts_list, vals, lvals = state.get
            events = [
                (ts_list[i], list(vals[i]), list(lvals[i]))
                for i in range(len(ts_list))
            ]
        else:
            events = []

        new_rows = []
        for pdf in batches:
            ts_arr = pdf[ts_us_col].astype("int64").values
            in_series = [pdf[c] if c is not None else None for c in input_cols]
            for r in range(len(pdf)):
                row_vals = []
                row_ints = []
                for j in range(n_agg):
                    if in_series[j] is None:
                        row_vals.append(1.0)  # count_all marker
                        row_ints.append(1)
                    else:
                        x = in_series[j].iloc[r]
                        null = x is None or (
                            isinstance(x, float) and math.isnan(x)
                        )
                        row_vals.append(float("nan") if null else float(x))
                        row_ints.append(
                            int(x) if (not null and int_slot[j]) else 0
                        )
                new_rows.append((int(ts_arr[r]), row_vals, row_ints))

        events.extend(new_rows)
        events.sort(key=lambda e: e[0])

        out_rows = []
        for ts, _, _ in new_rows:
            lo = ts - size_us
            partials = [(None, 0)] * n_agg
            for ets, evals, eints in events:
                if ets <= lo or ets > ts:
                    continue
                for j, kind in enumerate(kinds):
                    if math.isnan(evals[j]):
                        x = None
                    else:
                        x = eints[j] if int_slot[j] else evals[j]
                    if kind == "count_all":
                        x = 1
                    v, n = partials[j]
                    partials[j] = _fold_row(kind, v, n, x,
                                            as_int=int_slot[j],
                                            param=params[j])
            rec = [ts]
            for i in range(len(keys)):
                rec.append(key[i])
            for j, kind in enumerate(kinds):
                v, n = partials[j]
                if kind in ("count_all", "count"):
                    rec.append(int(v or 0))
                elif kind in _TOPK_KINDS:
                    rec.append(list(v) if v else [])
                elif n == 0 or v is None:
                    rec.append(None)
                elif kind == "avg":
                    rec.append(v / n)
                elif out_casts[j] in ("bigint", "int", "long"):
                    rec.append(int(v))
                else:
                    rec.append(v)
            out_rows.append(rec)

        try:
            wm_us = state.getCurrentWatermarkMs() * 1000
        except Exception:
            wm_us = 0
        keep = [e for e in events if wm_us == 0 or e[0] + size_us >= wm_us]
        if keep:
            state.update(
                (
                    [e[0] for e in keep],
                    [e[1] for e in keep],
                    [e[2] for e in keep],
                )
            )
        else:
            state.remove()

        if out_rows:
            cols = [ts_us_col, *keys, *out_names]
            yield pd.DataFrame(out_rows, columns=cols)

    from pyspark.sql import functions as F

    grouped = df.groupBy(*keys) if keys else df.groupBy(F.lit(0).alias("__gk"))
    return grouped.applyInPandasWithState(
        step,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
