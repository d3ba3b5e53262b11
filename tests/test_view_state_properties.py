"""Property-based testing of the LSM view-state fold.

The enumerated crash-injection tests (round 9) pin each named fault
point once; this file drives RANDOM interleavings of
upsert / compaction-cadence / crash-at-fault-point / replay / read
against a sequential in-memory oracle — randomized coverage for the
interleaving nobody enumerated (round-9 verdict task 6). Three state
machines, one per read strategy in ``_view_state_frame``, plus one for
retention, each on both fold paths (driver-side pyarrow and Spark):

- keyed latest-wins (row_number over __sv),
- keyless replace (newest non-empty delta IS the state),
- session overlap-supersession (same-group newer-overlap anti-join).

Seeds are pinned via ``derandomize=True`` (every run draws the same
example sequence — CI-stable) and examples are few but multi-step:
each drives a full batch sequence with folds forced at a drawn cadence.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import os as _os

# HSTREAM_PROP_EXAMPLES=<n> runs a DEEP fuzz session: more examples,
# fresh random seeds (derandomize off) — for bug-hunting outside CI.
# Unset, the suite stays pinned-seed/6-example CI-stable.
_DEEP = _os.environ.get("HSTREAM_PROP_EXAMPLES")
PROP_SETTINGS = dict(
    max_examples=int(_DEEP) if _DEEP else 6,
    deadline=None,
    derandomize=not _DEEP,  # pinned seeds unless deep-fuzzing
    suppress_health_check=[
        HealthCheck.too_slow,
        # _fold_often's monkeypatch is idempotent global config: safe
        # to apply once per test function rather than per example
        HealthCheck.function_scoped_fixture,
    ],
)

FAULT_POINTS = [
    None,
    "first-base-written",
    "first-base-renamed",
    "delta-written",
    "delta-renamed",
    "compact-written",
    "compact-swapped",
]


class Crash(RuntimeError):
    pass


def _mk_vi(name, schema_str, key_cols, **kw):
    # hypothesis re-enters the test body per example with the SAME
    # pytest fixtures, so the state dir must be fresh per example —
    # tempfile.mkdtemp here, not tmp_path
    import tempfile

    from pyspark.sql import types as T

    from hstream_spark.streaming.runtime import ViewInfo

    fields = []
    for part in schema_str.split(","):
        cname, ctype = part.strip().split(" ")
        fields.append(T.StructField(
            cname,
            {"string": T.StringType(), "long": T.LongType(),
             "timestamp": T.TimestampType()}[ctype],
        ))
    state_dir = tempfile.mkdtemp(prefix=f"prop_{name}_")
    return ViewInfo(name, "", None, state_dir,
                    T.StructType(fields), tuple(key_cols), **kw)


def _apply_with_faults(spark, vi, rows_df, fault):
    """One upsert, optionally crashing at ``fault`` and then replaying
    the same batch (exactly what Structured Streaming's epoch replay
    does). Returns True if the crash point was actually reached."""
    import hstream_spark.streaming.runtime as R

    if fault is None:
        R.HStreamEngine._view_upsert(vi, rows_df)
        return False

    def hook(p):
        if p == fault:
            raise Crash(p)

    R._FAULT_HOOK = hook
    crashed = False
    try:
        R.HStreamEngine._view_upsert(vi, rows_df)
    except Crash:
        crashed = True
    finally:
        R._FAULT_HOOK = None
    if crashed:  # epoch replay: same batch re-applies cleanly
        R.HStreamEngine._view_upsert(vi, rows_df)
    return crashed


@pytest.fixture(autouse=True, params=[None, 0], ids=["cap-default", "cap-0"])
def _fold_often(request, monkeypatch):
    """Low cadence floor + no size deferral: random sequences reach the
    compaction branches within a handful of batches (production floor
    is 8 — unreachable in short examples). Every machine runs at the
    default ``_DRIVER_ARROW_MAX_BYTES`` (keyed and keyless folds
    merge in the driver) and at 0 (every fold runs the Spark plan);
    SESSION folds take the Spark plan at both."""
    import hstream_spark.streaming.runtime as R

    monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_EVERY", 2)
    monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_FRACTION", 0.0)
    if request.param is not None:
        monkeypatch.setattr(R.HStreamEngine, "_DRIVER_ARROW_MAX_BYTES",
                            request.param)


# batch: {key -> value}; op: (batch, fault_point_or_None)
_keyed_ops = st.lists(
    st.tuples(
        st.dictionaries(
            st.sampled_from("abcdef"), st.integers(0, 99),
            min_size=1, max_size=4,
        ),
        st.sampled_from(FAULT_POINTS),
    ),
    min_size=2, max_size=6,
)


@settings(**PROP_SETTINGS)
@given(ops=_keyed_ops)
@pytest.mark.slow
def test_keyed_latest_wins_matches_sequential_oracle(spark_prop, ops):
    from hstream_spark.streaming.runtime import HStreamEngine

    vi = _mk_vi("kv", "k string, n long", ("k",))
    oracle: dict[str, int] = {}
    for batch, fault in ops:
        bdf = spark_prop.createDataFrame(
            list(batch.items()), "k string, n long"
        )
        _apply_with_faults(spark_prop, vi, bdf, fault)
        oracle.update(batch)
        got = {r["k"]: r["n"] for r in
               HStreamEngine._view_state_frame(spark_prop, vi).collect()}
        assert got == oracle, (batch, fault)


_keyless_ops = st.lists(
    st.tuples(
        st.lists(st.integers(0, 99), min_size=0, max_size=3),
        st.sampled_from(FAULT_POINTS),
    ),
    min_size=2, max_size=6,
)


@settings(**PROP_SETTINGS)
@given(ops=_keyless_ops)
@pytest.mark.slow
def test_keyless_replace_matches_sequential_oracle(spark_prop, ops):
    """Keyless views: every non-empty batch REPLACES the state; empty
    batches must leave it untouched (an empty delta would blank the
    view until the next data trigger)."""
    from pyspark.sql import types as T

    from hstream_spark.streaming.runtime import HStreamEngine

    vi = _mk_vi("nl", "n long", ())
    oracle: list[int] = []
    schema = T.StructType([T.StructField("n", T.LongType())])
    for batch, fault in ops:
        bdf = spark_prop.createDataFrame([(v,) for v in batch], schema)
        _apply_with_faults(spark_prop, vi, bdf, fault)
        if batch:
            oracle = sorted(batch)
        got = sorted(
            r["n"] for r in
            HStreamEngine._view_state_frame(spark_prop, vi).collect()
        )
        assert got == oracle, (batch, fault)


# session op: (group, start, length, fault). The stateful operator only
# ever EXTENDS sessions, so the emitted (merged) row is the UNION of the
# new span with every same-group session it overlaps — the generator
# replays that producer contract and the oracle applies removal-only
# supersession, exactly the sequential per-trigger merge the read-side
# fold must reproduce.
_session_ops = st.lists(
    st.tuples(
        st.sampled_from("ab"),
        st.integers(0, 40),
        st.integers(1, 10),
        st.sampled_from(FAULT_POINTS),
    ),
    min_size=2, max_size=6,
)


@settings(**PROP_SETTINGS)
@given(ops=_session_ops)
@pytest.mark.slow
def test_session_supersession_matches_sequential_oracle(spark_prop, ops):
    import datetime as dt

    from hstream_spark.streaming.runtime import HStreamEngine

    vi = _mk_vi(
        "sv", "k string, window_start timestamp, "
        "window_end timestamp, n long",
        ("window_start", "window_end", "k"), merge_on_overlap=True,
    )
    epoch = dt.datetime(2024, 1, 1)

    def ts(s):
        return epoch + dt.timedelta(seconds=s)

    oracle: list[tuple[str, int, int, int]] = []  # (k, ws, we, n)
    for grp, start, length, fault in ops:
        ws, we = start, start + length
        merged_n = 1
        for k, ows, owe, on in oracle:
            if k == grp and ows < we and owe > ws:  # merge (extend)
                ws, we = min(ws, ows), max(we, owe)
                merged_n += on
        row = (grp, ws, we, merged_n)
        bdf = spark_prop.createDataFrame(
            [(grp, ts(ws), ts(we), merged_n)],
            "k string, window_start timestamp, window_end timestamp, "
            "n long",
        )
        _apply_with_faults(spark_prop, vi, bdf, fault)
        oracle = [
            (k, ows, owe, on) for k, ows, owe, on in oracle
            if not (k == grp and ows < we and owe > ws)
        ] + [row]
        got = sorted(
            (r["k"],
             int((r["window_start"] - epoch).total_seconds()),
             int((r["window_end"] - epoch).total_seconds()),
             r["n"])
            for r in
            HStreamEngine._view_state_frame(spark_prop, vi).collect()
        )
        assert got == sorted(oracle), (grp, start, length, fault)


@pytest.fixture(scope="module")
def spark_prop():
    from hstream_spark import get_spark

    return get_spark("hstream_spark-tests")


_retention_ops = st.lists(
    st.tuples(
        st.dictionaries(
            st.tuples(st.sampled_from("ab"), st.integers(0, 5)),
            st.integers(0, 99),
            min_size=1, max_size=4,
        ),
        st.sampled_from(FAULT_POINTS),
    ),
    min_size=3, max_size=7,
)


@settings(**PROP_SETTINGS)
@given(ops=_retention_ops)
@pytest.mark.slow
def test_windowed_retention_matches_sequential_oracle(spark_prop, ops):
    """WITH (DURATION …) windowed views, two-rule retention contract:

    - WRITE: an incoming row whose window closed beyond the horizon
      (pre-batch high-water mark − retention) never enters state —
      without this an epoch replay after a crash between a fold's
      pointer swap and its cleanup resurrects just-expired windows
      onto the new generation (this state machine FOUND that bug).
    - FOLD: state rows expire only at a generation advance, against
      the post-batch high-water mark; between folds expired-but-
      unfolded windows MUST still read back (retention is a state
      bound, not a query filter).

    The oracle is sequential latest-wins plus those two rules applied
    at exactly the engine's observed fold points. Crash/replay
    interleavings ride the same fault points as the other machines."""
    import datetime as dt

    from hstream_spark.streaming.runtime import HStreamEngine

    epoch = dt.datetime(2026, 1, 1)
    retention = 30.0
    vi = _mk_vi("ret", "k string, window_end timestamp, n long",
                ("k", "window_end"), retention_secs=retention)
    oracle: dict[tuple, int] = {}
    hw = None
    for batch, fault in ops:
        rows = [(k, epoch + dt.timedelta(seconds=20 * w), n)
                for (k, w), n in batch.items()]
        bdf = spark_prop.createDataFrame(
            rows, "k string, window_end timestamp, n long"
        )
        base_before = HStreamEngine._view_layout(vi.state_dir)[0]
        _apply_with_faults(spark_prop, vi, bdf, fault)
        base_after = HStreamEngine._view_layout(vi.state_dir)[0]
        # WRITE rule: pre-batch high-water gates what the batch may add
        write_cut = (hw - dt.timedelta(seconds=retention)
                     if hw is not None else None)
        for (k, w), n in batch.items():
            we = epoch + dt.timedelta(seconds=20 * w)
            if write_cut is not None and we < write_cut:
                continue
            oracle[(k, we)] = n
            if hw is None or we > hw:
                hw = we
        # FOLD rule: a fold is a GENERATION advance (v{n} → v{n+1});
        # the initial base write (None → v0) is not a fold. Expiry
        # uses the post-batch high-water mark (it advanced at the
        # delta write, before the fold ran).
        if (base_before is not None and base_after is not None
                and base_after > base_before):
            cutoff = hw - dt.timedelta(seconds=retention)
            oracle = {kk: v for kk, v in oracle.items() if kk[1] >= cutoff}
        got = {(r["k"], r["window_end"]): r["n"] for r in
               HStreamEngine._view_state_frame(spark_prop, vi).collect()}
        assert got == oracle, (batch, fault, base_before, base_after)
