"""Advanced streaming: stream-stream interval joins through the SQL
frontend in true streaming mode, and stateful TOPK views."""

from __future__ import annotations

import pytest

from hstream_spark.streaming.runtime import HStreamEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = HStreamEngine(spark, str(tmp_path / "data"))
    yield eng
    eng.shutdown()


@pytest.mark.slow
def test_stream_stream_interval_join(engine):
    # FIXTURES.md §6: orders_s ⋈ clicks ON cid WITHIN 10s, streaming mode
    engine.execute("CREATE STREAM orders_s (oid INTEGER, cid INTEGER, amt INTEGER);")
    engine.execute("CREATE STREAM clicks (cid2 INTEGER, page STRING);")
    # inserts land within the same few seconds → all within the interval
    engine.execute("INSERT INTO orders_s (oid, cid, amt) VALUES (10, 1, 99);")
    engine.execute("INSERT INTO clicks (cid2, page) VALUES (1, 'home');")
    engine.execute("INSERT INTO clicks (cid2, page) VALUES (2, 'cart');")
    handle = engine.execute(
        "SELECT oid, page FROM orders_s JOIN clicks "
        "ON orders_s.cid = clicks.cid2 WITHIN (INTERVAL 1 MINUTE) EMIT CHANGES;"
    )
    rows = handle.drain()
    assert [(r["oid"], r["page"]) for r in rows] == [(10, "home")]
    handle.stop()


@pytest.mark.slow
def test_push_drain_incremental(engine):
    """Server-streaming push semantics (Core/Query.hs:114-116): each
    drain returns only rows emitted since the previous one — a
    long-lived EMIT CHANGES consumer polling N times pays O(new), not
    O(N·total), and never re-receives delivered rows. The max_rows
    guard bounds each drain's NEW rows."""
    import pytest as _pytest

    engine.execute("CREATE STREAM pd_ev (k STRING, v INTEGER);")
    engine.execute("INSERT INTO pd_ev (k, v) VALUES ('a', 1);")
    h = engine.execute("SELECT k, v FROM pd_ev EMIT CHANGES;")
    first = [(r["k"], r["v"]) for r in h.drain()]
    assert first == [("a", 1)]
    engine.execute("INSERT INTO pd_ev (k, v) VALUES ('b', 2);")
    second = [(r["k"], r["v"]) for r in h.drain()]
    assert second == [("b", 2)]  # disjoint suffix, nothing re-sent
    assert h.drain() == []       # no new input -> empty
    # max_rows guards NEW rows per drain, offset intact afterwards
    h.max_rows = 1
    engine.execute("INSERT INTO pd_ev (k, v) VALUES ('c', 3);")
    engine.execute("INSERT INTO pd_ev (k, v) VALUES ('d', 4);")
    with _pytest.raises(RuntimeError, match="max_rows"):
        h.drain()
    h.max_rows = 1_000_000
    assert [(r["k"], r["v"]) for r in h.drain()] == [("c", 3), ("d", 4)]
    h.stop()


@pytest.mark.slow
def test_late_data_dropped_beyond_grace(spark, tmp_path):
    """Reference semantics: records later than windowEnd + grace are
    dropped (TimeWindowedStream.hs:99-113; fixed 24h there, configurable
    here). A row an hour behind the watermark must not create state."""
    import time as _time

    eng = HStreamEngine(spark, str(tmp_path / "late"), grace="5 seconds")
    try:
        eng.execute("CREATE STREAM lev (k STRING, v INTEGER);")
        now = _time.time()
        eng.execute(f"INSERT INTO lev (k, v, _ts) VALUES ('fresh', 1, {now});")
        eng.execute(
            "CREATE VIEW lv AS SELECT k, COUNT(*) AS n "
            "FROM TUMBLE(lev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        eng.views["lv"].handle.processAllAvailable()
        # watermark is now ~(now - 5s); this row is an hour late
        eng.execute(f"INSERT INTO lev (k, v, _ts) VALUES ('stale', 1, {now - 3600});")
        # and a fresh row that must still land
        eng.execute(f"INSERT INTO lev (k, v, _ts) VALUES ('fresh', 2, {now + 1});")
        eng.views["lv"].handle.processAllAvailable()
        ks = {r["k"] for r in eng.execute("SELECT k, n FROM lv;").collect()}
        assert "fresh" in ks
        assert "stale" not in ks  # dropped, not aggregated
    finally:
        eng.shutdown()


def test_insert_ts_override_sets_event_time(spark, tmp_path):
    eng = HStreamEngine(spark, str(tmp_path / "ovr"))
    try:
        eng.execute("CREATE STREAM oev (a INTEGER);")
        eng.execute("INSERT INTO oev (a, _ts) VALUES (1, 1704067200);")  # 2024-01-01
        row = eng.execute("SELECT a, _ts FROM oev;").collect()[0]
        assert str(row["_ts"]).startswith("2024-01-01")
    finally:
        eng.shutdown()


@pytest.mark.slow
def test_streaming_left_outer_interval_join(spark, tmp_path):
    """LEFT outer stream-stream interval join in true streaming mode:
    the unmatched left row emits with nulls once BOTH watermarks pass
    the join window (reference V1 silently treats outer as INNER — we
    implement the declared semantics, SEMANTICS.md)."""
    import time as _time

    eng = HStreamEngine(spark, str(tmp_path / "souter"), grace="10 seconds")
    try:
        eng.execute("CREATE STREAM lo (k INTEGER, x INTEGER);")
        eng.execute("CREATE STREAM ro (k2 INTEGER, y INTEGER);")
        t0 = _time.time() - 3600
        eng.execute(f"INSERT INTO lo (k, x, _ts) VALUES (1, 10, {t0});")
        eng.execute(f"INSERT INTO lo (k, x, _ts) VALUES (2, 20, {t0});")
        eng.execute(f"INSERT INTO ro (k2, y, _ts) VALUES (1, 99, {t0});")
        h = eng.execute(
            "SELECT k, x, y FROM lo LEFT JOIN ro ON lo.k = ro.k2 "
            "WITHIN (INTERVAL 1 MINUTE) EMIT CHANGES;"
        )
        assert sorted((r["k"], r["x"], r["y"]) for r in h.drain()) == [(1, 10, 99)]
        # push both watermarks far past the join window -> null emission
        eng.execute(f"INSERT INTO lo (k, x, _ts) VALUES (9, 0, {t0 + 1800});")
        eng.execute(f"INSERT INTO ro (k2, y, _ts) VALUES (9, 0, {t0 + 1800});")
        got = sorted((r["k"], r["x"], r["y"]) for r in h.drain())
        assert (2, 20, None) in got
        h.stop()
    finally:
        eng.shutdown()


def test_windowed_agg_over_derived_stream(engine):
    """Event time survives CSAS (reference propagates srcTimestamp
    end-to-end): a TUMBLE over the derived stream groups by the
    original records' times."""
    import time as _time

    engine.execute("CREATE STREAM base (k STRING, v INTEGER);")
    engine.execute("CREATE STREAM doubled AS SELECT k, v * 2 AS v2 FROM base;")
    ts = _time.time()
    engine.execute(f"INSERT INTO base (k, v, _ts) VALUES ('a', 1, {ts});")
    engine.execute(f"INSERT INTO base (k, v, _ts) VALUES ('a', 2, {ts});")
    csas = next(q for q in engine.queries.values() if q.sink_stream == "doubled")
    csas.handle.processAllAvailable()
    handle = engine.execute(
        "SELECT k, SUM(v2) AS s FROM TUMBLE(doubled, INTERVAL 5 SECOND) GROUP BY k EMIT CHANGES;"
    )
    rows = handle.drain()
    assert {(r["k"], r["s"]) for r in rows} == {("a", 6)}
    # the derived records kept the ORIGINAL event time, not write time
    assert all(abs(r["window_start"].timestamp() - ts) < 10 for r in rows)
    handle.stop()


def test_multi_join_with_merged_event_time(engine):
    """Chained joins (V2 grammar allows them): joined records carry
    max(ts_l, ts_r) as their single event time (Stream.hs:228-312), so
    a second join or window over the result stays unambiguous."""
    for s, col in [("ma", "x"), ("mb", "y"), ("mc", "z")]:
        engine.execute(f"CREATE STREAM {s} (k INTEGER, {col} INTEGER);")
        engine.execute(f"INSERT INTO {s} (k, {col}) VALUES (1, 10);")
    rows = engine.execute(
        "SELECT x, y, z FROM ma JOIN mb ON ma.k = mb.k WITHIN (INTERVAL 1 HOUR) "
        "JOIN mc ON mb.k = mc.k WITHIN (INTERVAL 1 HOUR);"
    ).collect()
    assert [(r["x"], r["y"], r["z"]) for r in rows] == [(10, 10, 10)]


@pytest.mark.slow
def test_duration_backlog_retention(spark, tmp_path):
    """DURATION bounds the stored backlog (reference default 7 days;
    AST.hs:708-712): files older than the retention are vacuumed."""
    import time as _time

    eng = HStreamEngine(spark, str(tmp_path / "ret"))
    try:
        eng.execute("CREATE STREAM r (a INTEGER) WITH (DURATION = INTERVAL 1 SECOND);")
        eng.execute("INSERT INTO r (a) VALUES (1);")
        _time.sleep(1.3)
        eng.execute("INSERT INTO r (a) VALUES (2);")  # insert triggers vacuum
        vals = sorted(r["a"] for r in eng.execute("SELECT a FROM r;").collect())
        assert vals == [2], vals  # first append aged out of the backlog
        # default retention (7 days) keeps everything
        eng.execute("CREATE STREAM keep (a INTEGER);")
        eng.execute("INSERT INTO keep (a) VALUES (1);")
        assert eng.vacuum("keep") == 0
    finally:
        eng.shutdown()


@pytest.mark.slow
def test_push_query_emits_update_stream(engine):
    """Aggregated EMIT CHANGES is a changelog: each trigger appends the
    touched groups' new accumulators (reference GroupedStream.hs:98-102;
    update-sequence assertion pattern of RunSQLSpec.hs:80-90)."""
    import time as _time

    engine.execute("CREATE STREAM uev (k STRING, v INTEGER);")
    ts = _time.time()
    engine.execute(f"INSERT INTO uev (k, v, _ts) VALUES ('a', 1, {ts});")
    handle = engine.execute("SELECT k, SUM(v) AS s FROM uev GROUP BY k EMIT CHANGES;")
    first = [(r["k"], r["s"]) for r in handle.drain()]
    assert ("a", 1) in first
    engine.execute(f"INSERT INTO uev (k, v, _ts) VALUES ('a', 4, {ts});")
    engine.execute(f"INSERT INTO uev (k, v, _ts) VALUES ('b', 7, {ts});")
    seq = [(r["k"], r["s"]) for r in handle.drain()]
    # incremental drain: only the NEW accumulators since the first
    # drain — the already-delivered ("a", 1) row is not re-sent
    assert ("a", 5) in seq and ("b", 7) in seq
    assert ("a", 1) not in seq
    handle.stop()


@pytest.mark.slow
def test_topk_view_incremental_across_batches(engine):
    """A plain GROUP BY view's TOPK compiles through ``AGG.topk``: each
    key keeps its top-k, and a later trigger merges with the stored
    state instead of replacing it."""
    engine.execute("CREATE STREAM vals (k STRING, v FLOAT);")
    for k, v in [("a", 1.0), ("a", 5.0), ("a", 3.0), ("b", 9.0)]:
        engine.execute(f"INSERT INTO vals (k, v) VALUES ('{k}', {v});")
    engine.execute(
        "CREATE VIEW topk_v AS SELECT k, TOPK(v, 2) AS t FROM vals GROUP BY k;"
    )
    handle = engine.views["topk_v"].handle
    handle.processAllAvailable()

    def rows():
        return {
            r["k"]: list(r["t"])
            for r in engine.execute("SELECT k, t FROM topk_v;").collect()
        }

    assert rows() == {"a": [5.0, 3.0], "b": [9.0]}
    engine.execute("INSERT INTO vals (k, v) VALUES ('a', 7.0);")
    handle.processAllAvailable()
    assert rows() == {"a": [7.0, 5.0], "b": [9.0]}


@pytest.mark.slow
def test_streaming_session_window_view(engine):
    """SESSION(gap) in a continuous view: records closer than the gap
    merge into one session; a silence longer than the gap splits them
    (SessionWindowedStream.hs:93-138 gap-merge; Spark session_window)."""
    import time as _time

    engine.execute("CREATE STREAM sess_ev (k STRING, v INTEGER);")
    base = _time.time()
    # two bursts 60s apart, gap 10s → two sessions for 'a'
    for off in (0.0, 1.0, 2.0):
        engine.execute(
            f"INSERT INTO sess_ev (k, v, _ts) VALUES ('a', 1, {base + off});"
        )
    for off in (60.0, 61.0):
        engine.execute(
            f"INSERT INTO sess_ev (k, v, _ts) VALUES ('a', 1, {base + off});"
        )
    engine.execute(
        "CREATE VIEW sess_view AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(sess_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    engine.views["sess_view"].handle.processAllAvailable()
    rows = engine.execute("SELECT k, n FROM sess_view;").collect()
    counts = sorted(r["n"] for r in rows)
    assert counts == [2, 3]


@pytest.mark.slow
def test_view_state_distributed_multi_partition(engine, spark):
    """View state lives in a keyed parquet table merged by the cluster
    (anti-join + union), never a driver structure: many keys across
    many partitions upsert correctly over multiple triggers."""
    engine.execute("CREATE STREAM mk_ev (k INTEGER, v INTEGER);")
    for k in range(20):
        engine.execute(f"INSERT INTO mk_ev (k, v) VALUES ({k}, 1);")
    engine.execute(
        "CREATE VIEW mk_view AS SELECT k, SUM(v) AS total FROM mk_ev GROUP BY k;"
    )
    vi = engine.views["mk_view"]
    vi.handle.processAllAvailable()
    rows = {r["k"]: r["total"] for r in engine.execute("SELECT k, total FROM mk_view;").collect()}
    assert rows == {k: 1 for k in range(20)}
    # second trigger updates a subset; untouched keys must survive the merge
    for k in (3, 7):
        engine.execute(f"INSERT INTO mk_ev (k, v) VALUES ({k}, 10);")
    vi.handle.processAllAvailable()
    rows = {r["k"]: r["total"] for r in engine.execute("SELECT k, total FROM mk_view;").collect()}
    assert rows[3] == 11 and rows[7] == 11 and rows[0] == 1 and len(rows) == 20
    # the state is a real distributed table on disk, read with >1 partition allowed
    state = engine._view_state_read(vi)
    assert state.count() == 20
    import os

    assert os.path.exists(os.path.join(vi.state_dir, "CURRENT"))


@pytest.mark.slow
def test_session_view_update_mode_and_merge(engine):
    """Streaming SESSION views run in UPDATE mode (per-trigger deltas
    via the stateful session operator, not a complete-mode refresh), and
    a bridging event MERGES two sessions — the merged row supersedes its
    overlapped constituents in view state."""
    import time as _time

    engine.execute("CREATE STREAM smg_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO smg_ev (k, v, _ts) VALUES ('a', 1, {base});")
    engine.execute(f"INSERT INTO smg_ev (k, v, _ts) VALUES ('a', 1, {base + 15.0});")
    engine.execute(
        "CREATE VIEW smg_view AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(smg_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    vi = engine.views["smg_view"]
    assert vi.merge_on_overlap and not vi.replace_all, "session view must use the update path"
    vi.handle.processAllAvailable()
    rows = engine.execute("SELECT k, n FROM smg_view;").collect()
    assert sorted(r["n"] for r in rows) == [1, 1]
    # bridge the 10s gap: both sessions + the bridge merge into ONE
    engine.execute(f"INSERT INTO smg_ev (k, v, _ts) VALUES ('a', 1, {base + 7.0});")
    vi.handle.processAllAvailable()
    rows = engine.execute("SELECT k, n FROM smg_view;").collect()
    assert [r["n"] for r in rows] == [3], rows


def test_session_push_query_emits_only_touched_sessions(engine):
    """SELECT ... EMIT CHANGES over SESSION windows ships per-trigger
    deltas: a trigger touching only key 'b' must not re-emit 'a' rows
    (the complete-mode fallback would)."""
    import time as _time

    engine.execute("CREATE STREAM sp_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO sp_ev (k, v, _ts) VALUES ('a', 1, {base});")
    handle = engine.execute(
        "SELECT k, COUNT(*) AS n FROM SESSION(sp_ev, INTERVAL 10 SECOND) "
        "GROUP BY k EMIT CHANGES;"
    )
    first = handle.drain()
    assert [r["k"] for r in first] == ["a"]
    engine.execute(f"INSERT INTO sp_ev (k, v, _ts) VALUES ('b', 1, {base});")
    second = handle.drain()
    # incremental drain: exactly the one new 'b' row, nothing re-sent
    assert [r["k"] for r in second] == ["b"]
    handle.stop()


@pytest.mark.slow
def test_streaming_sliding_window_push_query(engine, spark):
    """V2 SLIDING windows in a streaming push query: each record emits
    its group's trailing-interval aggregate (insert at t, retract at
    t + size — Handler/Common.hs:97-105). The emitted multiset must
    equal the batch range-frame compilation over the same data."""
    import time as _time

    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    engine.execute("CREATE STREAM slw_ev (k STRING, v INTEGER);")
    base = _time.time()
    for off, v in [(0.0, 1), (5.0, 2), (8.0, 4), (30.0, 8), (32.0, 16)]:
        engine.execute(
            f"INSERT INTO slw_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
        )
    sql = (
        "SELECT k, SUM(v) AS s, COUNT(*) AS n "
        "FROM SLIDING(slw_ev, INTERVAL 10 SECOND) GROUP BY k EMIT CHANGES;"
    )
    handle = engine.execute(sql)
    rows = handle.drain()
    got = sorted((r["k"], r["s"], r["n"]) for r in rows)
    handle.stop()
    # batch analogue over the same stream contents
    stmt = parse(sql.replace(" EMIT CHANGES", ""))
    batch = compile_select(stmt, engine._resolve_batch).collect()
    want = sorted((r["k"], r["s"], r["n"]) for r in batch)
    assert got == want, (got, want)
    # windows: [1],[1,2],[1,2,4],[8],[8,16] -> sums 1,3,7,8,24
    assert [g[1] for g in got] == sorted([1, 3, 7, 8, 24])


@pytest.mark.slow
def test_sliding_view_keeps_latest_trailing_aggregate(engine):
    """A SLIDING view materializes each key's LATEST trailing-window
    aggregate (the V2 update-stream read): after events at t, t+5, t+30
    with a 10s window, the view shows the t+30 record's window only."""
    import time as _time

    engine.execute("CREATE STREAM slv_ev (k STRING, v INTEGER);")
    base = _time.time()
    for off, v in [(0.0, 1), (5.0, 2), (30.0, 8)]:
        engine.execute(
            f"INSERT INTO slv_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
        )
    engine.execute(
        "CREATE VIEW slv AS SELECT k, SUM(v) AS s, COUNT(*) AS n "
        "FROM SLIDING(slv_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    engine.views["slv"].handle.processAllAvailable()
    rows = engine.execute("SELECT k, s, n FROM slv;").collect()
    assert [(r["k"], r["s"], r["n"]) for r in rows] == [("a", 8, 1)]
    # the internal ordering timestamp never leaks into wildcard reads
    star = engine.execute("SELECT * FROM slv;").collect()
    assert set(star[0].asDict().keys()) == {"k", "s", "n"}
    # a new record re-opens the key's window and supersedes the state
    engine.execute(f"INSERT INTO slv_ev (k, v, _ts) VALUES ('a', 16, {base + 32.0});")
    engine.views["slv"].handle.processAllAvailable()
    rows = engine.execute("SELECT k, s, n FROM slv;").collect()
    assert [(r["k"], r["s"], r["n"]) for r in rows] == [("a", 24, 2)]


class TestViewHavingAndFallbackBound:
    """Round-9 fallback narrowing: HAVING-bearing views compile to
    UPDATE-safe plans (hidden __hv state column, read-time filter)
    instead of complete-mode refreshes, and what still falls back is
    bounded by complete_fallback_max_rows instead of silently
    rewriting O(result) per trigger."""

    @pytest.mark.slow
    def test_plain_view_having_retracts_below_threshold(self, engine):
        """HAVING on an update-mode view must RETRACT a group that
        falls back below the predicate — an inline streaming filter
        would suppress the retraction and pin the stale passing row."""
        engine.execute("CREATE STREAM hv_ev (k STRING, v INTEGER);")
        engine.execute(
            "CREATE VIEW hv AS SELECT k, SUM(v) AS s FROM hv_ev "
            "GROUP BY k HAVING SUM(v) > 0;"
        )
        vi = engine.views["hv"]
        assert vi.having_col == "__hv"
        assert engine.queries["view_hv"].mode == "update"  # no fallback
        engine.execute("INSERT INTO hv_ev (k, v) VALUES ('a', 5);")
        engine.execute("INSERT INTO hv_ev (k, v) VALUES ('b', -1);")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, s FROM hv;").collect()
        assert [(r["k"], r["s"]) for r in rows] == [("a", 5)]
        assert rows[0].asDict().keys() == {"k", "s"}  # __hv stripped
        # a falls BELOW the predicate, b rises above it
        engine.execute("INSERT INTO hv_ev (k, v) VALUES ('a', -6);")
        engine.execute("INSERT INTO hv_ev (k, v) VALUES ('b', 3);")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, s FROM hv;").collect()
        assert [(r["k"], r["s"]) for r in rows] == [("b", 2)]

    @pytest.mark.slow
    def test_session_view_having_stays_stateful(self, engine):
        """SESSION + HAVING now rides the stateful update path (round-8
        fell back to complete): the state keeps non-passing sessions so
        they can GROW into the predicate."""
        import time as _time

        engine.execute("CREATE STREAM shv_ev (k STRING, v INTEGER);")
        base = _time.time()
        engine.execute(f"INSERT INTO shv_ev (k, v, _ts) VALUES ('a', 1, {base});")
        engine.execute(f"INSERT INTO shv_ev (k, v, _ts) VALUES ('b', 1, {base + 1.0});")
        engine.execute(
            "CREATE VIEW shv AS SELECT k, COUNT(*) AS n "
            "FROM SESSION(shv_ev, INTERVAL 10 SECOND) GROUP BY k "
            "HAVING COUNT(*) >= 2;"
        )
        vi = engine.views["shv"]
        assert vi.merge_on_overlap  # stateful path, not complete
        assert engine.queries["view_shv"].mode == "update"
        vi.handle.processAllAvailable()
        assert engine.execute("SELECT k, n FROM shv;").collect() == []
        # a's session grows into the predicate; b's stays hidden
        engine.execute(f"INSERT INTO shv_ev (k, v, _ts) VALUES ('a', 1, {base + 2.0});")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, n FROM shv;").collect()
        assert [(r["k"], r["n"]) for r in rows] == [("a", 2)]

    def test_fallback_mode_matrix(self, engine):
        """Which view shapes land where — the enumerated fallback
        class. Everything convertible is update/append; only shapes the
        stateful operator genuinely can't express still fall back."""
        engine.execute("CREATE STREAM fm_ev (k STRING, v INTEGER);")
        cases = [
            ("fm_plain", "SELECT k, SUM(v) AS s FROM fm_ev GROUP BY k",
             "update"),
            ("fm_tumble", "SELECT k, COUNT(*) AS n FROM "
             "TUMBLE(fm_ev, INTERVAL 10 SECOND) GROUP BY k", "update"),
            ("fm_sess", "SELECT k, COUNT(*) AS n FROM "
             "SESSION(fm_ev, INTERVAL 10 SECOND) GROUP BY k", "update"),
            ("fm_sess_hav", "SELECT k, COUNT(*) AS n FROM "
             "SESSION(fm_ev, INTERVAL 10 SECOND) GROUP BY k "
             "HAVING COUNT(*) > 1", "update"),
            ("fm_slide_hav", "SELECT k, SUM(v) AS s FROM "
             "SLIDING(fm_ev, INTERVAL 10 SECOND) GROUP BY k "
             "HAVING SUM(v) > 0", "append"),
            # round 9: TOPK sessions ride the stateful update path too
            # (bounded top-k partials in state)
            ("fm_sess_topk", "SELECT k, TOPK(v, 2) AS t FROM "
             "SESSION(fm_ev, INTERVAL 10 SECOND) GROUP BY k",
             "update"),
            # stream-QUALIFIED plain ref in HAVING: the stateful output
            # frame is unqualified, so this shape must fall back
            # gracefully instead of failing CREATE VIEW at analysis
            ("fm_sess_qual", "SELECT k, COUNT(*) AS n FROM "
             "SESSION(fm_ev, INTERVAL 10 SECOND) GROUP BY k "
             "HAVING fm_ev.k <> 'x' AND COUNT(*) > 1",
             "complete(fallback)"),
        ]
        import warnings as _warnings

        for name, sel, want_mode in cases:
            with _warnings.catch_warnings():
                _warnings.simplefilter("ignore", RuntimeWarning)
                engine.execute(f"CREATE VIEW {name} AS {sel};")
            assert engine.queries[f"view_{name}"].mode == want_mode, name

    @pytest.mark.slow
    def test_session_view_topk_stateful(self, engine):
        """TOPK/TOPKDISTINCT session views run as UPDATE streams with
        bounded top-k partials in state (round 9 — previously the
        complete-mode fallback): values merge across triggers, sessions
        merge their top lists, duplicates dedupe for TOPKDISTINCT."""
        import time as _time

        engine.execute("CREATE STREAM tkv_ev (k STRING, v INTEGER);")
        base = _time.time()
        for off, v in [(0.0, 1), (1.0, 5), (2.0, 5)]:
            engine.execute(
                f"INSERT INTO tkv_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
            )
        engine.execute(
            "CREATE VIEW tkv AS SELECT k, TOPK(v, 2) AS t, "
            "TOPKDISTINCT(v, 2) AS td FROM "
            "SESSION(tkv_ev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        vi = engine.views["tkv"]
        assert vi.merge_on_overlap
        assert engine.queries["view_tkv"].mode == "update"
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, t, td FROM tkv;").collect()
        assert [(r["k"], list(r["t"]), list(r["td"])) for r in rows] == [
            ("a", [5, 5], [5, 1])
        ]
        # a later trigger extends the session: top lists merge across
        # the stored partial and the new events
        engine.execute(f"INSERT INTO tkv_ev (k, v, _ts) VALUES ('a', 9, {base + 3.0});")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, t, td FROM tkv;").collect()
        assert [(r["k"], list(r["t"]), list(r["td"])) for r in rows] == [
            ("a", [9, 5], [9, 5])
        ]

    def test_topk_nonpositive_k_rejected_at_compile(self, engine):
        """TOPK(v, k<1) is a CompileError at CREATE, not a deferred
        per-row slice error (batch) or silently-empty arrays (a capped
        stateful partial truncating cur[:-1])."""
        import pytest as _pytest

        from hstream_spark.plans.compiler import CompileError

        engine.execute("CREATE STREAM tkn_ev (k STRING, v INTEGER);")
        for bad_k in (-1, 0):
            with _pytest.raises(CompileError, match="k >= 1"):
                engine.execute(
                    f"CREATE VIEW tkn AS SELECT k, TOPK(v, {bad_k}) AS t "
                    "FROM SESSION(tkn_ev, INTERVAL 10 SECOND) GROUP BY k;"
                )
        assert "tkn" not in engine.views  # no phantom registration
        # the batch SLIDING path compiles TOPK through its own
        # range-frame branch (_compile_sliding) — it must apply the
        # same k>=1 gate, not defer to empty arrays / slice errors
        for bad_k in (-1, 0):
            with _pytest.raises(CompileError, match="k >= 1"):
                engine.execute(
                    f"SELECT k, TOPK(v, {bad_k}) AS t "
                    "FROM SLIDING(tkn_ev, INTERVAL 10 SECOND) GROUP BY k;"
                )

    @pytest.mark.slow
    def test_sliding_view_topk(self, engine):
        """TOPK over a SLIDING view: each key's state is the latest
        trailing-window top-k, folded fresh from the raw-event buffer
        (no state-schema change, append emission)."""
        import time as _time

        engine.execute("CREATE STREAM tks_ev (k STRING, v INTEGER);")
        base = _time.time()
        for off, v in [(0.0, 4), (2.0, 8), (30.0, 6)]:
            engine.execute(
                f"INSERT INTO tks_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
            )
        engine.execute(
            "CREATE VIEW tks AS SELECT k, TOPK(v, 2) AS t FROM "
            "SLIDING(tks_ev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        vi = engine.views["tks"]
        vi.handle.processAllAvailable()
        # latest record (t+30) opens its own window: only [6]
        rows = engine.execute("SELECT k, t FROM tks;").collect()
        assert [(r["k"], list(r["t"])) for r in rows] == [("a", [6])]
        engine.execute(
            f"INSERT INTO tks_ev (k, v, _ts) VALUES ('a', 7, {base + 32.0});"
        )
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT k, t FROM tks;").collect()
        assert [(r["k"], list(r["t"])) for r in rows] == [("a", [7, 6])]
        # batch range-frame analogue agrees (this path used to raise
        # MISSING_GROUP_BY: .over() must attach to the aggregate, not
        # the slice/sort composition around it)
        from hstream_spark.plans.compiler import compile_select
        from hstream_spark.plans.parser import parse

        stmt = parse(
            "SELECT k, TOPK(v, 2) AS t FROM "
            "SLIDING(tks_ev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        batch = {tuple(r["t"]) for r in
                 compile_select(stmt, engine._resolve_batch).collect()}
        assert (7, 6) in batch  # the view's window is one of the batch's

    def test_complete_fallback_bound_refuses(self, spark, tmp_path):
        """Above complete_fallback_max_rows the replace_all refresh
        raises instead of silently rewriting the full result forever;
        the previous generation stays current."""
        import pytest as _pytest

        from pyspark.sql import types as T

        from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

        schema = T.StructType([T.StructField("k", T.StringType()),
                               T.StructField("n", T.LongType())])
        state_dir = str(tmp_path / "cfb")
        import os

        os.makedirs(state_dir)
        vi = ViewInfo("cfb", "", None, state_dir, schema, ("k",),
                      replace_all=True, complete_max_rows=5)
        small = spark.createDataFrame([(f"k{i}", i) for i in range(3)],
                                      schema)
        HStreamEngine._view_upsert(vi, small)
        big = spark.createDataFrame([(f"k{i}", i) for i in range(9)], schema)
        with _pytest.raises(RuntimeError, match="complete_fallback_max_rows"):
            HStreamEngine._view_upsert(vi, big)
        # the refused generation never became current
        got = {r["k"] for r in
               HStreamEngine._view_state_frame(spark, vi).collect()}
        assert got == {f"k{i}" for i in range(3)}
        # ...and its on-disk dir was removed before raising: a stuck
        # view must not park an extra O(result) generation per retry
        assert not os.path.exists(os.path.join(state_dir, "v1"))


@pytest.mark.slow
def test_stream_joins_view_state(engine):
    """A push query can enrich a stream against a VIEW's materialized
    state (stream-static join with the view as the table side)."""
    engine.execute("CREATE STREAM sv_base (k STRING, v INTEGER);")
    for k, v in [("a", 10), ("a", 20), ("b", 5)]:
        engine.execute(f"INSERT INTO sv_base (k, v) VALUES ('{k}', {v});")
    engine.execute(
        "CREATE VIEW sv_totals AS SELECT k, SUM(v) AS total FROM sv_base GROUP BY k;"
    )
    engine.views["sv_totals"].handle.processAllAvailable()
    engine.execute("CREATE STREAM sv_live (k STRING, x INTEGER);")
    engine.execute("INSERT INTO sv_live (k, x) VALUES ('a', 1);")
    engine.execute("INSERT INTO sv_live (k, x) VALUES ('b', 2);")
    handle = engine.execute(
        "SELECT sv_live.k AS k, sv_live.x AS x, sv_totals.total AS total "
        "FROM sv_live JOIN sv_totals ON sv_live.k = sv_totals.k EMIT CHANGES;"
    )
    rows = sorted((r["k"], r["x"], r["total"]) for r in handle.drain())
    handle.stop()
    assert rows == [("a", 1, 30), ("b", 2, 5)]


def test_session_view_aliased_group_key(engine):
    """SELECT k AS kk ... GROUP BY k over SESSION must register the
    ALIASED column in the stateful operator output (the non-agg item
    branch previously dropped the alias, so the view upsert keyed on a
    missing column and failed at the first trigger)."""
    import time as _time

    engine.execute("CREATE STREAM sak_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO sak_ev (k, v, _ts) VALUES ('a', 1, {base});")
    engine.execute(f"INSERT INTO sak_ev (k, v, _ts) VALUES ('a', 2, {base + 3.0});")
    engine.execute(
        "CREATE VIEW sak AS SELECT k AS kk, SUM(v) AS s "
        "FROM SESSION(sak_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    vi = engine.views["sak"]
    assert vi.merge_on_overlap and not vi.replace_all, "must stay on the update path"
    vi.handle.processAllAvailable()
    rows = engine.execute("SELECT kk, s FROM sak;").collect()
    assert [(r["kk"], r["s"]) for r in rows] == [("a", 3)]


def test_sliding_view_aliased_group_key(engine):
    import time as _time

    engine.execute("CREATE STREAM slak_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO slak_ev (k, v, _ts) VALUES ('a', 1, {base});")
    engine.execute(f"INSERT INTO slak_ev (k, v, _ts) VALUES ('a', 2, {base + 3.0});")
    engine.execute(
        "CREATE VIEW slak AS SELECT k AS kk, SUM(v) AS s "
        "FROM SLIDING(slak_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    engine.views["slak"].handle.processAllAvailable()
    rows = engine.execute("SELECT kk, s FROM slak;").collect()
    assert [(r["kk"], r["s"]) for r in rows] == [("a", 3)]


@pytest.mark.slow
def test_stateful_window_int64_exact_beyond_2_53(engine):
    """SUM over bigint keeps exact int64 partials in stateful windows:
    2^53+1 summed twice must not round to the nearest float64
    (18014398509481984) — the batch plan is exact, streaming state must
    match."""
    import time as _time

    big = 2**53 + 1
    engine.execute("CREATE STREAM bi_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO bi_ev (k, v, _ts) VALUES ('a', {big}, {base});")
    engine.execute(
        f"INSERT INTO bi_ev (k, v, _ts) VALUES ('a', {big}, {base + 2.0});"
    )
    engine.execute(
        "CREATE VIEW bi_sess AS SELECT k, SUM(v) AS s, MAX(v) AS mx "
        "FROM SESSION(bi_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    engine.views["bi_sess"].handle.processAllAvailable()
    rows = engine.execute("SELECT s, mx FROM bi_sess;").collect()
    assert [(r["s"], r["mx"]) for r in rows] == [(2 * big, big)]

    engine.execute(
        "CREATE VIEW bi_slide AS SELECT k, SUM(v) AS s "
        "FROM SLIDING(bi_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    engine.views["bi_slide"].handle.processAllAvailable()
    rows = engine.execute("SELECT s FROM bi_slide;").collect()
    assert [r["s"] for r in rows] == [2 * big]


def test_complete_fallback_is_loud(engine):
    """A SESSION view shape the stateful update operator can't express
    falls back to complete mode — the fallback must warn and surface
    mode='complete(fallback)' in SHOW QUERIES instead of engaging
    silently (a full-result refresh per trigger). Plain HAVING and
    TOPK compile update-safe since round 9, so the representative
    fallback shape here is HAVING over a stream-QUALIFIED plain ref
    (the stateful output frame is unqualified)."""
    import time as _time

    engine.execute("CREATE STREAM cfb_ev (k STRING, v INTEGER);")
    base = _time.time()
    engine.execute(f"INSERT INTO cfb_ev (k, v, _ts) VALUES ('a', 1, {base});")
    with pytest.warns(RuntimeWarning, match="complete output mode"):
        engine.execute(
            "CREATE VIEW cfb AS SELECT k, COUNT(*) AS n "
            "FROM SESSION(cfb_ev, INTERVAL 10 SECOND) GROUP BY k "
            "HAVING cfb_ev.k <> 'zzz' AND COUNT(*) > 0;"
        )
    assert engine.views["cfb"].replace_all
    rows = {r["name"]: r for r in engine.execute("SHOW QUERIES;").collect()}
    assert rows["view_cfb"]["mode"] == "complete(fallback)"
    # the update-path session view advertises its real mode
    engine.execute(
        "CREATE VIEW cfb_ok AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(cfb_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    rows = {r["name"]: r for r in engine.execute("SHOW QUERIES;").collect()}
    assert rows["view_cfb_ok"]["mode"] == "update"


def test_view_lifecycle_survives_restart(spark, tmp_path):
    """View-backing queries get deterministic names (view_<name>), so a
    logged TERMINATE replays onto the same query after restart instead
    of silently resurrecting the refresh as RUNNING."""
    from hstream_spark.streaming.runtime import HStreamEngine

    root = str(tmp_path / "vterm")
    a = HStreamEngine(spark, root)
    a.execute("CREATE STREAM vt_ev (k STRING, v INTEGER);")
    a.execute("CREATE VIEW vt AS SELECT k, SUM(v) AS s FROM vt_ev GROUP BY k;")
    assert "view_vt" in a.queries
    a.execute("TERMINATE QUERY view_vt;")
    assert a.queries["view_vt"].status == "TERMINATED"
    a.shutdown()

    b = HStreamEngine(spark, root)
    try:
        assert b.queries["view_vt"].status == "TERMINATED"
        h = b.queries["view_vt"].handle
        assert h is None or not h.isActive
    finally:
        b.shutdown()


@pytest.mark.slow
def test_session_view_expressions_over_aggregates(engine):
    """Items may be expressions over the supported aggregates (the
    batch path's agg-dedup rewrite applied to the stateful update
    plan): a reused SUM composed with COUNT(*) in one item."""
    import time as _time

    engine.execute("CREATE STREAM sx_ev (k STRING, v INTEGER);")
    base = _time.time()
    for off, v in [(0.0, 10), (2.0, 20), (4.0, 30)]:
        engine.execute(
            f"INSERT INTO sx_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
        )
    engine.execute(
        "CREATE VIEW sx AS SELECT k, SUM(v) AS s, SUM(v) + COUNT(*) AS s_plus_n "
        "FROM SESSION(sx_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    vi = engine.views["sx"]
    assert vi.merge_on_overlap, "expression items must stay on the update path"
    vi.handle.processAllAvailable()
    rows = engine.execute("SELECT k, s, s_plus_n FROM sx;").collect()
    assert [(r["k"], r["s"], r["s_plus_n"]) for r in rows] == [("a", 60, 63)]


def test_csas_over_session_and_sliding(engine):
    """CREATE STREAM AS SELECT works over SESSION and SLIDING windows
    (routed through the stateful plans; the default compilation is
    rejected by streaming Spark for both)."""
    import time as _time

    engine.execute("CREATE STREAM cs_ev (k STRING, v INTEGER);")
    base = _time.time()
    for off, v in [(0.0, 1), (5.0, 2)]:
        engine.execute(
            f"INSERT INTO cs_ev (k, v, _ts) VALUES ('a', {v}, {base + off});"
        )
    q1 = engine.execute(
        "CREATE STREAM cs_sess AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(cs_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    q1.handle.processAllAvailable()
    sess = engine.execute("SELECT k, n FROM cs_sess;").collect()
    assert ("a", 2) in {(r["k"], r["n"]) for r in sess}
    q2 = engine.execute(
        "CREATE STREAM cs_slide AS SELECT k, SUM(v) AS s "
        "FROM SLIDING(cs_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    q2.handle.processAllAvailable()
    slide = sorted((r["k"], r["s"]) for r in engine.execute("SELECT k, s FROM cs_slide;").collect())
    assert slide == [("a", 1), ("a", 3)]  # per-record trailing sums


def test_streaming_shuffle_partitions_scoped_per_query(spark, tmp_path):
    """The engine's streaming_shuffle_partitions override is captured
    by the started query's cloned session (state operators run with it)
    while the live session conf is untouched for batch work."""
    from hstream_spark.streaming.runtime import HStreamEngine

    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng = HStreamEngine(spark, str(tmp_path / "e"), grace="3650 days",
                        streaming_shuffle_partitions=4)
    eng.execute("CREATE STREAM sp (k INTEGER, v INTEGER);")
    eng.execute("INSERT INTO sp (k, v) VALUES (1, 10);")
    eng.execute("INSERT INTO sp (k, v) VALUES (1, 20);")
    eng.execute(
        "CREATE VIEW spv AS SELECT k, SUM(v) AS s "
        "FROM TUMBLE(sp, INTERVAL 1 HOUR) GROUP BY k;"
    )
    vi = eng.views["spv"]
    vi.handle.processAllAvailable()
    progress = [p for p in vi.handle.recentProgress if p["numInputRows"]]
    assert progress, "view never processed a batch"
    ops = progress[-1]["stateOperators"]
    assert ops and ops[0]["numShufflePartitions"] == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    rows = {(r["k"], r["s"]) for r in eng.execute("SELECT k, s FROM spv;").collect()}
    assert rows == {(1, 30)}
    eng.shutdown() if hasattr(eng, "shutdown") else None


@pytest.mark.slow
def test_streaming_full_outer_interval_join(spark, tmp_path):
    """FULL outer stream-stream interval join in true streaming mode:
    unmatched rows from BOTH sides emit with nulls after both
    watermarks pass the window (the declared outer semantics the
    reference drops — SEMANTICS.md)."""
    import time as _time

    from hstream_spark.streaming.runtime import HStreamEngine

    eng = HStreamEngine(spark, str(tmp_path / "sfull"), grace="10 seconds")
    try:
        eng.execute("CREATE STREAM fl (k INTEGER, x INTEGER);")
        eng.execute("CREATE STREAM fr (k2 INTEGER, y INTEGER);")
        t0 = _time.time() - 3600
        eng.execute(f"INSERT INTO fl (k, x, _ts) VALUES (1, 10, {t0});")
        eng.execute(f"INSERT INTO fl (k, x, _ts) VALUES (2, 20, {t0});")
        eng.execute(f"INSERT INTO fr (k2, y, _ts) VALUES (1, 99, {t0});")
        eng.execute(f"INSERT INTO fr (k2, y, _ts) VALUES (3, 77, {t0});")
        h = eng.execute(
            "SELECT k, x, k2, y FROM fl FULL JOIN fr ON fl.k = fr.k2 "
            "WITHIN (INTERVAL 1 MINUTE) EMIT CHANGES;"
        )
        assert sorted(
            (r["k"], r["x"], r["k2"], r["y"]) for r in h.drain()
        ) == [(1, 10, 1, 99)]
        eng.execute(f"INSERT INTO fl (k, x, _ts) VALUES (9, 0, {t0 + 1800});")
        eng.execute(f"INSERT INTO fr (k2, y, _ts) VALUES (9, 0, {t0 + 1800});")
        got = {(r["k"], r["x"], r["k2"], r["y"]) for r in h.drain()}
        assert (2, 20, None, None) in got      # left-unmatched
        assert (None, None, 3, 77) in got      # right-unmatched
        h.stop()
    finally:
        eng.shutdown()


@pytest.mark.slow
def test_time_group_key_view_and_push_query_survive_restart(spark, tmp_path):
    """Round-7 TIME e2e: a view grouped on a native TIME column runs
    through the streaming surface (keyed-parquet state carries
    TimeType), an EMIT CHANGES push query groups on the same
    TIME-derived key, and BOTH the view state and a fresh engine's
    recovery survive a checkpoint restart — proving the Spark 4.1
    TimeType workarounds (string-path casts in the JSON codecs,
    TimeType-keyed state merge) hold end-to-end, not just in batch."""
    import datetime

    from hstream_spark.streaming.runtime import HStreamEngine

    nine15 = datetime.time(9, 15)
    five30 = datetime.time(17, 30)
    root = str(tmp_path / "tview")
    a = HStreamEngine(spark, root)
    a.execute("CREATE STREAM shifts (worker INTEGER, clock_in TIME, amt INTEGER);")
    a.execute("INSERT INTO shifts (worker, clock_in, amt) VALUES (1, '09:15:00', 5);")
    a.execute("INSERT INTO shifts (worker, clock_in, amt) VALUES (2, '09:15:00', 7);")
    a.execute("INSERT INTO shifts (worker, clock_in, amt) VALUES (3, '17:30:00', 2);")
    a.execute(
        "CREATE VIEW shift_tot AS SELECT clock_in, COUNT(*) AS n, "
        "SUM(amt) AS total FROM shifts GROUP BY clock_in;"
    )
    a.views["shift_tot"].handle.processAllAvailable()
    rows = {
        r["clock_in"]: (r["n"], r["total"])
        for r in a.execute("SELECT clock_in, n, total FROM shift_tot;").collect()
    }
    assert rows == {nine15: (2, 12), five30: (1, 2)}

    # push query on the same TIME group key emits typed update rows
    h = a.execute(
        "SELECT clock_in, COUNT(*) AS n FROM shifts GROUP BY clock_in "
        "EMIT CHANGES;"
    )
    got = {r["clock_in"]: r["n"] for r in h.drain()}
    assert got == {nine15: 2, five30: 1}
    assert all(isinstance(k, datetime.time) for k in got)
    h.stop()
    a.shutdown()

    # restart on the same root: recovery replays the DDL log, the view's
    # TimeType-keyed parquet state is reread, and a new insert UPDATES
    # the recovered key rather than forking a fresh accumulator
    b = HStreamEngine(spark, root)
    try:
        b.execute("INSERT INTO shifts (worker, clock_in, amt) VALUES (4, '09:15:00', 1);")
        b.views["shift_tot"].handle.processAllAvailable()
        rows = {
            r["clock_in"]: (r["n"], r["total"])
            for r in b.execute("SELECT clock_in, n, total FROM shift_tot;").collect()
        }
        assert rows == {nine15: (3, 13), five30: (1, 2)}
    finally:
        b.shutdown()
