"""E2E streaming tests — ports of the reference integration specs
(hstream/test/HStream/RunSQLSpec.hs): insert+select, GROUP BY update
stream, derived stream + materialized view, windowed aggregation,
lifecycle control."""

from __future__ import annotations

import time

import pytest

from hstream_spark.streaming.runtime import HStreamEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = HStreamEngine(spark, str(tmp_path / "data"))
    yield eng
    eng.shutdown()


def wait_until(pred, timeout=30.0, step=0.5):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


class TestBasics:
    def test_insert_and_push_select(self, engine):
        # RunSQLSpec "insert data and select" (readings fixture)
        engine.execute("CREATE STREAM readings (temperature INTEGER, humidity INTEGER);")
        engine.execute("INSERT INTO readings (temperature, humidity) VALUES (22, 80);")
        engine.execute("INSERT INTO readings (temperature, humidity) VALUES (15, 10);")
        handle = engine.execute(
            "SELECT temperature, humidity FROM readings WHERE humidity > 50 EMIT CHANGES;"
        )
        rows = handle.drain()
        assert [(r["temperature"], r["humidity"]) for r in rows] == [(22, 80)]
        handle.stop()

    def test_insert_raw_json(self, engine):
        engine.execute("CREATE STREAM j (x INTEGER, y STRING);")
        engine.execute("INSERT INTO j VALUES CAST('{\"x\": 7, \"y\": \"hi\"}' AS JSONB);")
        df = engine.execute("SELECT x, y FROM j;")
        assert [(r["x"], r["y"]) for r in df.collect()] == [(7, "hi")]

    @pytest.mark.slow
    def test_group_by_update_stream(self, engine):
        # RunSQLSpec "GROUP BY without timewindow" (pairs fixture,
        # RunSQLSpec.hs:80-90): the emitted update stream per key is a
        # subsequence of the running accumulators — b=2 must pass
        # through (a subsequence of) 1, 3, 6 and end at 6.
        engine.execute("CREATE STREAM pairs (a INTEGER, b INTEGER);")
        handle = engine.execute("SELECT SUM(a) AS result, b FROM pairs GROUP BY b EMIT CHANGES;")
        emitted = []  # drains are disjoint suffixes — accumulate them
        for a, b in [(1, 2), (2, 2), (3, 2), (4, 3)]:
            engine.execute(f"INSERT INTO pairs (a, b) VALUES ({a}, {b});")
            emitted += [(r["b"], r["result"]) for r in handle.drain()]
        seq_b2 = [v for b, v in emitted if b == 2]
        expected = [1, 3, 6]
        it = iter(expected)
        assert all(any(v == x for x in it) for v in seq_b2), seq_b2  # subsequence
        assert seq_b2[-1] == 6
        final = {b: v for b, v in emitted}  # latest accumulator per key
        assert final[3] == 4
        assert handle.drain() == []  # nothing new -> empty suffix
        handle.stop()


class TestViews:
    @pytest.mark.slow
    def test_derived_stream_and_view(self, engine):
        # RunSQLSpec ViewSpec chain: source1 → source2 (CSAS) → view v
        engine.execute("CREATE STREAM source1 (a INTEGER);")
        engine.execute("CREATE STREAM source2 AS SELECT a, 1 AS b FROM source1;")
        engine.execute("CREATE VIEW v AS SELECT SUM(a) AS total, b FROM source2 GROUP BY b;")
        for a in (1, 2, 3, 4):
            engine.execute(f"INSERT INTO source1 (a) VALUES ({a});")
        # CSAS propagates source1 → source2; the view aggregates source2.
        csas = next(q for q in engine.queries.values() if q.sink_stream == "source2")
        view_q = engine.views["v"].handle

        def settled():
            csas.handle.processAllAvailable()
            view_q.processAllAvailable()
            rows = engine.execute("SELECT total, b FROM v WHERE b = 1;").collect()
            return bool(rows) and rows[0]["total"] == 10

        assert wait_until(settled, timeout=60)
        rows = engine.execute("SELECT total, b FROM v WHERE b = 1;").collect()
        assert [(r["total"], r["b"]) for r in rows] == [(10, 1)]

    def test_view_requires_aggregation(self, engine):
        engine.execute("CREATE STREAM s1 (a INTEGER);")
        with pytest.raises(Exception, match="aggregation"):
            engine.execute("CREATE VIEW bad AS SELECT a FROM s1;")


class TestWindows:
    @pytest.mark.slow
    def test_tumbling_window_agg(self, engine):
        import time as _time

        engine.execute("CREATE STREAM ev (k STRING, v INTEGER);")
        # pin one shared event time: wall-clock inserts take ~1s each and
        # can straddle a 5s tumble boundary, splitting x across windows
        ts = _time.time()
        for k, v in [("x", 1), ("x", 2), ("y", 5)]:
            engine.execute(f"INSERT INTO ev (k, v, _ts) VALUES ('{k}', {v}, {ts});")
        handle = engine.execute(
            "SELECT k, SUM(v) AS s FROM TUMBLE(ev, INTERVAL 5 SECOND) GROUP BY k EMIT CHANGES;"
        )
        rows = handle.drain()
        got = {(r["k"]): r["s"] for r in rows}
        assert got == {"x": 3, "y": 5}
        assert all(r["window_start"] is not None for r in rows)
        handle.stop()


class TestLifecycle:
    def test_show_and_drop(self, engine):
        engine.execute("CREATE STREAM s1 (a INTEGER);")
        engine.execute("CREATE STREAM s2 (a INTEGER);")
        names = {r["name"] for r in engine.execute("SHOW STREAMS;").collect()}
        assert names == {"s1", "s2"}
        engine.execute("DROP STREAM s2;")
        names = {r["name"] for r in engine.execute("SHOW STREAMS;").collect()}
        assert names == {"s1"}
        assert engine.execute("DROP STREAM nope IF EXISTS;") is False
        with pytest.raises(Exception, match="does not exist"):
            engine.execute("DROP STREAM nope;")

    def test_connector_registry(self, engine):
        engine.execute("CREATE STREAM src (a INTEGER);")
        engine.execute(
            "CREATE SINK CONNECTOR c1 TO src WITH (\"type\" = 'blackhole');"
        )
        rows = engine.execute("SHOW CONNECTORS;").collect()
        assert rows[0]["name"] == "c1" and rows[0]["kind"] == "SINK"
        engine.execute("PAUSE CONNECTOR c1;")
        assert engine.connectors["c1"].status == "PAUSED"
        engine.execute("RESUME CONNECTOR c1;")
        assert engine.connectors["c1"].status == "RUNNING"

    def test_terminate_pause_resume_query(self, engine):
        engine.execute("CREATE STREAM src (a INTEGER);")
        engine.execute("INSERT INTO src (a) VALUES (1);")
        qi = engine.execute("CREATE STREAM derived AS SELECT a * 2 AS a2 FROM src;")
        assert qi.status == "RUNNING"
        qi.handle.processAllAvailable()
        engine.execute(f"PAUSE QUERY {qi.name};")
        assert engine.queries[qi.name].status == "PAUSED"
        engine.execute("INSERT INTO src (a) VALUES (2);")
        engine.execute(f"RESUME QUERY {qi.name};")
        q2 = engine.queries[qi.name]
        assert q2.status == "RUNNING"
        q2.handle.processAllAvailable()
        rows = engine.execute("SELECT a2 FROM derived;").collect()
        assert sorted(r["a2"] for r in rows) == [2, 4]
        engine.execute(f"TERMINATE QUERY {qi.name};")
        assert engine.queries[qi.name].status == "TERMINATED"

    def test_explain(self, engine):
        engine.execute("CREATE STREAM s1 (a INTEGER, b INTEGER);")
        text = engine.execute("EXPLAIN SELECT SUM(a) AS s, b FROM s1 GROUP BY b;")
        assert "Aggregate" in text


class TestSchemalessMode:
    """Schemaless/dynamic record mode — the reference DEFAULT
    (FlowObject, Rts/Old.hs:44): streams declared without columns accept
    unseen fields by evolving the schema; older records read NULL for
    newer columns; nested documents persist as JSONB text."""

    def test_schema_evolves_on_insert(self, engine):
        engine.execute("CREATE STREAM dyn;")
        engine.execute("INSERT INTO dyn VALUES CAST('{\"a\": 1}' AS JSONB);")
        engine.execute(
            "INSERT INTO dyn VALUES CAST('{\"a\": 2, \"b\": \"x\"}' AS JSONB);"
        )
        rows = sorted(
            (r["a"], r["b"]) for r in engine.execute("SELECT a, b FROM dyn;").collect()
        )
        assert rows == [(1, None), (2, "x")]

    def test_typed_stream_rejects_unknown_column(self, engine):
        from hstream_spark.plans.compiler import CompileError

        engine.execute("CREATE STREAM typed_s (a INTEGER);")
        with pytest.raises(CompileError, match="unknown column"):
            engine.execute(
                "INSERT INTO typed_s VALUES CAST('{\"a\": 1, \"zz\": 2}' AS JSONB);"
            )

    def test_heterogeneous_field_demotes_to_jsonb(self, engine):
        """Value-typed records (the reference's FlowObject): a field
        that is int in one record and string in the next must NOT
        reject — the field demotes to JSONB text and both values read
        back as token text."""
        engine.execute("CREATE STREAM het;")
        engine.execute("INSERT INTO het VALUES CAST('{\"x\": 1}' AS JSONB);")
        engine.execute("INSERT INTO het VALUES CAST('{\"x\": \"abc\"}' AS JSONB);")
        engine.execute(
            "INSERT INTO het VALUES CAST('{\"x\": {\"a\": 7}}' AS JSONB);"
        )
        rows = sorted(
            r["x"].replace(" ", "") for r in engine.execute("SELECT x FROM het;").collect()
        )
        assert rows == ["1", "abc", '{"a":7}']
        # the demoted field stays queryable as JSONB
        got = [r["a"] for r in engine.execute("SELECT x -> 'a' AS a FROM het;").collect()]
        assert got.count(None) == 2
        assert [v for v in got if v is not None] in ([7], ["7"])

    def test_int_field_widens_to_double(self, engine):
        engine.execute("CREATE STREAM wid;")
        engine.execute("INSERT INTO wid VALUES CAST('{\"v\": 1}' AS JSONB);")
        engine.execute("INSERT INTO wid VALUES CAST('{\"v\": 1.5}' AS JSONB);")
        vals = sorted(r["v"] for r in engine.execute("SELECT v FROM wid;").collect())
        assert vals == [1.0, 1.5]

    def test_dynamic_schema_survives_restart(self, spark, tmp_path):
        """Evolved dynamic schemas persist in the _schema.json sidecar:
        plain INSERTs are not in the DDL log, so without it a restart
        would re-infer from one arbitrary parquet footer and could lose
        evolved columns (or the payload layout entirely)."""
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "dynsrv")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM dsr;")
        a.execute("INSERT INTO dsr VALUES CAST('{\"a\": 1}' AS JSONB);")
        a.execute(
            "INSERT INTO dsr VALUES CAST('{\"a\": 2, \"b\": \"x\"}' AS JSONB);"
        )
        a.shutdown()
        b = HStreamEngine(spark, root)
        try:
            rows = sorted(
                (r["a"], r["b"])
                for r in b.execute("SELECT a, b FROM dsr;").collect()
            )
            assert rows == [(1, None), (2, "x")]
            # and the stream still accepts value-typed evolution
            b.execute("INSERT INTO dsr VALUES CAST('{\"b\": 3}' AS JSONB);")
            rows = b.execute("SELECT b FROM dsr;").collect()
            assert sorted(str(r["b"]) for r in rows) == ["3", "None", "x"]
        finally:
            b.shutdown()

    def test_insert_select_into_payload_stream(self, engine):
        """INSERT INTO <value-typed stream> SELECT: rows JSON-encode
        into the payload layout and the logical schema widens by field
        union."""
        engine.execute("CREATE STREAM ps_src (a INTEGER);")
        engine.execute("INSERT INTO ps_src (a) VALUES (41);")
        engine.execute("CREATE STREAM ps_dyn;")
        engine.execute("INSERT INTO ps_dyn VALUES CAST('{\"note\": \"hi\"}' AS JSONB);")
        qi = engine.execute("INSERT INTO ps_dyn SELECT a FROM ps_src;")
        qi.handle.processAllAvailable()
        rows = engine.execute("SELECT a, note FROM ps_dyn;").collect()
        got = {(r["a"], r["note"]) for r in rows}
        assert got == {(None, "hi"), (41, None)}

    def test_nested_document_stays_jsonb(self, engine):
        engine.execute("CREATE STREAM dynj;")
        engine.execute(
            "INSERT INTO dynj VALUES CAST('{\"k\": 1, \"doc\": {\"x\": {\"$numberLong\": \"9\"}}}' AS JSONB);"
        )
        df = engine.execute("SELECT k, doc FROM dynj;")
        row = df.collect()[0]
        # extended-JSON wrappers inside the document were decoded at
        # ingestion, then the document serialized as JSONB text
        assert row["k"] == 1
        assert '"x":9' in row["doc"].replace(" ", "")


class TestRestartRecovery:
    """Server-restart recovery — the reference rebuilds streams/queries/
    views from its meta-store on startup; here a new engine over the
    same data_root replays the DDL log, reattaching to stream parquet,
    view state, and query checkpoints (exactly-once resume)."""

    @pytest.mark.slow
    def test_catalog_and_view_survive_restart(self, spark, tmp_path):
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "srv")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM rec_ev (k STRING, v INTEGER);")
        a.execute("INSERT INTO rec_ev (k, v) VALUES ('x', 1);")
        a.execute(
            "CREATE VIEW rec_view AS SELECT k, SUM(v) AS total FROM rec_ev GROUP BY k;"
        )
        a.views["rec_view"].handle.processAllAvailable()
        assert [(r["k"], r["total"]) for r in a.execute("SELECT k, total FROM rec_view;").collect()] == [("x", 1)]
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            assert set(b.streams) == {"rec_ev"}
            assert set(b.views) == {"rec_view"}
            # view state readable immediately after recovery
            rows = b.execute("SELECT k, total FROM rec_view;").collect()
            assert [(r["k"], r["total"]) for r in rows] == [("x", 1)]
            # the recovered continuous query resumes from its checkpoint:
            # new input increments, the pre-restart row is NOT re-counted
            b.execute("INSERT INTO rec_ev (k, v) VALUES ('x', 4);")
            b.views["rec_view"].handle.processAllAvailable()
            rows = b.execute("SELECT k, total FROM rec_view;").collect()
            assert [(r["k"], r["total"]) for r in rows] == [("x", 5)]
        finally:
            b.shutdown()

    def test_pre_upgrade_view_state_fails_loudly(self, spark, tmp_path):
        """View state written WITHOUT the hidden state columns this
        compile expects (__hv / __gk_* — a pre-upgrade engine) must be
        rejected at replay, quarantined into SHOW REPLAY ERRORS: Spark
        would otherwise read the missing columns as NULL, the read-time
        filter(__hv) would silently hide every materialized row, and
        NULL hidden keys would collapse distinct groups."""
        import os

        import pyarrow.parquet as pq

        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "srvold")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM ov_ev (k STRING, v INTEGER);")
        a.execute("INSERT INTO ov_ev (k, v) VALUES ('x', 3);")
        a.execute(
            "CREATE VIEW ov AS SELECT k, SUM(v) AS total FROM ov_ev "
            "GROUP BY k HAVING SUM(v) > 0;"
        )
        a.views["ov"].handle.processAllAvailable()
        assert [(r["k"], r["total"]) for r in
                a.execute("SELECT k, total FROM ov;").collect()] == [("x", 3)]
        state_dir = a.views["ov"].state_dir
        a.shutdown()

        # simulate the pre-upgrade writer: strip __hv from every stored
        # parquet file (the column simply never existed back then)
        for d in os.listdir(state_dir):
            p = os.path.join(state_dir, d)
            if not (os.path.isdir(p) and d.startswith("v")):
                continue
            for name in os.listdir(p):
                if name.endswith(".parquet"):
                    fp = os.path.join(p, name)
                    t = pq.read_table(fp)
                    t = t.drop_columns([c for c in ("__hv",)
                                        if c in t.schema.names])
                    pq.write_table(t, fp)

        b = HStreamEngine(spark, root)
        try:
            assert "ov" not in b.views  # not silently adopted
            errs = [e for e in b.replay_errors
                    if "hidden state column" in e["error"]]
            assert len(errs) == 1, b.replay_errors
            assert "CREATE VIEW ov" in errs[0]["sql"]
        finally:
            b.shutdown()

    def test_terminated_query_stays_terminated(self, spark, tmp_path):
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "srv2")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM t_src (a INTEGER);")
        a.execute("CREATE STREAM t_dst AS SELECT a FROM t_src;")
        qname = next(iter(a.queries))
        a.execute(f"TERMINATE QUERY {qname};")
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            assert set(b.streams) == {"t_src", "t_dst"}
            assert b.queries[qname].status == "TERMINATED"
            assert b.queries[qname].handle is None or not b.queries[qname].handle.isActive
        finally:
            b.shutdown()

    def test_dropped_objects_stay_dropped(self, spark, tmp_path):
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "srv3")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM d1 (a INTEGER);")
        a.execute("CREATE STREAM d2 (a INTEGER);")
        a.execute("DROP STREAM d1;")
        a.shutdown()
        b = HStreamEngine(spark, root)
        try:
            assert set(b.streams) == {"d2"}
        finally:
            b.shutdown()


def test_idempotent_sink_skips_replayed_epochs(spark, tmp_path):
    """foreachBatch is at-least-once; the epoch marker upgrades the
    parquet sink to exactly-once by skipping replayed batch ids."""
    from hstream_spark.streaming.runtime import HStreamEngine

    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")
    import os

    os.makedirs(ckpt)
    fn = HStreamEngine._idempotent_sink(ckpt, sink)
    df = spark.createDataFrame([(1,)], "a long")
    fn(df, 0)
    fn(df, 0)  # replay of the same epoch: must not double-write
    fn(df, 1)
    assert spark.read.parquet(sink).count() == 2


@pytest.mark.slow
def test_streaming_topk_view(engine):
    """TOPK as a streaming incremental aggregate through the view path
    (the reference's update-mode TOPK accumulator, AggOp.hs:153-157)."""
    engine.execute("CREATE STREAM tkv_ev (k STRING, v INTEGER);")
    for v in (5, 9, 1, 7):
        engine.execute(f"INSERT INTO tkv_ev (k, v) VALUES ('a', {v});")
    engine.execute(
        "CREATE VIEW tkv_view AS SELECT k, TOPK(v, 2) AS t2 FROM tkv_ev GROUP BY k;"
    )
    engine.views["tkv_view"].handle.processAllAvailable()
    rows = engine.execute("SELECT k, t2 FROM tkv_view;").collect()
    assert [(r["k"], list(r["t2"])) for r in rows] == [("a", [9, 7])]


def test_recreated_view_sees_full_history(engine):
    """DROP VIEW must remove the checkpoint with the view: a stale
    checkpoint would make the same-name successor resume from old
    offsets over empty state and miss every pre-existing record."""
    engine.execute("CREATE STREAM rv_ev (k STRING, v INTEGER);")
    engine.execute("INSERT INTO rv_ev (k, v) VALUES ('a', 1);")
    engine.execute("CREATE VIEW rv AS SELECT k, COUNT(*) AS n FROM rv_ev GROUP BY k;")
    engine.views["rv"].handle.processAllAvailable()
    assert engine.execute("SELECT n FROM rv;").collect()[0]["n"] == 1
    engine.execute("DROP VIEW rv;")
    engine.execute("INSERT INTO rv_ev (k, v) VALUES ('a', 2);")
    engine.execute("CREATE VIEW rv AS SELECT k, COUNT(*) AS n FROM rv_ev GROUP BY k;")
    engine.views["rv"].handle.processAllAvailable()
    assert engine.execute("SELECT n FROM rv;").collect()[0]["n"] == 2


def test_show_queries_reports_progress(engine):
    engine.execute("CREATE STREAM pg_ev (a INTEGER);")
    engine.execute("INSERT INTO pg_ev (a) VALUES (1);")
    engine.execute("CREATE STREAM pg_out AS SELECT a FROM pg_ev;")
    qi = next(q for q in engine.queries.values() if q.sink_stream == "pg_out")
    qi.handle.processAllAvailable()
    rows = {r["name"]: r for r in engine.execute("SHOW QUERIES;").collect()}
    row = rows[qi.name]
    assert row["status"] == "RUNNING"
    assert row["last_batch"] >= 0 and row["last_rows"] >= 0


def test_show_views_reports_state_layout(spark, tmp_path, monkeypatch):
    """SHOW VIEWS carries each view's base generation, live delta count
    and stored rows (base plus deltas, before latest-wins), from the
    layout and the footer cache with no Spark job — before and after a
    fold, and from cold footers after a restart."""
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_EVERY", 3)
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_FRACTION", 0.0)
    root = str(tmp_path / "sv")
    eng = HStreamEngine(spark, root)
    sc = spark.sparkContext

    def state(e):
        sc.setJobGroup("show-views", "SHOW VIEWS")
        try:
            df = e.execute("SHOW VIEWS;")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("show-views")) == []
        (row,) = df.collect()
        return row["generation"], row["deltas"], row["stored_rows"]

    try:
        eng.execute("CREATE STREAM sv_ev (k STRING, v INTEGER);")
        eng.execute("CREATE VIEW svw AS SELECT k, COUNT(*) AS n "
                    "FROM sv_ev GROUP BY k;")
        assert state(eng) == (None, 0, 0)
        vi = eng.views["svw"]
        # one INSERT per trigger: v0, then deltas 1-2 re-touching 'a'
        for i in range(3):
            eng.execute(f"INSERT INTO sv_ev (k, v) VALUES ('a', {i});")
            vi.handle.processAllAvailable()
        assert state(eng) == (0, 2, 3)
        # the third delta folds: one row per key in base v1
        eng.execute("INSERT INTO sv_ev (k, v) VALUES ('b', 1);")
        vi.handle.processAllAvailable()
        assert state(eng) == (1, 0, 2)
        eng.execute("INSERT INTO sv_ev (k, v) VALUES ('c', 1);")
        vi.handle.processAllAvailable()
        assert state(eng) == (1, 1, 3)
    finally:
        eng.shutdown()
    b = HStreamEngine(spark, root)
    try:
        assert state(b) == (1, 1, 3)
    finally:
        b.shutdown()


def test_session_view_survives_restart(spark, tmp_path):
    """DDL replay recreates a SESSION view on the stateful update path;
    checkpoint + view state reattach and post-restart events merge into
    the right sessions."""
    import time as _time

    from hstream_spark.streaming.runtime import HStreamEngine

    root = str(tmp_path / "sess_srv")
    base = _time.time()
    a = HStreamEngine(spark, root)
    a.execute("CREATE STREAM ssr_ev (k STRING, v INTEGER);")
    a.execute(f"INSERT INTO ssr_ev (k, v, _ts) VALUES ('a', 1, {base});")
    a.execute(
        "CREATE VIEW ssr AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(ssr_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    a.views["ssr"].handle.processAllAvailable()
    assert [r["n"] for r in a.execute("SELECT n FROM ssr;").collect()] == [1]
    a.shutdown()

    b = HStreamEngine(spark, root)
    try:
        assert b.views["ssr"].merge_on_overlap
        # an event 5s after the first extends the SAME session
        b.execute(f"INSERT INTO ssr_ev (k, v, _ts) VALUES ('a', 1, {base + 5.0});")
        b.views["ssr"].handle.processAllAvailable()
        rows = b.execute("SELECT k, n FROM ssr;").collect()
        assert [(r["k"], r["n"]) for r in rows] == [("a", 2)]
    finally:
        b.shutdown()


@pytest.mark.slow
def test_session_view_delta_log_survives_restart(spark, tmp_path):
    """Session view with UNCOMPACTED deltas on disk at shutdown: the
    restarted engine's overlap-resolving reader sees the folded state,
    and post-restart triggers keep appending to the same delta log."""
    import time as _time

    from hstream_spark.streaming.runtime import HStreamEngine

    root = str(tmp_path / "sess_dl")
    base = _time.time()
    a = HStreamEngine(spark, root)
    a.execute("CREATE STREAM sdl_ev (k STRING, v INTEGER);")
    # seed several keys so the 1-row extension deltas stay under the
    # size-adaptive fold threshold (deltas must SURVIVE to restart)
    for j in range(6):
        a.execute(f"INSERT INTO sdl_ev (k, v, _ts) VALUES ('p{j}', 1, {base});")
    a.execute(f"INSERT INTO sdl_ev (k, v, _ts) VALUES ('a', 1, {base + 1.0});")
    a.execute(
        "CREATE VIEW sdl AS SELECT k, COUNT(*) AS n "
        "FROM SESSION(sdl_ev, INTERVAL 10 SECOND) GROUP BY k;"
    )
    a.views["sdl"].handle.processAllAvailable()
    # extend a's session twice → two 1-row deltas superseding each other
    for off in (2.0, 3.0):
        a.execute(f"INSERT INTO sdl_ev (k, v, _ts) VALUES ('a', 1, {base + off});")
        a.views["sdl"].handle.processAllAvailable()
    b0, ks0 = HStreamEngine._view_layout(a.views["sdl"].state_dir)
    assert ks0, "deltas must exist on disk at shutdown"
    a.shutdown()

    b = HStreamEngine(spark, root)
    try:
        assert b.views["sdl"].merge_on_overlap
        rows = {r["k"]: r["n"] for r in
                b.execute("SELECT k, n FROM sdl;").collect()}
        assert rows["a"] == 3 and all(rows[f"p{j}"] == 1 for j in range(6))
        # post-restart extension merges into the SAME session
        b.execute(f"INSERT INTO sdl_ev (k, v, _ts) VALUES ('a', 1, {base + 4.0});")
        b.views["sdl"].handle.processAllAvailable()
        rows = {r["k"]: r["n"] for r in
                b.execute("SELECT k, n FROM sdl;").collect()}
        assert rows["a"] == 4 and len(rows) == 7
    finally:
        b.shutdown()


def test_drop_stream_cascades_to_sinking_queries(engine):
    engine.execute("CREATE STREAM casc_src (a INTEGER);")
    engine.execute("CREATE STREAM casc_dst AS SELECT a FROM casc_src;")
    qnames = [n for n, q in engine.queries.items() if q.sink_stream == "casc_dst"]
    assert qnames
    engine.execute("DROP STREAM casc_dst;")
    assert all(n not in engine.queries for n in qnames)
    rows = engine.execute("SHOW STREAMS;").collect()
    names = {r["name"] for r in rows}
    assert "casc_dst" not in names and "casc_src" in names
    assert all(r["bytes"] >= 0 for r in rows)


class TestStreamCompaction:
    """compact(): many small INSERT parts coalesce into ~target-size
    segments — the storage-layer log compaction the reference gets from
    LogDevice, re-expressed for parquet-directory streams."""

    def _files(self, eng, name):
        import os

        p = eng.streams[name].path
        return sorted(f for f in os.listdir(p) if f.endswith(".parquet"))

    @pytest.mark.slow
    def test_compact_preserves_rows_and_reduces_files(self, engine):
        engine.execute("CREATE STREAM cmp (k INTEGER, v INTEGER);")
        for i in range(12):
            engine.execute(f"INSERT INTO cmp (k, v) VALUES ({i}, {i * 10});")
        assert len(self._files(engine, "cmp")) >= 12
        before = sorted(
            (r["k"], r["v"]) for r in engine.execute("SELECT k, v FROM cmp;").collect()
        )
        stats = engine.compact("cmp")
        assert stats["cmp"]["files_before"] >= 12
        assert stats["cmp"]["files_after"] == 1  # 12 tiny parts << 128 MB
        after = sorted(
            (r["k"], r["v"]) for r in engine.execute("SELECT k, v FROM cmp;").collect()
        )
        assert after == before

    def test_compact_skips_below_min_files(self, engine):
        engine.execute("CREATE STREAM cmps (k INTEGER);")
        engine.execute("INSERT INTO cmps (k) VALUES (1);")
        stats = engine.compact("cmps")
        assert stats["cmps"].get("skipped") is True

    @pytest.mark.slow
    def test_compact_refuses_active_readers(self, engine):
        engine.execute("CREATE STREAM cmpr (k INTEGER, v INTEGER);")
        for i in range(10):
            engine.execute(f"INSERT INTO cmpr (k, v) VALUES ({i}, 1);")
        engine.execute(
            "CREATE VIEW cmpr_v AS SELECT k, SUM(v) AS s FROM cmpr GROUP BY k;"
        )
        with pytest.raises(RuntimeError, match="active readers"):
            engine.compact("cmpr")
        engine.execute("TERMINATE QUERY view_cmpr_v;")
        stats = engine.compact("cmpr")
        assert stats["cmpr"]["files_after"] == 1

    @pytest.mark.slow
    def test_compact_refuses_sink_connector_reader(self, engine, tmp_path):
        engine.execute("CREATE STREAM cmpk (k INTEGER);")
        for i in range(9):
            engine.execute(f"INSERT INTO cmpk (k) VALUES ({i});")
        engine.execute(
            "CREATE SINK CONNECTOR cks TO cmpk WITH (\"type\" = 'blackhole');"
        )
        with pytest.raises(RuntimeError, match="active readers"):
            engine.compact("cmpk")

    @pytest.mark.slow
    def test_compact_preserves_retention_clock(self, engine):
        """Segments inherit the NEWEST source mtime, so DURATION
        retention (mtime-based vacuum) never drops a compacted record
        EARLIER than it would have been dropped uncompacted."""
        import os

        engine.execute("CREATE STREAM cmpt (k INTEGER);")
        for i in range(10):
            engine.execute(f"INSERT INTO cmpt (k) VALUES ({i});")
        p = engine.streams["cmpt"].path
        old = time.time() - 3600
        newest = 0.0
        for f in self._files(engine, "cmpt"):
            os.utime(os.path.join(p, f), (old, old))
            newest = max(newest, old)
        engine.compact("cmpt")
        (seg,) = self._files(engine, "cmpt")
        assert abs(os.path.getmtime(os.path.join(p, seg)) - newest) < 1.0

    @pytest.mark.slow
    def test_interrupted_commit_rolls_forward_on_restart(self, spark, tmp_path):
        """Crash between the atomic commit rename and the segment swap:
        recovery must finish the swap (remove superseded sources, move
        segments in) — the manifest makes the roll-forward idempotent."""
        import json as _json
        import os
        import shutil

        root = str(tmp_path / "cc")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM ccr (k INTEGER);")
        for i in range(10):
            a.execute(f"INSERT INTO ccr (k) VALUES ({i});")
        p = a.streams["ccr"].path
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        # fabricate a committed-but-unfinished compaction: the "segment"
        # is a copy of one real part (k of that part survives), the
        # manifest supersedes ALL current parts
        commit = os.path.join(p, ".compact_commit")
        os.makedirs(commit)
        seg = "compacted-test.parquet"
        shutil.copy(os.path.join(p, files[0]), os.path.join(commit, seg))
        with open(os.path.join(commit, "manifest.json"), "w") as fh:
            _json.dump({"sources": files, "parts": [seg], "mtime": 1000.0}, fh)
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            assert not os.path.isdir(commit)
            left = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
            assert left == [seg]
            rows = b.execute("SELECT k FROM ccr;").collect()
            assert len(rows) == 1  # exactly the surviving segment's row
            assert abs(os.path.getmtime(os.path.join(p, seg)) - 1000.0) < 1.0
        finally:
            b.shutdown()

    @pytest.mark.slow
    def test_streaming_query_after_compaction_reads_once(self, engine):
        """A fresh checkpoint over a compacted stream sees each record
        exactly once — and compaction is allowed again after its reader
        is TERMINATED, proving the reader check tracks status."""
        engine.execute("CREATE STREAM cmpq (k INTEGER, v INTEGER);")
        for i in range(10):
            engine.execute(f"INSERT INTO cmpq (k, v) VALUES ({i % 2}, 1);")
        engine.compact("cmpq")
        engine.execute(
            "CREATE VIEW cmpq_v AS SELECT k, SUM(v) AS s FROM cmpq GROUP BY k;"
        )
        engine.views["cmpq_v"].handle.processAllAvailable()
        rows = {r["k"]: r["s"] for r in engine.execute("SELECT k, s FROM cmpq_v;").collect()}
        assert rows == {0: 5, 1: 5}

    @pytest.mark.slow
    def test_compact_payload_stream_with_evolving_records(self, engine):
        """Schemaless (payload) streams compact too: records with
        different field sets share one physical payload column, so the
        rewrite is schema-stable and every evolved field survives."""
        engine.execute("CREATE STREAM cmpe;")
        for i in range(8):
            engine.execute(f"INSERT INTO cmpe VALUES '{{\"a\": {i}}}';")
        for i in range(8):
            engine.execute(
                f"INSERT INTO cmpe VALUES '{{\"a\": {i + 8}, \"b\": \"x{i}\"}}';"
            )
        before = sorted(
            tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
            for r in engine.execute("SELECT * FROM cmpe;").collect()
        )
        stats = engine.compact("cmpe")
        assert stats["cmpe"]["files_after"] == 1
        after = sorted(
            tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
            for r in engine.execute("SELECT * FROM cmpe;").collect()
        )
        assert after == before and len(after) == 16

    @pytest.mark.slow
    def test_recovery_never_starts_terminated_reader_after_compaction(
        self, spark, tmp_path
    ):
        """DDL-log replay must NOT .start() a query whose TERMINATE
        appears later in the log: its file-path checkpoint predates a
        post-TERMINATE compaction, so the rewritten segments would
        ingest as brand-new data and silently double the durable view
        state before the replayed TERMINATE caught up. Recovery defers
        all starts to end-of-replay; terminated queries never start."""
        root = str(tmp_path / "ct")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM cts (k INTEGER, v INTEGER);")
        for i in range(10):
            a.execute(f"INSERT INTO cts (k, v) VALUES ({i % 2}, 1);")
        a.execute(
            "CREATE VIEW cts_v AS SELECT k, SUM(v) AS s FROM cts GROUP BY k;"
        )
        a.views["cts_v"].handle.processAllAvailable()
        before = {
            r["k"]: r["s"] for r in a.execute("SELECT k, s FROM cts_v;").collect()
        }
        assert before == {0: 5, 1: 5}
        a.execute("TERMINATE QUERY view_cts_v;")
        a.compact("cts")  # allowed: its only reader is TERMINATED
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            qi = b.queries["view_cts_v"]
            # the strong guarantee: the stale checkpoint was NEVER spun
            # up — not merely stopped again — so no async microbatch
            # could have re-ingested the compacted segments
            assert qi.status == "TERMINATED"
            assert qi.handle is None and qi.starter is None
            after = {
                r["k"]: r["s"]
                for r in b.execute("SELECT k, s FROM cts_v;").collect()
            }
            assert after == before  # sums did NOT double
        finally:
            b.shutdown()

    @pytest.mark.slow
    def test_maintenance_janitor_skips_busy_compacts_idle(self, engine):
        """maintenance() = retention vacuum + compact-with-skip: busy
        streams are reported (not failed) and idle streams compact."""
        engine.execute("CREATE STREAM mnt_idle (k INTEGER);")
        engine.execute("CREATE STREAM mnt_busy (k INTEGER);")
        for i in range(10):
            engine.execute(f"INSERT INTO mnt_idle (k) VALUES ({i});")
            engine.execute(f"INSERT INTO mnt_busy (k) VALUES ({i});")
        engine.execute(
            "CREATE VIEW mnt_v AS SELECT k, COUNT(*) AS n FROM mnt_busy GROUP BY k;"
        )
        out = engine.maintenance()
        assert out["compacted"]["mnt_idle"]["files_after"] == 1
        assert out["compacted"]["mnt_busy"] == {"skipped_active": ["view_mnt_v"]}
        rows = engine.execute("SELECT k FROM mnt_idle;").collect()
        assert len(rows) == 10

    @pytest.mark.slow
    def test_drop_view_forgets_refresh_query_and_unblocks_compact(
        self, spark, tmp_path
    ):
        """DROP VIEW must forget queries['view_<name>'] too: a RUNNING
        leftover would resurrect a ghost refresh on recovery (deferred
        starter) and block compact() of the source stream forever."""
        root = str(tmp_path / "dv")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM dvs (k INTEGER);")
        for i in range(10):
            a.execute(f"INSERT INTO dvs (k) VALUES ({i});")
        a.execute("CREATE VIEW dv_v AS SELECT k, COUNT(*) AS n FROM dvs GROUP BY k;")
        a.execute("DROP VIEW dv_v;")
        assert "view_dv_v" not in a.queries
        stats = a.compact("dvs")  # no longer a phantom reader
        assert stats["dvs"]["files_after"] == 1
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            # no ghost refresh query resurrected by replay
            assert "view_dv_v" not in b.queries and "dv_v" not in b.views
            import os

            assert not os.path.isdir(os.path.join(root, "_viewstate", "dv_v"))
        finally:
            b.shutdown()

    def test_failed_view_start_leaves_no_phantom(self, engine, monkeypatch):
        """If BOTH output modes reject the view plan, CREATE VIEW must
        raise without registering a phantom view/query (re-creation
        after a fix must not hit 'already exists')."""
        engine.execute("CREATE STREAM pv_ev (k INTEGER, v INTEGER);")
        engine.execute("INSERT INTO pv_ev (k, v) VALUES (1, 2);")

        def boom(self):
            raise RuntimeError("no start for you")

        monkeypatch.setattr(HStreamEngine, "_stream_start_conf", boom)
        with pytest.raises(RuntimeError, match="no start"):
            engine.execute(
                "CREATE VIEW pv_v AS SELECT k, SUM(v) AS s FROM pv_ev GROUP BY k;"
            )
        monkeypatch.undo()
        assert "pv_v" not in engine.views and "view_pv_v" not in engine.queries
        engine.execute(
            "CREATE VIEW pv_v AS SELECT k, SUM(v) AS s FROM pv_ev GROUP BY k;"
        )
        engine.views["pv_v"].handle.processAllAvailable()
        rows = engine.execute("SELECT k, s FROM pv_v;").collect()
        assert [(r["k"], r["s"]) for r in rows] == [(1, 2)]

    @pytest.mark.slow
    def test_pause_resume_view_query_keeps_upserting(self, engine):
        """RESUME of a paused view refresh rebuilds through the view
        machinery (same state dir + checkpoint, upsert writer) — not
        the sink-stream path, which would KeyError on sink_stream=None
        and append instead of upsert."""
        engine.execute("CREATE STREAM pr_ev (k INTEGER, v INTEGER);")
        engine.execute("INSERT INTO pr_ev (k, v) VALUES (1, 10);")
        engine.execute(
            "CREATE VIEW pr_v AS SELECT k, SUM(v) AS s FROM pr_ev GROUP BY k;"
        )
        engine.views["pr_v"].handle.processAllAvailable()
        engine.execute("PAUSE QUERY view_pr_v;")
        engine.execute("INSERT INTO pr_ev (k, v) VALUES (1, 5);")
        engine.execute("RESUME QUERY view_pr_v;")
        engine.views["pr_v"].handle.processAllAvailable()
        rows = engine.execute("SELECT k, s FROM pr_v;").collect()
        assert [(r["k"], r["s"]) for r in rows] == [(1, 15)]  # upserted, once

    @pytest.mark.slow
    def test_failed_resume_restores_paused_view(self, engine, monkeypatch):
        """A RESUME whose rebuild fails must restore the PAUSED catalog
        entries — the view must not silently vanish mid-session."""
        engine.execute("CREATE STREAM rr_ev (k INTEGER, v INTEGER);")
        engine.execute("INSERT INTO rr_ev (k, v) VALUES (1, 1);")
        engine.execute(
            "CREATE VIEW rr_v AS SELECT k, SUM(v) AS s FROM rr_ev GROUP BY k;"
        )
        engine.views["rr_v"].handle.processAllAvailable()
        engine.execute("PAUSE QUERY view_rr_v;")

        def boom(self):
            raise RuntimeError("start refused")

        monkeypatch.setattr(HStreamEngine, "_stream_start_conf", boom)
        with pytest.raises(RuntimeError, match="start refused"):
            engine.execute("RESUME QUERY view_rr_v;")
        monkeypatch.undo()
        # catalog intact, still PAUSED, state preserved — and a retried
        # RESUME now succeeds
        assert "rr_v" in engine.views
        assert engine.queries["view_rr_v"].status == "PAUSED"
        engine.execute("RESUME QUERY view_rr_v;")
        engine.execute("INSERT INTO rr_ev (k, v) VALUES (1, 2);")
        engine.views["rr_v"].handle.processAllAvailable()
        rows = engine.execute("SELECT k, s FROM rr_v;").collect()
        assert [(r["k"], r["s"]) for r in rows] == [(1, 3)]

    def test_failed_view_start_leaves_no_orphan_dirs(self, engine, monkeypatch):
        """Both-modes-rejected CREATE VIEW cleans up the state and
        checkpoint dirs it created — a later same-name CREATE must not
        adopt a failed attempt's checkpoint."""
        import os

        engine.execute("CREATE STREAM od_ev (k INTEGER);")

        def boom(self):
            raise RuntimeError("nope")

        monkeypatch.setattr(HStreamEngine, "_stream_start_conf", boom)
        with pytest.raises(RuntimeError):
            engine.execute(
                "CREATE VIEW od_v AS SELECT k, COUNT(*) AS n FROM od_ev GROUP BY k;"
            )
        monkeypatch.undo()
        assert not os.path.isdir(
            os.path.join(engine.data_root, "_viewstate", "od_v")
        )


class TestViewDeltaLog:
    """LSM-style view state: each trigger appends ONE delta of touched
    groups (O(batch), never O(total state)); every _VIEW_COMPACT_EVERY
    deltas fold into a new base generation. Latest version wins per
    key; readers never see half-written deltas (atomic dir rename)."""

    @pytest.mark.slow
    def test_deltas_accumulate_then_compact(self, engine):
        import os

        from hstream_spark.streaming.runtime import HStreamEngine

        engine.execute("CREATE STREAM dl_ev (k STRING, v INTEGER);")
        engine.execute(
            "CREATE VIEW dl AS SELECT k, COUNT(*) AS n, SUM(v) AS s "
            "FROM dl_ev GROUP BY k;"
        )
        vi = engine.views["dl"]
        n_triggers = HStreamEngine._VIEW_COMPACT_EVERY + 2
        for i in range(n_triggers):
            engine.execute(f"INSERT INTO dl_ev (k, v) VALUES ('a', {i});")
            engine.execute(f"INSERT INTO dl_ev (k, v) VALUES ('k{i}', 1);")
            vi.handle.processAllAvailable()
        base, ks = HStreamEngine._view_layout(vi.state_dir)
        # enough data triggers ran (trigger count is timing-dependent:
        # each INSERT may land in its own micro-batch) that at least one
        # compaction folded deltas into a new base generation, and the
        # live delta count stays bounded by the compaction threshold
        assert base >= 1
        assert len(ks) <= HStreamEngine._VIEW_COMPACT_EVERY
        names = os.listdir(vi.state_dir)
        assert not any(n.startswith(".tmp_") for n in names)
        # generations older than the one superseded base are swept
        dead = [n for n in names
                if n.startswith("v") and
                n[1:].split("_d", 1)[0].isdigit() and
                int(n[1:].split("_d", 1)[0]) < base - 1]
        assert dead == []
        # latest-wins correctness across base + deltas
        rows = {r["k"]: (r["n"], r["s"]) for r in
                engine.execute("SELECT k, n, s FROM dl;").collect()}
        assert rows["a"] == (n_triggers, sum(range(n_triggers)))
        for i in range(n_triggers):
            assert rows[f"k{i}"] == (1, 1)

    @pytest.mark.slow
    def test_delta_state_survives_restart(self, spark, tmp_path):
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "dl_srv")
        a = HStreamEngine(spark, root)
        a.execute("CREATE STREAM dr_ev (k STRING, v INTEGER);")
        # seed a base wide enough (10 keys) that the two 1-row deltas
        # stay under the size-adaptive fold threshold (½ of base rows)
        for j in range(9):
            a.execute(f"INSERT INTO dr_ev (k, v) VALUES ('p{j}', 1);")
        a.execute("INSERT INTO dr_ev (k, v) VALUES ('x', 12);")
        a.execute(
            "CREATE VIEW dr AS SELECT k, SUM(v) AS s FROM dr_ev GROUP BY k;"
        )
        a.views["dr"].handle.processAllAvailable()
        for i in range(2):
            a.execute(f"INSERT INTO dr_ev (k, v) VALUES ('x', {10 + i});")
            a.views["dr"].handle.processAllAvailable()
        base, ks = HStreamEngine._view_layout(a.views["dr"].state_dir)
        assert base == 0 and len(ks) == 2  # deltas really exist on disk
        a.shutdown()

        b = HStreamEngine(spark, root)
        try:
            rows = {r["k"]: r["s"] for r in
                    b.execute("SELECT k, s FROM dr;").collect()}
            assert rows["x"] == 33 and all(rows[f"p{j}"] == 1 for j in range(9))
            # post-restart triggers keep appending to the same log
            b.execute("INSERT INTO dr_ev (k, v) VALUES ('x', 7);")
            b.views["dr"].handle.processAllAvailable()
            rows = {r["k"]: r["s"] for r in
                    b.execute("SELECT k, s FROM dr;").collect()}
            assert rows["x"] == 40 and len(rows) == 10
        finally:
            b.shutdown()

    @pytest.mark.slow
    def test_keyless_view_over_deltas(self, engine):
        engine.execute("CREATE STREAM gl_ev (v INTEGER);")
        engine.execute(
            "CREATE VIEW gl AS SELECT COUNT(*) AS n, SUM(v) AS s FROM gl_ev;"
        )
        for i in range(4):
            engine.execute(f"INSERT INTO gl_ev (v) VALUES ({i});")
            engine.views["gl"].handle.processAllAvailable()
        rows = engine.execute("SELECT n, s FROM gl;").collect()
        assert [(r["n"], r["s"]) for r in rows] == [(4, 6)]

    @pytest.mark.slow
    def test_stray_tmp_dir_is_invisible_and_cleaned(self, engine):
        import os

        from hstream_spark.streaming.runtime import HStreamEngine

        engine.execute("CREATE STREAM st_ev (k STRING, v INTEGER);")
        engine.execute(
            "CREATE VIEW st AS SELECT k, COUNT(*) AS n FROM st_ev GROUP BY k;"
        )
        vi = engine.views["st"]
        engine.execute("INSERT INTO st_ev (k, v) VALUES ('a', 1);")
        vi.handle.processAllAvailable()
        # simulate a crash mid-delta-write: a dot-tmp dir left behind
        stray = os.path.join(vi.state_dir, ".tmp_v0_d99")
        os.makedirs(stray, exist_ok=True)
        rows = engine.execute("SELECT k, n FROM st;").collect()
        assert [(r["k"], r["n"]) for r in rows] == [("a", 1)]  # ignored
        # enough triggers to reach compaction, which sweeps the stray
        for i in range(HStreamEngine._VIEW_COMPACT_EVERY):
            engine.execute(f"INSERT INTO st_ev (k, v) VALUES ('a', {i});")
            vi.handle.processAllAvailable()
        assert not os.path.isdir(stray)
        rows = engine.execute("SELECT k, n FROM st;").collect()
        assert [(r["k"], r["n"]) for r in rows] == [
            ("a", 1 + HStreamEngine._VIEW_COMPACT_EVERY)
        ]

    @pytest.mark.slow
    def test_unprojected_group_key_view_keeps_all_groups(self, engine):
        """GROUP BY whose key is NOT projected: the dropped key is
        re-added as a hidden __gk_* state column so the upsert stays
        PER-GROUP — before round 8's fix the state was keyless and
        every trigger silently forgot the groups it didn't touch."""
        engine.execute("CREATE STREAM ug_ev (k STRING, v INTEGER);")
        engine.execute(
            "CREATE VIEW ug AS SELECT COUNT(*) AS n FROM ug_ev GROUP BY k;"
        )
        vi = engine.views["ug"]
        assert vi.key_cols == ("__gk_k",)
        assert vi.hidden_cols == ("__gk_k",)
        for k in ("a", "b", "c"):
            engine.execute(f"INSERT INTO ug_ev (k, v) VALUES ('{k}', 1);")
        vi.handle.processAllAvailable()
        # later triggers touch only a subset — c's count must survive
        engine.execute("INSERT INTO ug_ev (k, v) VALUES ('a', 1);")
        engine.execute("INSERT INTO ug_ev (k, v) VALUES ('b', 1);")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT n FROM ug;").collect()
        assert sorted(r["n"] for r in rows) == [1, 2, 2]
        # the hidden key column never leaks into reads
        assert rows[0].asDict().keys() == {"n"}

    @pytest.mark.slow
    def test_unprojected_group_key_session_view(self, engine):
        """SESSION view whose GROUP BY key is NOT projected: the key
        must still key the state (hidden __gk_*) — before round 9's fix
        the overlap anti-join was window-only, so one group's session
        EVICTED every other group's overlapping session."""
        import time as _time

        engine.execute("CREATE STREAM ugs_ev (k STRING, v INTEGER);")
        base = _time.time()
        # two groups with time-OVERLAPPING sessions, written first
        engine.execute(f"INSERT INTO ugs_ev (k, v, _ts) VALUES ('a', 1, {base});")
        engine.execute(f"INSERT INTO ugs_ev (k, v, _ts) VALUES ('b', 1, {base + 1.0});")
        engine.execute(
            "CREATE VIEW ugs AS SELECT COUNT(*) AS n "
            "FROM SESSION(ugs_ev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        vi = engine.views["ugs"]
        assert vi.merge_on_overlap  # the stateful path, not the fallback
        assert "__gk_k" in vi.key_cols and vi.hidden_cols == ("__gk_k",)
        vi.handle.processAllAvailable()
        assert sorted(r["n"] for r in
                      engine.execute("SELECT n FROM ugs;").collect()) == [1, 1]
        # a later trigger extends ONLY a's session (still overlapping
        # b's window) — b's session must survive the merge
        engine.execute(f"INSERT INTO ugs_ev (k, v, _ts) VALUES ('a', 1, {base + 2.0});")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT n FROM ugs;").collect()
        assert sorted(r["n"] for r in rows) == [1, 2]
        assert rows[0].asDict().keys() == {"n"}

    @pytest.mark.slow
    def test_unprojected_group_key_sliding_view(self, engine):
        """SLIDING view whose GROUP BY key is NOT projected: hidden key
        columns keep the upsert keyed — before round 9's fix key_cols
        was empty, the order_col dedup was skipped, and the keyless
        read returned ONLY the newest delta (groups the last trigger
        didn't touch vanished)."""
        import time as _time

        engine.execute("CREATE STREAM ugl_ev (k STRING, v INTEGER);")
        base = _time.time()
        engine.execute(f"INSERT INTO ugl_ev (k, v, _ts) VALUES ('a', 1, {base});")
        engine.execute(f"INSERT INTO ugl_ev (k, v, _ts) VALUES ('b', 2, {base + 1.0});")
        engine.execute(
            "CREATE VIEW ugl AS SELECT SUM(v) AS s "
            "FROM SLIDING(ugl_ev, INTERVAL 10 SECOND) GROUP BY k;"
        )
        vi = engine.views["ugl"]
        assert vi.key_cols == ("__gk_k",)
        # hidden state columns: the dropped key AND the sliding path's
        # internal ordering timestamp — neither may leak into reads
        assert vi.hidden_cols == ("__gk_k", "__slide_ts")
        vi.handle.processAllAvailable()
        assert sorted(r["s"] for r in
                      engine.execute("SELECT s FROM ugl;").collect()) == [1, 2]
        # a later trigger touches ONLY a — b's latest aggregate survives
        engine.execute(f"INSERT INTO ugl_ev (k, v, _ts) VALUES ('a', 4, {base + 3.0});")
        vi.handle.processAllAvailable()
        rows = engine.execute("SELECT s FROM ugl;").collect()
        assert sorted(r["s"] for r in rows) == [2, 5]
        assert rows[0].asDict().keys() == {"s"}


def test_should_compact_decision(tmp_path):
    """The size-adaptive fold-down decision in isolation: every-N
    cadence FLOOR (never fold more often than round 8 did — fold jobs
    have fixed cost), row-fraction deferral for tiny deltas at the
    floor, and the hard fan-out cap."""
    from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

    # dense deltas: folds exactly at the every-8 floor, like round 8
    vi = ViewInfo("d", "", None, str(tmp_path))
    vi.delta_rows_cache.update(
        {"v0": 100, **{f"v0_d{k}": 50 for k in range(1, 9)}}
    )
    assert not HStreamEngine._should_compact(vi, 0, list(range(1, 8)))
    assert HStreamEngine._should_compact(vi, 0, list(range(1, 9)))
    # sparse deltas on a big base: the floor fold DEFERS (Σ=8 < 50)…
    vi2 = ViewInfo("d2", "", None, str(tmp_path / "x"))
    vi2.delta_rows_cache.update(
        {"v0": 100, **{f"v0_d{k}": 1 for k in range(1, 64)}}
    )
    assert not HStreamEngine._should_compact(vi2, 0, list(range(1, 9)))
    assert not HStreamEngine._should_compact(vi2, 0, list(range(1, 40)))
    # …until the fan-out hard cap forces it regardless of row counts
    assert HStreamEngine._should_compact(vi2, 0, list(range(1, 65)))


class TestViewRetention:
    """WITH (DURATION = …) on windowed views: closed windows whose
    window_end trails the view's event-time high-water mark by more
    than the retention are dropped at the compaction fold — the one
    previously unbounded state path under continuous windowed ingest
    (the reference's in-memory groupbyStores never evicts either,
    View.hs:235-243; this is the durable fix)."""

    def test_duration_requires_windowed_view(self, engine):
        import pytest as _pytest

        from hstream_spark.plans.compiler import CompileError

        engine.execute("CREATE STREAM vr_ev (k STRING, v INTEGER);")
        with _pytest.raises(CompileError, match="windowed view"):
            engine.execute(
                "CREATE VIEW vrp AS SELECT k, COUNT(*) AS n FROM vr_ev "
                "GROUP BY k WITH (DURATION = INTERVAL 1 MINUTE);"
            )
        with _pytest.raises(CompileError, match="windowed view"):
            engine.execute(
                "CREATE VIEW vrs AS SELECT k, SUM(v) AS s FROM "
                "SLIDING(vr_ev, INTERVAL 10 SECOND) GROUP BY k "
                "WITH (DURATION = INTERVAL 1 MINUTE);"
            )
        with _pytest.raises(CompileError, match="unknown CREATE VIEW"):
            engine.execute(
                "CREATE VIEW vrx AS SELECT k, COUNT(*) AS n FROM "
                "TUMBLE(vr_ev, INTERVAL 10 SECOND) GROUP BY k "
                "WITH (NOPE = 1);"
            )

    @pytest.mark.slow
    def test_retention_drops_closed_windows_at_compaction(
        self, spark, tmp_path, monkeypatch
    ):
        import time as _time

        import hstream_spark.streaming.runtime as R
        from hstream_spark.streaming.runtime import HStreamEngine

        # low cadence floor + no size deferral → fold every 2 deltas
        monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_EVERY", 2)
        monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_FRACTION", 0.0)
        eng = HStreamEngine(spark, str(tmp_path / "vret"))
        try:
            eng.execute("CREATE STREAM rt_ev (k STRING, v INTEGER);")
            eng.execute(
                "CREATE VIEW rt AS SELECT k, COUNT(*) AS n FROM "
                "TUMBLE(rt_ev, INTERVAL 10 SECOND) GROUP BY k "
                "WITH (DURATION = INTERVAL 1 MINUTE);"
            )
            vi = eng.views["rt"]
            assert vi.retention_secs == 60.0
            t0 = _time.time() - 3600
            # one window per 30s step, each its own trigger/delta;
            # spans 8 windows over 210s — far past the 60s retention
            for i in range(8):
                eng.execute(
                    f"INSERT INTO rt_ev (k, v, _ts) VALUES "
                    f"('a', {i}, {t0 + 30.0 * i});"
                )
                vi.handle.processAllAvailable()
            frame = HStreamEngine._view_state_frame(spark, vi)
            ends = sorted(r["window_end"] for r in frame.collect())
            assert ends, "state must not be empty"
            # expiry granularity is the COMPACTION cadence (like stream
            # DURATION's vacuum granularity): state may lag retention by
            # the windows accumulated since the last fold — here ≤ 2
            # deltas × 30 s — but is BOUNDED, never accumulate-forever
            span = max(ends).timestamp() - min(ends).timestamp()
            assert span <= 60.0 + 2 * 30.0, ends
            # expired windows were actually dropped (8 written)
            assert len(ends) < 8
            # and no over-deletion: every window inside the strict
            # horizon is still present (30 s window spacing)
            import datetime as _dt

            assert max(ends) - _dt.timedelta(seconds=30) in ends
            assert max(ends) - _dt.timedelta(seconds=60) in ends
            # one-shot SELECT inside the horizon unchanged: the newest
            # window's count is intact
            rows = {
                r["window_end"]: r["n"]
                for r in eng.execute(
                    "SELECT window_end, n FROM rt;"
                ).collect()
            }
            assert rows[max(ends)] == 1
            # retention round-trips the DDL log (WITH clause is logged)
            eng.shutdown()
            b = HStreamEngine(spark, str(tmp_path / "vret"))
            try:
                assert b.views["rt"].retention_secs == 60.0
            finally:
                b.shutdown()
        finally:
            try:
                eng.shutdown()
            except Exception:  # noqa: BLE001 — already shut down above
                pass


class TestViewStateCrashInjection:
    """Kill the view-state upsert at every fault window the crash-safety
    design names (dot-tmp write / rename / CURRENT swap / generation
    sweep), then recover the way Structured Streaming would — replay the
    same batch (epoch) — and assert (a) reads NEVER see a torn state
    (always pre-crash-or-committed), and (b) the replayed log converges
    to the exact no-crash result."""

    FAULT_POINTS = [
        "first-base-written",   # tmp_v0 on disk, v0 absent
        "first-base-renamed",   # v0 on disk, CURRENT absent
        "delta-written",        # tmp delta on disk, not yet listed
        "delta-renamed",        # delta visible, compaction not run
        "compact-written",      # new base on disk, CURRENT still old
        "compact-swapped",      # CURRENT new, old generation unswept
    ]

    def _vi(self, tmp_path, name, **kw):
        import os

        from pyspark.sql import types as T

        from hstream_spark.streaming.runtime import ViewInfo

        schema = kw.pop("schema", None) or T.StructType(
            [T.StructField("k", T.StringType()),
             T.StructField("n", T.LongType())]
        )
        state_dir = str(tmp_path / f"vs_{name}")
        os.makedirs(state_dir, exist_ok=True)
        kw.setdefault("key_cols", ("k",))
        return ViewInfo(name, "", None, state_dir, schema, **kw)

    def _read(self, spark, vi):
        from hstream_spark.streaming.runtime import HStreamEngine

        return {r["k"]: r["n"] for r in
                HStreamEngine._view_state_frame(spark, vi).collect()}

    @pytest.mark.parametrize("point", FAULT_POINTS)
    def test_crash_at_each_fault_point_then_replay(
        self, spark, tmp_path, point, monkeypatch
    ):
        import hstream_spark.streaming.runtime as R

        # lower the cadence floor so batch 3 reaches the compaction
        # fault windows (production floor is 8)
        monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_EVERY", 2)
        vi = self._vi(tmp_path, f"cr_{point}")
        # batch 3 reaches the compaction windows: base(2 rows) + d1(1)
        # + d2(2) → Σdeltas 3 ≥ ½·2 at the floor → fold-down fires
        batches = [
            [("a", 1), ("b", 1)],
            [("a", 2)],
            [("a", 3), ("b", 2)],
        ]
        after = [  # committed state expected after each batch applies
            {"a": 1, "b": 1},
            {"a": 2, "b": 1},
            {"a": 3, "b": 2},
        ]

        class Crash(RuntimeError):
            pass

        def hook(p):
            if p == point:
                raise Crash(p)

        crashed = False
        for i, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, "k string, n long")
            R._FAULT_HOOK = hook
            try:
                R.HStreamEngine._view_upsert(vi, bdf)
            except Crash:
                crashed = True
                # a read between crash and recovery must be sound:
                # exactly the pre-batch or the post-batch state
                R._FAULT_HOOK = None
                seen = self._read(spark, vi)
                pre = after[i - 1] if i else {}
                assert seen in (pre, after[i]), (point, seen)
                # epoch replay: the same batch re-applies
                R.HStreamEngine._view_upsert(vi, bdf)
            finally:
                R._FAULT_HOOK = None
            assert self._read(spark, vi) == after[i], (point, i)
        assert crashed, f"fault point {point} never reached"
        # post-recovery triggers keep working and compaction eventually
        # sweeps every stale generation and tmp dir
        import os

        for j in range(4, 10):
            bdf = spark.createDataFrame([("a", j), ("b", j)], "k string, n long")
            R.HStreamEngine._view_upsert(vi, bdf)
        assert self._read(spark, vi) == {"a": 9, "b": 9}
        base, _ks = R.HStreamEngine._view_layout(vi.state_dir)
        stale = [d for d in os.listdir(vi.state_dir)
                 if d.startswith(".tmp_")
                 or (d.startswith("v") and d[1:].split("_d")[0].isdigit()
                     and int(d[1:].split("_d")[0]) < base - 1)]
        assert stale == [], (point, stale)

    def test_crash_then_replay_session_view(self, spark, tmp_path):
        """Same discipline for the session (merge_on_overlap) delta log:
        a crash after the delta rename replays the epoch; the duplicate
        delta's rows supersede their own first copies (self-overlap), so
        the fold converges to the no-crash session set."""
        import datetime as dt

        from pyspark.sql import types as T

        import hstream_spark.streaming.runtime as R

        schema = T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_end", T.TimestampType()),
            T.StructField("n", T.LongType()),
        ])
        vi = self._vi(
            tmp_path, "cr_sess", schema=schema,
            key_cols=("window_start", "window_end", "k"),
            merge_on_overlap=True,
        )
        t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

        def w(s, e):
            return (t0 + dt.timedelta(seconds=s), t0 + dt.timedelta(seconds=e))

        def push(rows):
            R.HStreamEngine._view_upsert(
                vi, spark.createDataFrame(rows, schema)
            )

        push([("a", *w(0, 10), 1), ("b", *w(5, 15), 1)])

        class Crash(RuntimeError):
            pass

        def hook(p):
            if p == "delta-renamed":
                raise Crash(p)

        # a's session extends (overlaps its old window); b untouched
        extend = [("a", *w(0, 18), 2)]
        R._FAULT_HOOK = hook
        with pytest.raises(Crash):
            push(extend)
        R._FAULT_HOOK = None
        push(extend)  # epoch replay
        got = {(r["k"], r["window_start"], r["window_end"], r["n"])
               for r in R.HStreamEngine._view_state_frame(spark, vi).collect()}
        assert got == {("a", *w(0, 18), 2), ("b", *w(5, 15), 1)}

    def test_randomized_kills_converge(self, spark, tmp_path, monkeypatch):
        """Randomized kill schedule over a longer upsert log: every
        crash is followed by an epoch replay; the final state must be
        byte-identical to the crash-free fold."""
        import random

        import hstream_spark.streaming.runtime as R

        monkeypatch.setattr(R.HStreamEngine, "_VIEW_COMPACT_EVERY", 3)
        rng = random.Random(20260815)
        vi = self._vi(tmp_path, "cr_rand")
        expected: dict[str, int] = {}

        class Crash(RuntimeError):
            pass

        points = self.FAULT_POINTS

        for i in range(14):
            rows = [(f"k{rng.randrange(5)}", i * 10 + j) for j in range(2)]
            dedup = {k: n for k, n in rows}
            rows = list(dedup.items())  # upsert batches are key-unique
            expected.update(dedup)
            bdf = spark.createDataFrame(rows, "k string, n long")
            if rng.random() < 0.5:
                target = points[rng.randrange(len(points))]
                R._FAULT_HOOK = (
                    lambda p, t=target: (_ for _ in ()).throw(Crash(p))
                    if p == t else None
                )
                try:
                    R.HStreamEngine._view_upsert(vi, bdf)
                except Crash:
                    R._FAULT_HOOK = None
                    R.HStreamEngine._view_upsert(vi, bdf)  # replay
                finally:
                    R._FAULT_HOOK = None
            else:
                R.HStreamEngine._view_upsert(vi, bdf)
            assert self._read(spark, vi) == expected, i


class TestResumeParity:
    """RESUME must rebuild a continuous query through the SAME
    machinery CREATE used (round-8 review: a hand-rolled rebuild
    silently dropped the payload JSON encoding, event-time
    propagation, and the sink file-count cap)."""

    def test_resume_payload_sink_keeps_json_encoding(self, engine):
        engine.execute("CREATE STREAM rp_src (a INTEGER);")
        engine.execute("CREATE STREAM rp_dyn;")
        engine.execute("INSERT INTO rp_dyn VALUES CAST('{\"note\": \"hi\"}' AS JSONB);")
        qi = engine.execute("INSERT INTO rp_dyn SELECT a FROM rp_src;")
        engine.execute("INSERT INTO rp_src (a) VALUES (1);")
        qi.handle.processAllAvailable()
        engine.execute(f"PAUSE QUERY {qi.name};")
        engine.execute("INSERT INTO rp_src (a) VALUES (2);")
        engine.execute(f"RESUME QUERY {qi.name};")
        q2 = engine.queries[qi.name]
        assert q2.status == "RUNNING"
        q2.handle.processAllAvailable()
        # the resumed writer must keep JSON-encoding into the payload
        # layout: a raw-column write would corrupt the stream and these
        # reads would miss the post-resume row (or error)
        rows = engine.execute("SELECT a, note FROM rp_dyn;").collect()
        got = {(r["a"], r["note"]) for r in rows}
        assert got == {(None, "hi"), (1, None), (2, None)}

    def test_resume_keeps_event_time_column(self, engine):
        import time as _time

        engine.execute("CREATE STREAM re_src (k STRING, v INTEGER);")
        engine.execute("CREATE STREAM re_out AS SELECT k, v * 2 AS v2 FROM re_src;")
        qname = "csas_re_out"
        ts = _time.time()
        engine.execute(f"INSERT INTO re_src (k, v, _ts) VALUES ('a', 1, {ts});")
        engine.queries[qname].handle.processAllAvailable()
        engine.execute(f"PAUSE QUERY {qname};")
        engine.execute(f"INSERT INTO re_src (k, v, _ts) VALUES ('b', 2, {ts});")
        engine.execute(f"RESUME QUERY {qname};")
        engine.queries[qname].handle.processAllAvailable()
        # event time propagated for BOTH pre- and post-resume records:
        # a rebuild without keep_event_time would stamp append time,
        # and a windowed consumer would bucket post-resume rows wrong
        rows = engine.execute("SELECT k, v2 FROM re_out;").collect()
        assert {(r["k"], r["v2"]) for r in rows} == {("a", 2), ("b", 4)}
        import pyarrow.parquet as pq
        import glob as _glob
        import os as _os

        ts_vals = []
        for f in _glob.glob(_os.path.join(engine.streams["re_out"].path, "*.parquet")):
            t = pq.read_table(f)
            if "_ts" in t.column_names:
                ts_vals += [v.as_py() for v in t.column("_ts")]
        assert len(ts_vals) == 2
        # both carry the SOURCE event time (same pinned second)
        secs = {v.timestamp() // 1 for v in ts_vals}
        assert all(abs(s - ts) < 2 for s in secs), (secs, ts)


def _log_batches(checkpoint: str, log: str) -> list:
    """Batch ids a query's ``offsets``/``commits`` log holds."""
    import os

    d = os.path.join(checkpoint, log)
    return sorted(int(f) for f in os.listdir(d) if f.isdigit())


def test_show_queries_reports_dead_query_failed(engine):
    """A view refresh that dies on an exception reads FAILED in SHOW
    QUERIES, not the RUNNING its catalog entry still holds; SHOW
    QUERIES carries the exception, and a read of the view raises
    instead of serving the state the dead query left behind."""
    import hstream_spark.streaming.runtime as R

    engine.execute("CREATE STREAM dq_ev (k INTEGER);")
    engine.execute("CREATE VIEW dq AS SELECT k, COUNT(*) AS n FROM dq_ev "
                   "GROUP BY k;")
    engine.execute("INSERT INTO dq_ev (k) VALUES (1);")
    handle = engine.views["dq"].handle
    handle.processAllAvailable()  # first batch writes the base, no delta

    def row():
        rows = engine.execute("SHOW QUERIES;").collect()
        return {r["name"]: r for r in rows}["view_dq"]

    def status():
        return row()["status"]

    assert status() == "RUNNING"
    assert row()["error"] is None
    assert engine.execute("SELECT k, n FROM dq;").count() == 1

    def hook(point):
        if point == "delta-written":
            raise RuntimeError("injected upsert failure")

    R._FAULT_HOOK = hook
    try:
        engine.execute("INSERT INTO dq_ev (k) VALUES (2);")
        with pytest.raises(Exception, match="injected upsert failure"):
            handle.processAllAvailable()
    finally:
        R._FAULT_HOOK = None
    assert wait_until(lambda: not handle.isActive, timeout=30, step=0.2)
    assert engine.queries["view_dq"].status == "RUNNING"  # catalog entry
    assert status() == "FAILED"
    assert "injected upsert failure" in row()["error"]
    with pytest.raises(RuntimeError,
                       match="(?s)view 'dq' is stale.*injected upsert failure"):
        engine.execute("SELECT k, n FROM dq;")
    # a paused view serves its last committed state again
    engine.execute("PAUSE QUERY view_dq;")
    assert engine.execute("SELECT k, n FROM dq;").count() == 1


class TestNoDataBatches:
    """Every stream read carries a ``_ts`` watermark, so Spark follows a
    data batch with a no-data batch that only advances it. Aggregates
    over a plain stream start without those batches; a windowed view
    keeps them (they are what closes its windows)."""

    KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    T0 = 1_700_000_000.0

    @staticmethod
    def _executed(handle) -> list:
        # idle progress events (no batch ran) carry no addBatch phase
        return [p for p in handle.recentProgress
                if "addBatch" in p["durationMs"]]

    @pytest.mark.parametrize("sql, mode, idle", [
        ("SELECT k, COUNT(*) AS n FROM s GROUP BY k;", "update", True),
        ("SELECT COUNT(*) AS n FROM s WHERE v > 0;", "update", True),
        ("SELECT k, COUNT(*) AS n FROM s GROUP BY k;", "complete", False),
        ("SELECT k, v FROM s WHERE v > 0;", "append", False),
        ("SELECT _ts, COUNT(*) AS n FROM s GROUP BY _ts;", "update", False),
        ("SELECT k, COUNT(*) AS n FROM TUMBLE(s, INTERVAL 5 SECOND) "
         "GROUP BY k;", "update", False),
        ("SELECT k, COUNT(*) AS n FROM HOP(s, INTERVAL 10 SECOND, "
         "INTERVAL 5 SECOND) GROUP BY k;", "update", False),
        ("SELECT k, COUNT(*) AS n FROM SESSION(s, INTERVAL 30 SECOND) "
         "GROUP BY k;", "update", False),
        ("SELECT k, COUNT(*) AS n FROM SLIDING(s, INTERVAL 30 SECOND) "
         "GROUP BY k;", "update", False),
        ("SELECT s.k, COUNT(*) AS n FROM s JOIN t ON s.k = t.k "
         "WITHIN (INTERVAL 5 SECOND) GROUP BY s.k;", "update", False),
        ("SELECT k, COUNT(*) AS n FROM (SELECT k FROM s) AS q GROUP BY k;",
         "update", False),
    ])
    def test_which_starts_skip_no_data_batches(self, sql, mode, idle):
        from hstream_spark.plans.parser import parse

        assert HStreamEngine._no_data_batches_idle(parse(sql), mode) is idle

    def test_unwindowed_aggregates_skip_no_data_batches(self, engine, spark):
        before = spark.conf.get(self.KEY, None)
        engine.execute("CREATE STREAM nd (k INTEGER, v INTEGER);")
        for sql in (
            "CREATE VIEW nd_v AS SELECT k, COUNT(*) AS n, SUM(v) AS s "
            "FROM nd GROUP BY k;",
            "CREATE STREAM nd_agg AS SELECT k, COUNT(*) AS n, SUM(v) AS s "
            "FROM nd GROUP BY k;",
            "CREATE VIEW nd_t AS SELECT k, COUNT(*) AS n, SUM(v) AS s "
            "FROM TUMBLE(nd, INTERVAL 1 HOUR) GROUP BY k;",
        ):
            engine.execute(sql)
            assert spark.conf.get(self.KEY, None) == before
        plain = [engine.queries["view_nd_v"], engine.queries["csas_nd_agg"]]
        tumble = engine.queries["view_nd_t"]
        for i, (k, v) in enumerate([(1, 10), (2, 5), (1, 3)]):
            # one file per trigger; each later _ts advances the watermark
            engine.execute(f"INSERT INTO nd (k, v, _ts) VALUES "
                           f"({k}, {v}, {self.T0 + i});")
            for q in plain + [tumble]:
                q.handle.processAllAvailable()
            for q in plain:
                assert _log_batches(q.checkpoint, "offsets") == \
                    list(range(i + 1)), q.name
        for q in plain:
            assert [p["numInputRows"] for p in self._executed(q.handle)] \
                == [1, 1, 1], q.name
        assert any(p["numInputRows"] == 0
                   for p in self._executed(tumble.handle))
        assert len(_log_batches(tumble.checkpoint, "offsets")) > 3

        def rows(sql, *cols):
            df = engine.execute(sql)
            return sorted(tuple(r) for r in df.select(*cols or df.columns)
                          .collect())

        expected = rows("SELECT k, COUNT(*) AS n, SUM(v) AS s FROM nd "
                        "GROUP BY k;")
        assert expected == [(1, 2, 13), (2, 1, 5)]
        assert rows("SELECT k, n, s FROM nd_v;") == expected
        # counts and sums only grow, so each key's last update is its max
        assert rows("SELECT k, MAX(n) AS n, MAX(s) AS s FROM nd_agg "
                    "GROUP BY k;") == expected
        cols = ("window_start", "k", "n", "s")
        assert rows("SELECT * FROM nd_t;", *cols) == rows(
            "SELECT k, COUNT(*) AS n, SUM(v) AS s "
            "FROM TUMBLE(nd, INTERVAL 1 HOUR) GROUP BY k;", *cols)

    def test_checkpoints_written_by_file_context_manager_resume(
        self, spark, tmp_path
    ):
        """Checkpoints written under Spark's FileContext manager resume
        exactly-once under the engine's FileSystem default, and no temp
        file is left in the logs or state."""
        import os

        key = "spark.sql.streaming.checkpointFileManagerClass"
        default = spark.conf.get(key)
        assert default.endswith(".FileSystemBasedCheckpointFileManager")
        root = str(tmp_path / "ckm")

        def ingest(eng, rows):
            for k, v in rows:
                eng.execute(f"INSERT INTO ck (k, v) VALUES ({k}, {v});")
            for q in eng.queries.values():
                q.handle.processAllAvailable()

        spark.conf.set(key, default.replace(
            "FileSystemBasedCheckpointFileManager",
            "FileContextBasedCheckpointFileManager"))
        try:
            a = HStreamEngine(spark, root)
            a.execute("CREATE STREAM ck (k INTEGER, v INTEGER);")
            a.execute("CREATE VIEW ck_v AS SELECT k, COUNT(*) AS n, "
                      "SUM(v) AS s FROM ck GROUP BY k;")
            a.execute("CREATE STREAM ck_f AS SELECT k, v FROM ck "
                      "WHERE v > 0;")
            ingest(a, [(1, 1), (2, 2), (1, -3)])
            a.shutdown()
        finally:
            spark.conf.set(key, default)
        b = HStreamEngine(spark, root)
        try:
            ingest(b, [(2, 4), (3, 5), (1, 6)])
            got = sorted(tuple(r) for r in
                         b.execute("SELECT k, n, s FROM ck_v;").collect())
            assert got == [(1, 3, 4), (2, 2, 6), (3, 1, 5)]
            got = sorted(tuple(r) for r in
                         b.execute("SELECT k, v FROM ck_f;").collect())
            assert got == [(1, 1), (1, 6), (2, 2), (2, 4), (3, 5)]
            for q in b.queries.values():
                assert _log_batches(q.checkpoint, "commits") == \
                    _log_batches(q.checkpoint, "offsets")
                for log in ("offsets", "commits", "state"):
                    for d, _dirs, files in os.walk(
                        os.path.join(q.checkpoint, log)
                    ):
                        assert not [f for f in files if ".tmp" in f], d
        finally:
            b.shutdown()


def test_runtime_has_one_start_path():
    """Every streaming query starts through ``_start_query``: it alone
    calls ``writeStream`` and alone parks a start on ``.starter``
    during DDL replay. A second, hand-rolled start drifts from it (a
    RESUME that did so once dropped the payload encoding, the source
    event time and the stateful plans)."""
    import pathlib
    import re

    src = (pathlib.Path(__file__).resolve().parents[1] / "hstream_spark"
           / "streaming" / "runtime.py").read_text()
    assert len(re.findall(r"writeStream", src)) == 1
    assert len(re.findall(r"\.starter\s*=(?!=)", src)) == 1


def test_runtime_has_one_append_path():
    """Every write of rows into a stream or view state goes through
    ``_write_rows``, which picks the driver's Arrow write or Spark's by
    the frame's size estimate and types; only ``compact()``, which
    rewrites a stream's parts, runs Spark's writer beside it. A
    DataFrame ``.write`` anywhere else is a second append path that
    skips the gate, the NaN canonicalization and the temp-file
    rename."""
    import ast
    import pathlib

    src = (pathlib.Path(__file__).resolve().parents[1] / "hstream_spark"
           / "streaming" / "runtime.py").read_text()
    calls = set()  # file handles' write(...) calls, not DataFrame.write

    def visit(node, scope):
        if isinstance(node, ast.Call):
            calls.add(id(node.func))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if (isinstance(node, ast.Attribute) and node.attr == "write"
                and id(node) not in calls):
            writers.append(scope)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    writers: list = []
    visit(ast.parse(src), "")
    assert sorted(writers) == ["_write_rows", "compact"], writers
