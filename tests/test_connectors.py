"""Connector tests: generator source fills a stream; blackhole sink
drains one; jdbc wiring validates options up to the jar boundary."""

from __future__ import annotations

import time

import pytest

from hstream_spark.sources.connectors import ConnectorError, build_sink, jdbc_sink
from hstream_spark.streaming.runtime import HStreamEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = HStreamEngine(spark, str(tmp_path / "data"))
    yield eng
    eng.shutdown()


def test_generator_source_fills_stream(engine):
    engine.execute("CREATE STREAM gen_out;")
    info = engine.execute(
        "CREATE SOURCE CONNECTOR g1 FROM gen_out WITH (\"type\" = 'generator', "
        "\"rows_per_second\" = 50);"
    )
    assert info.handle is not None
    deadline = time.time() + 30
    rows = 0
    while time.time() < deadline:
        info.handle.processAllAvailable()
        try:
            rows = engine.execute("SELECT id, value FROM gen_out;").count()
        except Exception:
            rows = 0
        if rows > 0:
            break
        time.sleep(0.5)
    assert rows > 0
    engine.execute("PAUSE CONNECTOR g1;")
    assert engine.connectors["g1"].handle is None


def test_blackhole_sink_runs(engine):
    engine.execute("CREATE STREAM src (a INTEGER);")
    engine.execute("INSERT INTO src (a) VALUES (1);")
    info = engine.execute(
        "CREATE SINK CONNECTOR bh TO src WITH (\"type\" = 'blackhole');"
    )
    assert info.handle is not None
    info.handle.processAllAvailable()  # drains without error
    assert info.handle.isActive


def test_unknown_sink_type_rejected():
    with pytest.raises(ConnectorError, match="unknown sink"):
        build_sink("kafkaesque", {})


def test_jdbc_sink_requires_options():
    with pytest.raises(ConnectorError, match="url and table"):
        jdbc_sink({})


from pyspark.sql import functions as F


@pytest.mark.parametrize("bad", [
    ("poll_interval_ms", "abc"),
    ("starting_offsets", "bogus"),
])
def test_kafka_source_routes_parse_options_alike(engine, bad):
    """A stream's WITH (KAFKA_TOPIC=..) and a kafka SOURCE CONNECTOR
    parse their options with the same rules: each bad value is a
    CompileError on both routes, and neither registers a connector."""
    from hstream_spark.plans.compiler import CompileError

    key, value = bad
    with pytest.raises(CompileError, match=key.upper()):
        engine.execute(
            "CREATE STREAM kopt_s WITH (\"kafka_topic\" = 't', "
            "\"kafka_bootstrap_servers\" = 'localhost:1', "
            f"\"kafka_{key}\" = '{value}');"
        )
    assert "kopt_s" not in engine.streams
    engine.execute("CREATE STREAM kopt_t (v INTEGER);")
    with pytest.raises(CompileError, match=key.upper()):
        engine.execute(
            "CREATE SOURCE CONNECTOR kopt_c FROM kopt_t WITH "
            "(\"type\" = 'kafka', \"topic\" = 't', "
            "\"bootstrap_servers\" = 'localhost:1', "
            f"\"{key}\" = '{value}');"
        )
    assert engine.connectors == {}


class TestCDC:
    ENV = [
        ('{"op": "c", "ts_ms": 100, "after": {"k": 1, "v": 10.0}}',),
        ('{"op": "u", "ts_ms": 200, "after": {"k": 1, "v": 20.0}}',),
        ('{"op": "c", "ts_ms": 150, "after": {"k": 2, "v": 5.0}}',),
        ('{"op": "d", "ts_ms": 300, "before": {"k": 2, "v": 5.0}, "after": null}',),
    ]

    def test_cdc_envelope_typed(self, spark):
        from hstream_spark.sources.connectors import cdc_envelope

        df = spark.createDataFrame(self.ENV, "value string")
        out = cdc_envelope(df, "value", value_schema="k long, v double").collect()
        assert [r.op for r in out] == ["c", "u", "c", "d"]
        assert out[1].after.v == 20.0
        assert out[3].after is None and out[3].before.k == 2

    def test_cdc_apply_upsert_and_delete(self, spark):
        from hstream_spark.sources.connectors import cdc_apply, cdc_envelope

        df = spark.createDataFrame(self.ENV, "value string")
        # deleted rows carry no after-image key; materialize key from either side
        flat = cdc_envelope(df, "value", value_schema="k long, v double").select(
            F.coalesce(F.col("after.k"), F.col("before.k")).alias("k"),
            F.col("after.v").alias("v"), "op", "ts_ms",
        )
        state = {r.k: r.v for r in cdc_apply(flat, ["k"], order_cols=["ts_ms"]).collect()}
        assert state == {1: 20.0}  # k=1 upserted to 20, k=2 deleted


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


class TestJDBCRoundTrip:
    """Real-database integration: embedded Derby (driver ships inside
    Spark's jars) through the exact jdbc_sink/jdbc_source code paths the
    mysql/postgresql/sqlserver connectors use."""

    def test_sink_then_source_round_trip(self, engine, spark):
        from hstream_spark.sources.connectors import jdbc_source

        engine.execute("CREATE STREAM jrt (k INTEGER, s STRING);")
        engine.execute("INSERT INTO jrt (k, s) VALUES (1, 'a');")
        engine.execute("INSERT INTO jrt (k, s) VALUES (2, 'b');")
        info = engine.execute(
            "CREATE SINK CONNECTOR jd TO jrt WITH (\"type\" = 'jdbc', "
            "\"url\" = 'jdbc:derby:memory:rtdb;create=true', "
            "\"dbtable\" = 'jrt_tab', "
            f"\"driver\" = '{DERBY_DRIVER}');"
        )
        assert info.handle is not None
        info.handle.processAllAvailable()
        back = jdbc_source(
            spark,
            {
                "url": "jdbc:derby:memory:rtdb",
                "dbtable": "jrt_tab",
                "driver": DERBY_DRIVER,
            },
        )
        rows = sorted((r["k"], r["s"]) for r in back.select("k", "s").collect())
        assert rows == [(1, "a"), (2, "b")]
        # exactly-once-per-batch: reprocessing without new input adds nothing
        info.handle.processAllAvailable()
        assert back.count() == 2

    def test_jdbc_source_bad_options_clear_error(self, spark):
        from hstream_spark.sources.connectors import ConnectorError, jdbc_source

        with pytest.raises(ConnectorError, match="jdbc source failed"):
            jdbc_source(spark, {"url": "jdbc:nosuch:x", "dbtable": "t"})


class TestMongoWireProtocol:
    """Live integration of the mongodb sink: the sink speaks the
    MongoDB wire protocol (OP_MSG + BSON) directly, proved against a
    real TCP server decoding the frames with the same public-spec
    codec (``sources/bson_wire.py``) a real mongod parses."""

    @staticmethod
    def _mongod(inserted, reject=False, serve_docs=None, find_batch=100,
                finds=None):
        import socket
        import threading

        from hstream_spark.sources import bson_wire

        srv = socket.create_server(("127.0.0.1", 0))
        srv.settimeout(30)
        cursors: dict = {}

        def serve():
            while True:
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return
                threading.Thread(
                    target=handle, args=(conn,), daemon=True
                ).start()

        def handle(conn):
            with conn:
                while True:
                    try:
                        frame = bson_wire.read_message(conn)
                    except (ConnectionError, OSError):
                        return
                    if frame is None:
                        return
                    cmd = bson_wire.decode_op_msg(frame)
                    if "insert" in cmd:
                        docs = cmd.get("documents", [])
                        reply = {"n": len(docs), "ok": 1.0}
                        if reject:
                            reply["writeErrors"] = [
                                {"index": 0, "code": 11000, "errmsg": "dup key"}
                            ]
                        else:
                            inserted.append((cmd["$db"], cmd["insert"], docs))
                    elif "find" in cmd:
                        n = min(int(cmd.get("batchSize", find_batch)), find_batch)
                        pending = list(serve_docs or [])
                        # minimal server-side filter evaluation: the
                        # {field: {"$gt": v}} shape MongoCdcTailer pushes
                        flt = cmd.get("filter") or {}
                        for fld, cond in flt.items():
                            if isinstance(cond, dict) and "$gt" in cond:
                                pending = [
                                    d for d in pending
                                    if d.get(fld) is not None
                                    and d[fld] > cond["$gt"]
                                ]
                        finds.append(flt) if finds is not None else None
                        batch, rest = pending[:n], pending[n:]
                        cid = 77 if rest else 0
                        if rest:
                            cursors[cid] = rest
                        reply = {
                            "cursor": {"id": cid, "ns": "t.c",
                                       "firstBatch": batch},
                            "ok": 1.0,
                        }
                    elif "getMore" in cmd:
                        cid = int(cmd["getMore"])
                        n = min(int(cmd.get("batchSize", find_batch)), find_batch)
                        pending = cursors.get(cid, [])
                        batch, rest = pending[:n], pending[n:]
                        if rest:
                            cursors[cid] = rest
                        else:
                            cursors.pop(cid, None)
                        reply = {
                            "cursor": {"id": cid if rest else 0, "ns": "t.c",
                                       "nextBatch": batch},
                            "ok": 1.0,
                        }
                    else:
                        reply = {"ok": 1.0}
                    conn.sendall(bson_wire.encode_op_msg(reply))

        threading.Thread(target=serve, daemon=True).start()
        return srv

    def test_bson_codec_round_trip(self):
        import datetime as dt

        from hstream_spark.sources import bson_wire

        doc = {
            "s": "héllo",
            "i32": 7,
            "i64": 2**40,
            "f": 1.5,
            "b": True,
            "none": None,
            "bin": b"\x00\x01\xff",
            "ts": dt.datetime(2026, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc),
            "nested": {"a": [1, "two", {"three": 3.0}]},
        }
        out, end = bson_wire.decode_document(bson_wire.encode_document(doc))
        assert out == doc
        assert end == len(bson_wire.encode_document(doc))

    def test_insert_round_trip_through_engine(self, engine):
        inserted: list = []
        srv = self._mongod(inserted)
        try:
            port = srv.getsockname()[1]
            engine.execute("CREATE STREAM msrc (k INTEGER, s STRING);")
            engine.execute("INSERT INTO msrc (k, s) VALUES (1, 'a');")
            engine.execute("INSERT INTO msrc (k, s) VALUES (2, 'b');")
            info = engine.execute(
                "CREATE SINK CONNECTOR mg TO msrc WITH "
                "(\"type\" = 'mongodb', "
                f"\"uri\" = 'mongodb://127.0.0.1:{port}', "
                "\"database\" = 'hstream', \"collection\" = 'docs');"
            )
            assert info.handle is not None
            info.handle.processAllAvailable()
        finally:
            srv.close()
        assert inserted, "no insert command reached the server"
        docs = []
        for db, coll, batch in inserted:
            assert (db, coll) == ("hstream", "docs")
            docs.extend(batch)
        assert sorted((d["k"], d["s"]) for d in docs) == [(1, "a"), (2, "b")]

    def test_write_errors_fail_the_batch(self, spark):
        from hstream_spark.sources.connectors import mongodb_sink

        inserted: list = []
        srv = self._mongod(inserted, reject=True)
        try:
            port = srv.getsockname()[1]
            sink = mongodb_sink(
                {"host": "127.0.0.1", "port": port,
                 "database": "d", "collection": "c"}
            )
            df = spark.createDataFrame([(1,)], "a long")
            with pytest.raises(Exception, match="writeErrors"):
                sink(df, 0)
        finally:
            srv.close()

    def test_connection_refused_clear_error(self, spark):
        from hstream_spark.sources.connectors import mongodb_sink

        df = spark.createDataFrame([(1,)], "a long")
        sink = mongodb_sink(
            {"uri": "mongodb://127.0.0.1:9", "database": "d", "collection": "c"}
        )
        # executor-side ConnectorError surfaces wrapped by Spark; the
        # clear message is what matters
        with pytest.raises(Exception, match="connection to 127.0.0.1:9 failed"):
            sink(df, 0)

    def test_missing_options_rejected_at_build(self):
        from hstream_spark.sources.connectors import ConnectorError, mongodb_sink

        with pytest.raises(ConnectorError, match="database and collection"):
            mongodb_sink({"uri": "mongodb://localhost"})

    def test_source_snapshot_through_engine(self, engine):
        """find/getMore cursor snapshot through CREATE SOURCE CONNECTOR:
        multiple cursor batches, nested doc as JSONB text."""
        docs = [
            {"k": i, "s": f"v{i}", "meta": {"tag": i % 2}} for i in range(5)
        ]
        srv = self._mongod([], serve_docs=docs, find_batch=2)  # 3 batches
        try:
            port = srv.getsockname()[1]
            engine.execute("CREATE STREAM msnap;")
            engine.execute(
                "CREATE SOURCE CONNECTOR ms FROM msnap WITH "
                "(\"type\" = 'mongodb', "
                f"\"uri\" = 'mongodb://127.0.0.1:{port}', "
                "\"database\" = 'hstream', \"collection\" = 'docs');"
            )
            out = engine.execute("SELECT * FROM msnap;")
        finally:
            srv.close()
        import json as _json

        rows = sorted(
            (r["k"], r["s"], _json.loads(r["meta"])["tag"]) for r in out.collect()
        )
        assert rows == [(i, f"v{i}", i % 2) for i in range(5)]

    def test_mongodb_incremental_tailing(self, engine, spark):
        """Continuous mongodb CDC: documents added AFTER the snapshot
        land on the next poll, and the watermark increment is pushed as
        a SERVER-SIDE find filter ({k: {$gt: last}}) — only new
        documents cross the wire."""
        docs = [{"k": 1, "s": "a"}, {"k": 2, "s": "b"}]
        finds: list = []
        srv = self._mongod([], serve_docs=docs, finds=finds)
        try:
            port = srv.getsockname()[1]
            engine.execute("CREATE STREAM mtail;")
            info = engine.execute(
                "CREATE SOURCE CONNECTOR mt FROM mtail WITH "
                "(\"type\" = 'mongodb', "
                f"\"uri\" = 'mongodb://127.0.0.1:{port}', "
                "\"database\" = 'hstream', \"collection\" = 'docs', "
                "\"watermark_column\" = 'k', \"poll_interval_ms\" = 0);"
            )
            assert info.handle is not None and info.handle.last == 2
            assert engine.execute("SELECT * FROM mtail;").count() == 2
            # new documents appear server-side; next poll ingests ONLY them
            docs.extend([{"k": 3, "s": "c"}, {"k": 4, "s": "d"}])
            assert info.handle.poll() == 2
            assert info.handle.poll() == 0  # idle: empty increment, no error
            got = engine.execute("SELECT * FROM mtail;")
            kcol = {c.lower(): c for c in got.columns}["k"]
            assert sorted(r[kcol] for r in got.collect()) == [1, 2, 3, 4]
            # the increment predicate reached the SERVER
            assert {"k": {"$gt": 2}} in finds
            assert info.handle.last == 4
        finally:
            srv.close()

    def test_source_empty_collection_clear_error(self, spark):
        from hstream_spark.sources.connectors import ConnectorError, mongodb_source

        srv = self._mongod([], serve_docs=[])
        try:
            port = srv.getsockname()[1]
            with pytest.raises(ConnectorError, match="no documents"):
                mongodb_source(
                    spark,
                    {"host": "127.0.0.1", "port": port,
                     "database": "d", "collection": "c"},
                )
        finally:
            srv.close()


class TestElasticsearchHTTP:
    """Live integration of the elasticsearch sink: the sink speaks the
    ES ``_bulk`` HTTP protocol directly, proved against a real HTTP
    server capturing the requests (the same bulk-POST wire shape a
    real ES node accepts)."""

    @staticmethod
    def _bulk_server(captured, errors=False):
        import http.server
        import json as _json
        import threading

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - http.server API
                n = int(self.headers.get("Content-Length", "0"))
                captured.append((self.path, self.rfile.read(n).decode("utf-8")))
                body = _json.dumps({"errors": errors, "items": []}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # silence request logging
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    def test_bulk_round_trip_through_engine(self, engine):
        import json as _json

        captured: list = []
        srv = self._bulk_server(captured)
        try:
            port = srv.server_address[1]
            engine.execute("CREATE STREAM esrc (k INTEGER, s STRING);")
            engine.execute("INSERT INTO esrc (k, s) VALUES (1, 'a');")
            engine.execute("INSERT INTO esrc (k, s) VALUES (2, 'b');")
            info = engine.execute(
                "CREATE SINK CONNECTOR es TO esrc WITH "
                "(\"type\" = 'elasticsearch', "
                f"\"url\" = 'http://127.0.0.1:{port}', \"index\" = 'docs');"
            )
            assert info.handle is not None
            info.handle.processAllAvailable()
        finally:
            srv.shutdown()
        assert captured, "no bulk request reached the server"
        docs = []
        for path, body in captured:
            assert path == "/_bulk"
            lines = [ln for ln in body.strip().splitlines() if ln]
            for action, doc in zip(lines[::2], lines[1::2]):
                assert _json.loads(action) == {"index": {"_index": "docs"}}
                docs.append(_json.loads(doc))
        assert sorted((d["k"], d["s"]) for d in docs) == [(1, "a"), (2, "b")]

    def test_item_errors_fail_the_batch(self, spark):
        from hstream_spark.sources.connectors import elasticsearch_sink

        captured: list = []
        srv = self._bulk_server(captured, errors=True)
        try:
            port = srv.server_address[1]
            sink = elasticsearch_sink(
                {"url": f"http://127.0.0.1:{port}", "index": "docs"}
            )
            df = spark.createDataFrame([(1,)], "a long")
            with pytest.raises(Exception, match="item errors"):
                sink(df, 0)
        finally:
            srv.shutdown()

    def test_missing_options_rejected_at_build(self):
        from hstream_spark.sources.connectors import (
            ConnectorError,
            elasticsearch_sink,
        )

        with pytest.raises(ConnectorError, match="url and index"):
            elasticsearch_sink({"es.nodes": "localhost"})


def test_jdbc_source_connector_snapshot_into_stream(engine, spark):
    """Per-database CDC source (mysql/postgresql/... = JDBC snapshot
    phase) through the engine's SQL surface, against embedded Derby."""
    src = spark.createDataFrame([(10, "x"), (20, "y")], "k long, s string")
    (src.write.format("jdbc").mode("append")
        .option("url", "jdbc:derby:memory:srcdb;create=true")
        .option("dbtable", "src_tab").option("driver", DERBY_DRIVER).save())
    engine.execute("CREATE STREAM jsrc;")
    engine.execute(
        "CREATE SOURCE CONNECTOR js FROM jsrc WITH (\"type\" = 'jdbc', "
        "\"url\" = 'jdbc:derby:memory:srcdb', "
        "\"dbtable\" = 'src_tab', "
        f"\"driver\" = '{DERBY_DRIVER}');"
    )
    out = engine.execute("SELECT * FROM jsrc;")
    cols = {c.lower(): c for c in out.columns}
    rows = sorted((r[cols["k"]], r[cols["s"]]) for r in out.collect())
    assert rows == [(10, "x"), (20, "y")]


def test_jdbc_source_connector_incremental_tailing(engine, spark):
    """Continuous CDC: rows inserted into the database AFTER
    CREATE SOURCE CONNECTOR appear in the stream on the next poll
    (watermark-column incremental ingestion — the long-running worker
    phase the reference runs via Debezium,
    hstream-io/HStream/IO/Worker.hs:252-257)."""
    url = "jdbc:derby:memory:cdcdb;create=true"

    def _write(rows):
        (spark.createDataFrame(rows, "k long, s string")
            .write.format("jdbc").mode("append")
            .option("url", url).option("dbtable", "cdc_tab")
            .option("driver", DERBY_DRIVER).save())

    _write([(1, "a"), (2, "b")])
    engine.execute("CREATE STREAM cdcs;")
    info = engine.execute(
        "CREATE SOURCE CONNECTOR ct FROM cdcs WITH (\"type\" = 'jdbc', "
        f"\"url\" = 'jdbc:derby:memory:cdcdb', \"dbtable\" = 'cdc_tab', "
        f"\"driver\" = '{DERBY_DRIVER}', \"watermark_column\" = 'k');"
    )
    assert info.handle is not None  # the tailer, not a one-shot snapshot
    # WATERMARK_COLUMN alone (no POLL_INTERVAL_MS) must START the
    # polling thread — the documented continuous-tailing contract;
    # POLL_INTERVAL_MS=0 is the explicit snapshot-only opt-out
    assert info.handle._thread is not None
    snap = engine.execute("SELECT * FROM cdcs;")
    kcol = {c.lower(): c for c in snap.columns}["k"]
    assert sorted(r[kcol] for r in snap.collect()) == [1, 2]
    # post-snapshot inserts land on the next poll, already-seen rows don't dup
    _write([(3, "c"), (4, "d")])
    assert info.handle.poll() == 2
    assert info.handle.poll() == 0
    got = engine.execute("SELECT * FROM cdcs;")
    assert sorted(r[kcol] for r in got.collect()) == [1, 2, 3, 4]
    # the watermark predicate reaches the DATABASE, not a post-scan
    # filter: the JDBC scan advertises the pushed GreaterThan
    from pyspark.sql import functions as F

    from hstream_spark.sources.connectors import jdbc_source

    inc = jdbc_source(spark, info.handle.options).filter(F.col("k") > 4)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan
    # PAUSE/TERMINATE manage the tailer like any streaming handle
    engine.execute("PAUSE CONNECTOR ct;")
    assert engine.connectors["ct"].handle is None
    # RESUME does NOT re-snapshot (rows already in the stream) and
    # resumes tailing from the stream's recorded high-water mark
    info2 = engine.execute("RESUME CONNECTOR ct;")
    assert info2.handle is not None and info2.handle.last == 4
    assert engine.execute("SELECT * FROM cdcs;").count() == 4
    _write([(5, "e")])
    assert info2.handle.poll() == 1
    assert engine.execute("SELECT * FROM cdcs;").count() == 5


class TestKafkaWireProtocol:
    """Kafka interop over the pure-stdlib wire client
    (``sources/kafka_wire.py``) against a live in-process stub broker —
    the reference's Kafka-compatible surface
    (/root/reference/hstream-kafka/) proven end to end, the same way
    the mongodb OP_MSG connector is proven."""

    def test_crc32c_and_record_batch_round_trip(self):
        from hstream_spark.sources.kafka_wire import (
            crc32c, decode_record_batches, encode_record_batch,
        )

        assert crc32c(b"123456789") == 0xE3069283  # RFC 3720 test vector
        batch = encode_record_batch(
            [(b"k", b"v1", 1000), (None, b"v2", 1007)], base_offset=41
        )
        assert decode_record_batches(batch) == [
            (41, b"k", b"v1", 1000), (42, None, b"v2", 1007),
        ]
        # corruption is detected, not silently decoded
        import pytest as _pytest

        from hstream_spark.sources.kafka_wire import KafkaWireError

        bad = bytearray(batch)
        bad[-1] ^= 0xFF
        with _pytest.raises(KafkaWireError, match="CRC32C"):
            decode_record_batches(bytes(bad))

    def test_kafka_backed_stream_ingests_topic(self, spark, tmp_path):
        """CREATE STREAM WITH (KAFKA_TOPIC=...) round-trips through a
        broker: produced records appear in the stream, offsets persist,
        and an engine restart resumes instead of re-reading."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("events_t", partitions=2)
            producer = KafkaClient(broker.bootstrap)
            producer.produce(
                "events_t",
                [(None, b'{"k": 1, "s": "a"}', 1000),
                 (None, b'{"k": 2, "s": "b"}', 2000)],
                partition=0,
            )
            producer.produce(
                "events_t", [(None, b'{"k": 3, "s": "c"}', 3000)], partition=1
            )
            root = str(tmp_path / "data")
            eng = HStreamEngine(spark, root)
            try:
                eng.execute(
                    "CREATE STREAM kev WITH (\"kafka_topic\" = 'events_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"  # manual poll: deterministic
                )
                tailer = eng.connectors["__kafka_kev"].handle
                assert tailer.poll() == 3
                # progress is broker-visible under the default consumer
                # group hstream-<stream>-<data_root hash> (OffsetCommit
                # v2) — the view standard Kafka tooling reads; the
                # data_root suffix isolates independent engine instances
                assert tailer.group_id.startswith("hstream-kev-")
                assert producer.offset_fetch(
                    tailer.group_id, "events_t", [0, 1]
                ) == {0: 2, 1: 1}
                out = eng.execute("SELECT k, s FROM kev;").collect()
                assert sorted((r["k"], r["s"]) for r in out) == [
                    (1, "a"), (2, "b"), (3, "c"),
                ]
                # new records land on the next poll, old ones don't dup
                producer.produce(
                    "events_t", [(None, b'{"k": 4, "s": "d"}', 4000)], partition=0
                )
                assert tailer.poll() == 1
                assert tailer.poll() == 0
                assert eng.execute("SELECT * FROM kev;").count() == 4
            finally:
                eng.shutdown()
            # restart over the same data_root: DDL replay re-attaches the
            # tailer, committed offsets prevent re-ingestion
            eng2 = HStreamEngine(spark, root)
            try:
                tailer2 = eng2.connectors["__kafka_kev"].handle
                assert tailer2.poll() == 0
                assert eng2.execute("SELECT * FROM kev;").count() == 4
            finally:
                eng2.shutdown()
            producer.close()

    def test_kafka_connector_pause_resume(self, spark, tmp_path):
        """PAUSE stops the implicit topic tailer; RESUME rebuilds it
        from the committed-offset sidecar — no re-read, no loss."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("pr_t")
            prod = KafkaClient(broker.bootstrap)
            prod.produce("pr_t", [(None, b'{"k": 1}', 1000)])
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM prk WITH (\"kafka_topic\" = 'pr_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                assert eng.connectors["__kafka_prk"].handle.poll() == 1
                eng.execute("PAUSE CONNECTOR __kafka_prk;")
                assert eng.connectors["__kafka_prk"].handle is None
                prod.produce("pr_t", [(None, b'{"k": 2}', 2000)])
                info = eng.execute("RESUME CONNECTOR __kafka_prk;")
                assert info.handle is not None
                # manual-poll mode (poll_interval_ms=0) survives resume
                assert info.handle._thread is None
                assert info.handle.poll() == 1  # only the NEW record
                ks = sorted(r["k"] for r in
                            eng.execute("SELECT k FROM prk;").collect())
                assert ks == [1, 2]
            finally:
                eng.shutdown()
                prod.close()

    @pytest.mark.slow
    def test_kafka_tailer_pages_through_large_topics(self, spark, tmp_path):
        """The fetch loop drains a topic bigger than one fetch response:
        with a small max_batch_bytes the tailer needs many round trips
        and must still deliver every record exactly once, in order."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("big_t")
            prod = KafkaClient(broker.bootstrap)
            for b in range(20):  # 20 batches x 50 records
                prod.produce(
                    "big_t",
                    [(None, _json.dumps({"i": b * 50 + j}).encode(), 1000)
                     for j in range(50)],
                )
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM bigk WITH (\"kafka_topic\" = 'big_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                tailer = eng.connectors["__kafka_bigk"].handle
                tailer.max_batch_bytes = 2048  # force many fetch pages
                assert tailer.poll() == 1000
                assert tailer.poll() == 0
                vals = sorted(
                    r["i"] for r in eng.execute("SELECT i FROM bigk;").collect()
                )
                assert vals == list(range(1000))
            finally:
                eng.shutdown()
                prod.close()

    def test_kafka_stream_starting_offsets_latest(self, spark, tmp_path):
        """KAFKA_STARTING_OFFSETS='latest' subscribes to NEW records
        only (the reference's scan-start semantics) — pre-existing
        topic history stays out, and the subscription point survives a
        restart."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("lt_t")
            prod = KafkaClient(broker.bootstrap)
            prod.produce("lt_t", [(None, b'{"k": 1}', 1000)])  # history
            root = str(tmp_path / "data")
            eng = HStreamEngine(spark, root)
            try:
                eng.execute(
                    "CREATE STREAM ltk WITH (\"kafka_topic\" = 'lt_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0, "
                    "\"kafka_starting_offsets\" = 'latest');"
                )
                tailer = eng.connectors["__kafka_ltk"].handle
                assert tailer.poll() == 0  # history excluded
                prod.produce("lt_t", [(None, b'{"k": 2}', 2000)])
                assert tailer.poll() == 1  # new record arrives
                ks = [r["k"] for r in eng.execute("SELECT k FROM ltk;").collect()]
                assert ks == [2]
            finally:
                eng.shutdown()
            # restart: the committed subscription point holds (k=1 never
            # appears, no re-resolution of a newer 'latest')
            eng2 = HStreamEngine(spark, root)
            try:
                assert eng2.connectors["__kafka_ltk"].handle.poll() == 0
                assert eng2.execute("SELECT * FROM ltk;").count() == 1
            finally:
                eng2.shutdown()
                prod.close()

    def test_insert_into_kafka_stream_goes_through_topic(self, spark, tmp_path):
        """For a kafka-backed stream the TOPIC is the stream: INSERT
        produces the record to Kafka, the tailer ingests it back
        (read-your-writes via a synchronous poll), and an external
        consumer of the topic sees the engine's INSERT."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("ins_t")
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM ik WITH (\"kafka_topic\" = 'ins_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                eng.execute("INSERT INTO ik (a, s) VALUES (7, 'x');")
                # read-your-writes through the engine
                rows = eng.execute("SELECT a, s FROM ik;").collect()
                assert [(r["a"], r["s"]) for r in rows] == [(7, "x")]
                # ... and visible to an external topic consumer
                ext = KafkaClient(broker.bootstrap)
                recs, hwm = ext.fetch_records_multi("ins_t", {0: 0})[0][:2]
                ext.close()
                assert hwm == 1
                assert _json.loads(recs[0][2].decode()) == {"a": 7, "s": "x"}
            finally:
                eng.shutdown()

    def test_kafka_sink_produces_from_stream(self, engine):
        """CREATE SINK CONNECTOR type=kafka drains a stream into a topic
        (JSON values, event time as the record timestamp)."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("sink_t")
            engine.execute("CREATE STREAM ksrc (a INTEGER, s STRING);")
            engine.execute("INSERT INTO ksrc (a, s) VALUES (1, 'x');")
            engine.execute("INSERT INTO ksrc (a, s) VALUES (2, 'y');")
            info = engine.execute(
                "CREATE SINK CONNECTOR kk TO ksrc WITH (\"type\" = 'kafka', "
                f"\"topic\" = 'sink_t', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}');"
            )
            info.handle.processAllAvailable()
            consumer = KafkaClient(broker.bootstrap)
            recs, hwm = consumer.fetch_records_multi("sink_t", {0: 0})[0][:2]
            consumer.close()
            assert hwm == 2
            vals = sorted(
                (d["a"], d["s"])
                for d in (_json.loads(v.decode()) for (_o, _k, v, _ts) in recs)
            )
            assert vals == [(1, "x"), (2, "y")]

    def test_kafka_sink_gzip_compression(self, engine):
        """compression='gzip' produces compressed record batches: the
        stored batch carries the gzip attribute bit and a consumer
        decodes the values transparently."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("gz_sink")
            engine.execute("CREATE STREAM gzs (a INTEGER);")
            engine.execute("INSERT INTO gzs (a) VALUES (7);")
            info = engine.execute(
                "CREATE SINK CONNECTOR gzk TO gzs WITH (\"type\" = 'kafka', "
                f"\"topic\" = 'gz_sink', \"compression\" = 'gzip', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}');"
            )
            info.handle.processAllAvailable()
            log = broker._topics["gz_sink"][0]
            attrs = log.batches[0][2][8 + 4 + 4 + 1 + 4 + 1]  # low attr byte
            assert attrs & 0x07 == 1  # gzip codec bit survived the broker
            consumer = KafkaClient(broker.bootstrap)
            recs, hwm = consumer.fetch_records_multi("gz_sink", {0: 0})[0][:2]
            consumer.close()
            assert hwm == 1
            assert _json.loads(recs[0][2].decode())["a"] == 7

    def test_kafka_tailer_lag_reporting(self, spark, tmp_path):
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("lag_t")
            prod = KafkaClient(broker.bootstrap)
            prod.produce("lag_t", [(None, b'{"k": %d}' % i, 1000) for i in range(3)])
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM lg WITH (\"kafka_topic\" = 'lag_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                t = eng.connectors["__kafka_lg"].handle
                assert t.lag()[0] == {"committed": 0, "high_watermark": 3, "lag": 3}
                t.poll()
                assert t.lag()[0]["lag"] == 0
            finally:
                eng.shutdown()
                prod.close()

    @pytest.mark.slow
    def test_kafka_sink_keyed_partitioning(self, engine):
        """key_column routes every record for a key to ONE topic
        partition (per-key ordering) and carries the key bytes."""
        import json as _json
        import zlib as _zlib

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("keyed_t", partitions=3)
            engine.execute("CREATE STREAM ksk (uid INTEGER, v INTEGER);")
            for i in range(12):
                engine.execute(
                    f"INSERT INTO ksk (uid, v) VALUES ({i % 4}, {i});"
                )
            info = engine.execute(
                "CREATE SINK CONNECTOR kp TO ksk WITH (\"type\" = 'kafka', "
                f"\"topic\" = 'keyed_t', \"key_column\" = 'uid', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}');"
            )
            info.handle.processAllAvailable()
            consumer = KafkaClient(broker.bootstrap)
            seen: dict[str, set] = {}
            total = 0
            for p in range(3):
                recs, _hwm = consumer.fetch_records_multi("keyed_t", {p: 0})[p][:2]
                for (_o, key, value, _t) in recs:
                    total += 1
                    uid = key.decode()
                    assert _zlib.crc32(key) % 3 == p  # stable routing
                    seen.setdefault(uid, set()).add(p)
                    assert _json.loads(value.decode())["uid"] == int(uid)
            consumer.close()
            assert total == 12
            # every key maps to exactly one partition
            assert all(len(ps) == 1 for ps in seen.values())

    def test_kafka_topic_to_topic_pipeline(self, spark, tmp_path):
        """Topic → stream → continuous query → sink connector → topic:
        the full Kafka-in/Kafka-out pipeline through the engine."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("in_t")
            broker.create_topic("out_t")
            client = KafkaClient(broker.bootstrap)
            client.produce(
                "in_t",
                [(None, _json.dumps({"v": i}).encode(), 1000 + i)
                 for i in range(6)],
            )
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM kin WITH (\"kafka_topic\" = 'in_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                eng.connectors["__kafka_kin"].handle.poll()
                eng.execute(
                    "CREATE STREAM kbig AS SELECT v, v * 10 AS v10 "
                    "FROM kin WHERE v >= 3;"
                )
                qname = next(reversed(eng.queries))
                eng.queries[qname].handle.processAllAvailable()
                conn = eng.execute(
                    "CREATE SINK CONNECTOR kout TO kbig WITH "
                    "(\"type\" = 'kafka', \"topic\" = 'out_t', "
                    f"\"bootstrap_servers\" = '{broker.bootstrap}');"
                )
                conn.handle.processAllAvailable()
                recs, _hwm = client.fetch_records_multi("out_t", {0: 0})[0][:2]
                got = sorted(
                    (d["v"], d["v10"])
                    for d in (_json.loads(v.decode()) for (_o, _k, v, _t) in recs)
                )
                assert got == [(3, 30), (4, 40), (5, 50)]
            finally:
                eng.shutdown()
                client.close()

    def test_kafka_stream_requires_bootstrap(self, engine):
        from hstream_spark.plans.compiler import CompileError

        with pytest.raises(CompileError, match="KAFKA_BOOTSTRAP_SERVERS"):
            engine.execute(
                "CREATE STREAM knb WITH (\"kafka_topic\" = 't');"
            )

    def test_kafka_sink_requires_options(self):
        from hstream_spark.sources.connectors import kafka_sink

        with pytest.raises(ConnectorError, match="topic and bootstrap"):
            kafka_sink({"topic": "t"})


def test_cdc_tailer_all_null_watermark_fails_loudly(spark):
    """An all-NULL watermark column can never advance the high-water
    mark — the tailer must error instead of silently re-snapshotting
    the whole table every poll."""
    (spark.createDataFrame([(None, "a"), (None, "b")], "k long, s string")
        .write.format("jdbc").mode("append")
        .option("url", "jdbc:derby:memory:nulldb;create=true")
        .option("dbtable", "null_tab").option("driver", DERBY_DRIVER).save())
    from hstream_spark.sources.connectors import JdbcCdcTailer

    t = JdbcCdcTailer(
        spark,
        {"url": "jdbc:derby:memory:nulldb", "dbtable": "null_tab",
         "driver": DERBY_DRIVER},
        emit=lambda df: None,
        watermark_col="k",
    )
    with pytest.raises(ConnectorError, match="NULL in every fetched row"):
        t.poll()


def _wait_failures(tailer, n, timeout=30.0):
    deadline = time.time() + timeout
    while tailer.poll_failures < n and time.time() < deadline:
        time.sleep(0.05)
    return tailer.poll_failures


def test_jdbc_cdc_tailer_counts_poll_failures(spark):
    """A poll that raises is counted with its error, by a direct call
    and by the background loop, which keeps polling."""
    from hstream_spark.sources.connectors import JdbcCdcTailer

    t = JdbcCdcTailer(
        spark,
        {"url": "jdbc:derby:memory:no_such_db", "dbtable": "t",
         "driver": DERBY_DRIVER},
        emit=lambda df: None,
        watermark_col="k",
        poll_interval=0.05,
    )
    assert (t.poll_failures, t.last_error) == (0, None)
    with pytest.raises(ConnectorError):
        t.poll()
    assert t.poll_failures == 1
    assert t.last_error.startswith("ConnectorError: jdbc source failed")
    t.start()
    try:
        assert _wait_failures(t, 3) >= 3
    finally:
        t.stop()


def test_mongo_cdc_tailer_counts_poll_failures(spark):
    """Same for the mongodb tailer, against a port nothing listens on."""
    import socket

    from hstream_spark.sources.connectors import MongoCdcTailer

    with socket.create_server(("127.0.0.1", 0)) as srv:
        port = srv.getsockname()[1]
    t = MongoCdcTailer(
        spark,
        {"uri": f"mongodb://127.0.0.1:{port}", "database": "d",
         "collection": "c", "timeout": 2},
        emit=lambda df: None,
        watermark_col="k",
        poll_interval=0.05,
    )
    with pytest.raises(ConnectorError):
        t.poll()
    assert t.poll_failures == 1
    assert t.last_error.startswith("ConnectorError: ")
    t.start()
    try:
        assert _wait_failures(t, 3) >= 3
    finally:
        t.stop()


def test_cdc_tailer_survives_engine_restart(spark, tmp_path):
    """DDL-log replay re-attaches a watermark connector WITHOUT
    re-snapshotting, resuming from the high-water mark recorded in the
    stream itself — then new database rows keep flowing."""
    url = "jdbc:derby:memory:cdcrst;create=true"

    def _write(rows):
        (spark.createDataFrame(rows, "k long, s string")
            .write.format("jdbc").mode("append")
            .option("url", url).option("dbtable", "rst_tab")
            .option("driver", DERBY_DRIVER).save())

    _write([(1, "a"), (2, "b")])
    root = str(tmp_path / "data")
    eng = HStreamEngine(spark, root)
    eng.execute("CREATE STREAM rstr;")
    eng.execute(
        "CREATE SOURCE CONNECTOR rc FROM rstr WITH (\"type\" = 'jdbc', "
        f"\"url\" = 'jdbc:derby:memory:cdcrst', \"dbtable\" = 'rst_tab', "
        f"\"driver\" = '{DERBY_DRIVER}', \"watermark_column\" = 'k');"
    )
    assert eng.execute("SELECT * FROM rstr;").count() == 2
    eng.shutdown()
    # restart: replay must not duplicate the snapshot, and the rebuilt
    # tailer resumes from k=2
    eng2 = HStreamEngine(spark, root)
    try:
        info = eng2.connectors["rc"]
        assert info.handle is not None and info.handle.last == 2
        assert eng2.execute("SELECT * FROM rstr;").count() == 2
        _write([(3, "c")])
        assert info.handle.poll() == 1
        assert eng2.execute("SELECT * FROM rstr;").count() == 3
    finally:
        eng2.shutdown()


def test_las_sink_errors_clearly_at_create(engine):
    engine.execute("CREATE STREAM lsrc (k INTEGER);")
    with pytest.raises(Exception, match="external Volcengine LAS"):
        engine.execute(
            "CREATE SINK CONNECTOR l TO lsrc WITH (\"type\" = 'las');"
        )


def test_source_snapshot_not_duplicated_on_restart(spark, tmp_path):
    """DDL-log replay must NOT re-run a source-connector snapshot (the
    rows already sit in the stream directory) — engine restart keeps
    the row count stable."""
    docs = [{"k": i} for i in range(3)]
    srv = TestMongoWireProtocol._mongod([], serve_docs=docs)
    try:
        port = srv.getsockname()[1]
        root = str(tmp_path / "data")
        eng = HStreamEngine(spark, root)
        eng.execute("CREATE STREAM rsnap;")
        eng.execute(
            "CREATE SOURCE CONNECTOR rs FROM rsnap WITH "
            "(\"type\" = 'mongodb', "
            f"\"uri\" = 'mongodb://127.0.0.1:{port}', "
            "\"database\" = 'd', \"collection\" = 'c');"
        )
        assert eng.execute("SELECT * FROM rsnap;").count() == 3
        eng.shutdown()
        # restart over the same data_root: replay must not re-snapshot
        eng2 = HStreamEngine(spark, root)
        assert eng2.execute("SELECT * FROM rsnap;").count() == 3
        assert "rs" in eng2.connectors
        eng2.shutdown()
    finally:
        srv.close()


def test_bson_wire_document_sequence_section():
    """OP_MSG kind-1 (document sequence) sections — the shape official
    drivers use for bulk inserts — decode alongside the kind-0 body."""
    import struct

    from hstream_spark.sources import bson_wire

    body_doc = bson_wire.encode_document({"insert": "c", "$db": "d"})
    seq_docs = [bson_wire.encode_document({"k": i}) for i in range(3)]
    ident = b"documents\x00"
    seq_payload = b"".join(seq_docs)
    seq_section = (
        b"\x01"
        + struct.pack("<i", 4 + len(ident) + len(seq_payload))
        + ident
        + seq_payload
    )
    body = b"\x00\x00\x00\x00" + b"\x00" + body_doc + seq_section
    frame = struct.pack("<iiii", 16 + len(body), 9, 0, bson_wire.OP_MSG) + body
    out = bson_wire.decode_op_msg(frame)
    assert out["insert"] == "c" and out["$db"] == "d"
    assert out["documents"] == [{"k": 0}, {"k": 1}, {"k": 2}]


def test_kafka_stream_coordinated_group(spark, tmp_path):
    """KAFKA_GROUP_COORDINATED=true: the stream's tailer JOINS the
    consumer group (JoinGroup/SyncGroup) — membership visible, all
    partitions assigned while alone — and ingestion still works;
    TERMINATE leaves the group cleanly."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("coord_t", partitions=2)
        prod = KafkaClient(broker.bootstrap)
        prod.produce("coord_t", [(None, b'{"k": 1}', 0)], partition=0)
        prod.produce("coord_t", [(None, b'{"k": 2}', 0)], partition=1)
        eng = HStreamEngine(spark, str(tmp_path / "data"))
        try:
            eng.execute(
                "CREATE STREAM cst WITH (\"kafka_topic\" = 'coord_t', "
                f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                "\"kafka_group_coordinated\" = 'true', "
                "\"kafka_poll_interval_ms\" = 0);"
            )
            t = eng.connectors["__kafka_cst"].handle
            assert t.coordinated and t.group_id.startswith("hstream-cst-")
            assert t.poll() == 2
            assert t._membership["assignment"]["coord_t"] == [0, 1]
            gs = broker._groups[t.group_id]
            assert t._membership["member_id"] in gs.members
            assert eng.execute("SELECT * FROM cst;").count() == 2
        finally:
            eng.shutdown()
        # shutdown stopped the tailer → LeaveGroup emptied the group
        assert next(iter(broker._groups.values())).members == {}
        prod.close()


@pytest.mark.slow
def test_two_engines_share_topic_via_consumer_group(spark, tmp_path):
    """The headline multi-instance story end to end: TWO engine
    instances declare the same KAFKA_TOPIC stream under one consumer
    group — after the rebalance each instance ingests only its assigned
    partitions, and together they cover every record exactly once."""
    import threading

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("shared_t", partitions=4)
        prod = KafkaClient(broker.bootstrap)
        for p in range(4):
            prod.produce(
                "shared_t",
                [(None, b'{"p": %d, "i": %d}' % (p, i), i) for i in range(3)],
                partition=p,
            )
        prod.close()
        ddl = (
            "CREATE STREAM sh WITH (\"kafka_topic\" = 'shared_t', "
            f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
            "\"kafka_group_id\" = 'shared_g', "
            "\"kafka_group_coordinated\" = 'true', "
            "\"kafka_poll_interval_ms\" = 0);"
        )
        e1 = HStreamEngine(spark, str(tmp_path / "n1"))
        e2 = HStreamEngine(spark, str(tmp_path / "n2"))
        try:
            e1.execute(ddl)
            t1 = e1.connectors["__kafka_sh"].handle
            assert t1.poll() == 12  # alone: everything
            e2.execute(ddl)
            t2 = e2.connectors["__kafka_sh"].handle
            done = threading.Event()
            threading.Thread(
                target=lambda: (t2.poll(), done.set()), daemon=True
            ).start()
            for _ in range(300):
                t1.poll()
                if done.wait(0.02):
                    break
            assert done.is_set()
            p1 = set(t1._membership["assignment"]["shared_t"])
            p2 = set(t2._membership["assignment"]["shared_t"])
            assert p1 | p2 == {0, 1, 2, 3} and not (p1 & p2)
            # fresh records: each ENGINE's stream receives only its share
            prod2 = KafkaClient(broker.bootstrap)
            for p in range(4):
                prod2.produce("shared_t", [(None, b'{"p": %d, "i": 9}' % p, 9)],
                              partition=p)
            prod2.close()
            t1.poll(), t2.poll()
            from pyspark.sql import functions as F

            s1 = e1.execute("SELECT p FROM sh WHERE i = 9;")
            s2 = e2.execute("SELECT p FROM sh WHERE i = 9;")
            pc = {c.lower(): c for c in s1.columns}["p"]
            got1 = {r[pc] for r in s1.collect()}
            got2 = {r[pc] for r in s2.collect()}
            assert got1 == p1 and got2 == p2
        finally:
            e1.shutdown()
            e2.shutdown()


class TestKafkaSASL:
    def test_sasl_stream_ddl_e2e(self, spark, tmp_path):
        """CREATE STREAM WITH (KAFKA_SASL_*) tails an authenticated
        broker; credentials never surface in SHOW CONNECTORS."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("sec_events")
            prod = KafkaClient(
                broker.bootstrap, sasl_mechanism="PLAIN",
                sasl_username="svc", sasl_password="tok",
            )
            prod.produce("sec_events", [(None, b'{"k": 1}', 1000)])
            prod.close()
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM sev WITH (\"kafka_topic\" = 'sec_events', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_sasl_mechanism\" = 'PLAIN', "
                    "\"kafka_sasl_username\" = 'svc', "
                    "\"kafka_sasl_password\" = 'tok', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                tailer = eng.connectors["__kafka_sev"].handle
                assert tailer.poll() == 1
                assert eng.execute("SELECT k FROM sev;").collect()[0]["k"] == 1
                shown = str(eng.connectors["__kafka_sev"].options)
                assert "tok" not in shown and "sasl_password" not in shown
            finally:
                eng.shutdown()

    def test_sasl_stream_ddl_missing_credentials_fails_at_create(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from hstream_spark.plans.compiler import CompileError

        eng = HStreamEngine(spark, str(tmp_path / "data"))
        try:
            with _pytest.raises(CompileError, match="SASL_USERNAME"):
                eng.execute(
                    "CREATE STREAM bad WITH (\"kafka_topic\" = 't', "
                    "\"kafka_bootstrap_servers\" = 'h:9', "
                    "\"kafka_sasl_mechanism\" = 'PLAIN');"
                )
            assert "bad" not in eng.streams  # no orphan registration
        finally:
            eng.shutdown()

    def test_sasl_connector_pause_resume_rebuilds_with_credentials(
        self, spark, tmp_path
    ):
        """PAUSE then RESUME of a SASL-backed kafka connector must
        rebuild the tailer with the FULL credentials even though the
        stored connector options are sanitized (no password)."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("pr_events")
            prod = KafkaClient(
                broker.bootstrap, sasl_mechanism="PLAIN",
                sasl_username="svc", sasl_password="tok",
            )
            prod.produce("pr_events", [(None, b'{"k": 1}', 1000)])
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM prs WITH (\"kafka_topic\" = 'pr_events', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_sasl_mechanism\" = 'PLAIN', "
                    "\"kafka_sasl_username\" = 'svc', "
                    "\"kafka_sasl_password\" = 'tok', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                assert eng.connectors["__kafka_prs"].handle.poll() == 1
                eng.execute("PAUSE CONNECTOR __kafka_prs;")
                prod.produce("pr_events", [(None, b'{"k": 2}', 2000)])
                eng.execute("RESUME CONNECTOR __kafka_prs;")
                tailer = eng.connectors["__kafka_prs"].handle
                assert tailer is not None
                assert tailer.client_options.get("sasl_password") == "tok"
                assert tailer.poll() == 1  # only the new record
                out = eng.execute("SELECT k FROM prs;").collect()
                assert sorted(r["k"] for r in out) == [1, 2]
                # sanitized view still never leaks the credential
                shown = str(eng.connectors["__kafka_prs"].options)
                assert "tok" not in shown
            finally:
                eng.shutdown()
            prod.close()


class TestElasticsearchAuth:
    @staticmethod
    def _auth_server(captured, expect_auth):
        import http.server
        import json as _json
        import threading

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - http.server API
                got = self.headers.get("Authorization")
                n = int(self.headers.get("Content-Length", "0"))
                payload = self.rfile.read(n).decode("utf-8")
                if got != expect_auth:
                    self.send_response(401)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                captured.append((got, payload))
                body = _json.dumps({"errors": False, "items": []}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    def test_basic_auth_accept_and_reject(self, spark):
        import base64

        from hstream_spark.sources.connectors import (
            ConnectorError,
            elasticsearch_sink,
        )

        tok = base64.b64encode(b"elastic:changeme").decode()
        captured: list = []
        srv = self._auth_server(captured, f"Basic {tok}")
        try:
            port = srv.server_address[1]
            df = spark.createDataFrame([(1, "a")], "k long, s string")
            ok = elasticsearch_sink({
                "url": f"http://127.0.0.1:{port}", "index": "ix",
                "username": "elastic", "password": "changeme",
            })
            ok(df, 0)
            assert len(captured) == 1 and '"k":1' in captured[0][1]
            bad = elasticsearch_sink({
                "url": f"http://127.0.0.1:{port}", "index": "ix",
                "username": "elastic", "password": "WRONG",
            })
            import pytest as _pytest

            with _pytest.raises(Exception, match="401.*authentication"):
                bad(df, 0)
        finally:
            srv.shutdown()

    def test_api_key_header_and_option_validation(self, spark):
        from hstream_spark.sources.connectors import (
            ConnectorError,
            elasticsearch_sink,
        )

        captured: list = []
        srv = self._auth_server(captured, "ApiKey abc123")
        try:
            port = srv.server_address[1]
            df = spark.createDataFrame([(2, "b")], "k long, s string")
            elasticsearch_sink({
                "url": f"http://127.0.0.1:{port}", "index": "ix",
                "api_key": "abc123",
            })(df, 0)
            assert captured and captured[0][0] == "ApiKey abc123"
        finally:
            srv.shutdown()
        import pytest as _pytest

        with _pytest.raises(ConnectorError, match="BOTH username and password"):
            elasticsearch_sink({"url": "http://h", "index": "i",
                                "username": "u"})


class TestMongoAuth:
    """SCRAM authentication on the MongoDB wire path: the stub mongod
    requires auth (real deployments default to it), rejecting commands
    before a completed saslStart/saslContinue conversation."""

    @staticmethod
    def _authed_mongod(inserted, users, mechanisms=("SCRAM-SHA-256",),
                       tls_context=None):
        import base64
        import hashlib
        import secrets
        import socket
        import threading

        from hstream_spark.sources import bson_wire
        from hstream_spark.sources import kafka_wire as W

        srv = socket.create_server(("127.0.0.1", 0))
        srv.settimeout(30)

        def handle(conn):
            if tls_context is not None:
                try:
                    conn = tls_context.wrap_socket(conn, server_side=True)
                except OSError:
                    return
            state = {"authed": False, "scram": None}
            with conn:
                while True:
                    try:
                        frame = bson_wire.read_message(conn)
                    except (ConnectionError, OSError):
                        return
                    if frame is None:
                        return
                    cmd = bson_wire.decode_op_msg(frame)
                    reply = dispatch(cmd, state)
                    conn.sendall(bson_wire.encode_op_msg(reply, 1))

        def dispatch(cmd, state):
            if "saslStart" in cmd:
                mech = cmd.get("mechanism")
                if mech not in mechanisms:
                    return {"ok": 0.0, "errmsg": f"mechanism {mech} unsupported"}
                algo = W.SCRAM_ALL_ALGOS[mech]
                text = bytes(cmd["payload"]).decode()
                bare = text[3:]
                attrs = dict(kv.split("=", 1) for kv in bare.split(","))
                user = attrs["n"]
                pw = users.get(user)
                if pw is None:
                    return {"ok": 0.0, "errmsg": f"no such user {user}"}
                if mech == "SCRAM-SHA-1":  # mongo credential derivation
                    pw = hashlib.md5(
                        f"{user}:mongo:{pw}".encode()
                    ).hexdigest()
                salt, iters = secrets.token_bytes(16), 4096
                snonce = attrs["r"] + secrets.token_urlsafe(12)
                server_first = (
                    f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
                )
                state["scram"] = {
                    "bare": bare, "sf": server_first, "snonce": snonce,
                    "salted": W.scram_salted_password(pw, salt, iters, algo),
                    "algo": algo, "user": user,
                }
                return {"ok": 1.0, "conversationId": 7, "done": False,
                        "payload": server_first.encode()}
            if "saslContinue" in cmd:
                st = state.get("scram")
                if st is None:
                    return {"ok": 0.0, "errmsg": "no sasl conversation"}
                text = bytes(cmd["payload"]).decode()
                attrs = dict(kv.split("=", 1) for kv in text.split(","))
                algo = st["algo"]
                if attrs.get("r") != st["snonce"]:
                    return {"ok": 0.0, "errmsg": "nonce mismatch"}
                without_proof = text.rsplit(",p=", 1)[0]
                auth_msg = ",".join(
                    [st["bare"], st["sf"], without_proof]
                ).encode()
                ck = W._scram_hmac(st["salted"], b"Client Key", algo)
                sig = W._scram_hmac(W._scram_h(ck, algo), auth_msg, algo)
                expect = W._xor_bytes(ck, sig)
                if base64.b64decode(attrs["p"]) != expect:
                    return {"ok": 0.0,
                            "errmsg": f"auth failed for {st['user']}"}
                sk = W._scram_hmac(st["salted"], b"Server Key", algo)
                v = base64.b64encode(W._scram_hmac(sk, auth_msg, algo))
                state["authed"] = True
                return {"ok": 1.0, "conversationId": 7, "done": True,
                        "payload": b"v=" + v}
            if not state["authed"]:
                return {"ok": 0.0, "code": 13,
                        "errmsg": "command requires authentication"}
            if "insert" in cmd:
                inserted.append(
                    (cmd["$db"], cmd["insert"], cmd.get("documents", []))
                )
                return {"n": len(cmd.get("documents", [])), "ok": 1.0}
            if "find" in cmd:
                return {"ok": 1.0, "cursor": {"id": bson_wire.Int64(0),
                                              "firstBatch": [{"x": 1}]}}
            return {"ok": 0.0, "errmsg": "unknown command"}

        def serve():
            while True:
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return
                threading.Thread(target=handle, args=(conn,), daemon=True).start()

        threading.Thread(target=serve, daemon=True).start()
        return srv

    def test_scram_sha256_sink_and_source(self, spark):
        from hstream_spark.sources.connectors import mongodb_sink, mongodb_source

        inserted: list = []
        srv = self._authed_mongod(inserted, {"app": "s3cret"})
        try:
            host, port = srv.getsockname()
            df = spark.createDataFrame([(1, "a")], "k long, s string")
            mongodb_sink({
                "host": host, "port": port, "database": "db",
                "collection": "c", "username": "app", "password": "s3cret",
            })(df, 0)
            assert inserted and inserted[0][2][0]["k"] == 1
            out = mongodb_source(spark, {
                "host": host, "port": port, "database": "db",
                "collection": "c", "username": "app", "password": "s3cret",
            })
            assert out.count() == 1
        finally:
            srv.close()

    def test_wrong_password_and_unauthenticated_rejected(self, spark):
        import pytest as _pytest

        from hstream_spark.sources.connectors import mongodb_source

        srv = self._authed_mongod([], {"app": "s3cret"})
        try:
            host, port = srv.getsockname()
            with _pytest.raises(Exception, match="auth.*failed|authentication"):
                mongodb_source(spark, {
                    "host": host, "port": port, "database": "db",
                    "collection": "c", "username": "app", "password": "nope",
                })
            with _pytest.raises(Exception, match="requires authentication"):
                mongodb_source(spark, {
                    "host": host, "port": port, "database": "db",
                    "collection": "c",
                })
        finally:
            srv.close()

    def test_uri_credentials_and_scram_sha1(self, spark):
        from hstream_spark.sources.connectors import mongodb_sink

        inserted: list = []
        srv = self._authed_mongod(
            inserted, {"legacy": "p@ss"}, mechanisms=("SCRAM-SHA-1",)
        )
        try:
            host, port = srv.getsockname()
            df = spark.createDataFrame([(9, "z")], "k long, s string")
            # credentials in the URI userinfo, percent-encoded
            mongodb_sink({
                "uri": f"mongodb://legacy:p%40ss@{host}:{port}",
                "database": "db", "collection": "c",
                "auth_mechanism": "SCRAM-SHA-1",
            })(df, 0)
            assert inserted and inserted[0][2][0]["k"] == 9
        finally:
            srv.close()


class TestKafkaSinkSASL:
    def test_sink_connector_produces_over_sasl(self, engine):
        """CREATE SINK CONNECTOR type=kafka with SASL options drains a
        stream into an authenticated topic — the executor-side producer
        closure carries the credentials."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("sec_sink")
            engine.execute("CREATE STREAM sks (a INTEGER);")
            engine.execute("INSERT INTO sks (a) VALUES (7);")
            info = engine.execute(
                "CREATE SINK CONNECTOR sk TO sks WITH (\"type\" = 'kafka', "
                "\"topic\" = 'sec_sink', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}', "
                "\"sasl_mechanism\" = 'SCRAM-SHA-256', "
                "\"sasl_username\" = 'svc', \"sasl_password\" = 'tok');"
            )
            info.handle.processAllAvailable()
            consumer = KafkaClient(
                broker.bootstrap, sasl_mechanism="PLAIN",
                sasl_username="svc", sasl_password="tok",
            )
            recs, hwm = consumer.fetch_records_multi("sec_sink", {0: 0})[0][:2]
            consumer.close()
            assert hwm == 1
            assert _json.loads(recs[0][2].decode())["a"] == 7


class TestTimeTypeThroughConnectors:
    def test_time_column_ingests_from_kafka_topic(self, spark, tmp_path):
        """from_json has no TimeType support in Spark 4.1 — the typed
        ingestion path parses TIME fields as string and casts after;
        a kafka-backed stream with a TIME column must round-trip."""
        import datetime

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("shift_t")
            prod = KafkaClient(broker.bootstrap)
            prod.produce(
                "shift_t",
                [(None, b'{"worker": 1, "clock_in": "09:15:00"}', 1000)],
            )
            prod.close()
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM tshift (worker INTEGER, clock_in TIME) "
                    "WITH (\"kafka_topic\" = 'shift_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                assert eng.connectors["__kafka_tshift"].handle.poll() == 1
                out = eng.execute(
                    "SELECT worker, clock_in FROM tshift;"
                ).collect()
                assert out[0]["clock_in"] == datetime.time(9, 15)
            finally:
                eng.shutdown()

    def test_time_column_through_kafka_sink(self, engine):
        """to_json cannot serialize TimeType — JSON-encoding sinks cast
        TIME columns to their ISO string form first."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("tsink")
            engine.execute("CREATE STREAM tsrc (w INTEGER, t TIME);")
            engine.execute(
                "INSERT INTO tsrc (w, t) VALUES (1, '08:30:00');"
            )
            info = engine.execute(
                "CREATE SINK CONNECTOR tk TO tsrc WITH (\"type\" = 'kafka', "
                "\"topic\" = 'tsink', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}');"
            )
            info.handle.processAllAvailable()
            c = KafkaClient(broker.bootstrap)
            recs, hwm = c.fetch_records_multi("tsink", {0: 0})[0][:2]
            c.close()
            assert hwm == 1
            doc = _json.loads(recs[0][2].decode())
            assert doc == {"w": 1, "t": "08:30:00"}

    def test_insert_into_sasl_kafka_stream_produces_with_credentials(
        self, spark, tmp_path
    ):
        """INSERT into a SASL kafka-backed stream produces THROUGH the
        authenticated topic (the producer closure carries kc.secrets)."""
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("ins_t")
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM insev (k INTEGER) "
                    "WITH (\"kafka_topic\" = 'ins_t', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_sasl_mechanism\" = 'PLAIN', "
                    "\"kafka_sasl_username\" = 'svc', "
                    "\"kafka_sasl_password\" = 'tok', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                eng.execute("INSERT INTO insev (k) VALUES (42);")
                # the record went through the topic and came back
                assert eng.execute("SELECT k FROM insev;").collect()[0]["k"] == 42
                ext = KafkaClient(
                    broker.bootstrap, sasl_mechanism="PLAIN",
                    sasl_username="svc", sasl_password="tok",
                )
                recs, hwm = ext.fetch_records_multi("ins_t", {0: 0})[0][:2]
                ext.close()
                assert hwm == 1  # externally visible in the topic
            finally:
                eng.shutdown()

    def test_malformed_time_record_degrades_to_null(self, spark, tmp_path):
        """One poisoned record ('not-a-time') must null the
        field and keep the stream ingesting — not ANSI-throw and wedge
        the poll loop on the same record forever."""
        import datetime

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        with KafkaStubBroker() as broker:
            broker.create_topic("badt")
            prod = KafkaClient(broker.bootstrap)
            prod.produce("badt", [
                (None, b'{"worker": 1, "clock_in": "not-a-time"}', 1),
                (None, b'{"worker": 2, "clock_in": "10:00:00"}', 2),
            ])
            prod.close()
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute(
                    "CREATE STREAM badshift (worker INTEGER, clock_in TIME) "
                    "WITH (\"kafka_topic\" = 'badt', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                assert eng.connectors["__kafka_badshift"].handle.poll() == 2
                rows = {r["worker"]: r["clock_in"] for r in eng.execute(
                    "SELECT worker, clock_in FROM badshift;"
                ).collect()}
                assert rows[1] is None
                assert rows[2] == datetime.time(10, 0)
            finally:
                eng.shutdown()

    def test_sasl_mechanism_typo_fails_at_create(self, spark, tmp_path):
        import pytest as _pytest

        from hstream_spark.plans.compiler import CompileError

        eng = HStreamEngine(spark, str(tmp_path / "data"))
        try:
            with _pytest.raises(CompileError, match="SCRAM_SHA_256.*not supported"):
                eng.execute(
                    "CREATE STREAM b2 WITH (\"kafka_topic\" = 't', "
                    "\"kafka_bootstrap_servers\" = 'h:9', "
                    "\"kafka_sasl_mechanism\" = 'SCRAM_SHA_256', "
                    "\"kafka_sasl_username\" = 'u', "
                    "\"kafka_sasl_password\" = 'p');"
                )
            assert "b2" not in eng.streams
        finally:
            eng.shutdown()

    def test_time_column_into_payload_stream(self, spark, tmp_path):
        """INSERT INTO <payload stream> SELECT from a TIME-columned
        stream: the engine-side to_json encode must stringify TIME."""
        eng = HStreamEngine(spark, str(tmp_path / "data"))
        try:
            eng.execute("CREATE STREAM tsrc2 (w INTEGER, t TIME);")
            eng.execute("INSERT INTO tsrc2 (w, t) VALUES (3, '11:30:00');")
            eng.execute("CREATE STREAM payl;")  # schemaless: payload mode
            eng.execute("INSERT INTO payl VALUES '{\"seed\": 1}';")
            q = eng.execute("INSERT INTO payl SELECT w, t FROM tsrc2;")
            q.handle.processAllAvailable()
            out = eng.execute("SELECT w, t FROM payl;").collect()
            vals = [(r["w"], r["t"]) for r in out if r["w"] is not None]
            assert vals == [(3, "11:30:00")]
        finally:
            eng.shutdown()

    def test_mongo_source_connector_ddl_with_credentials(self, spark, tmp_path):
        """CREATE SOURCE CONNECTOR type=mongodb with username/password
        snapshots an auth-required mongod into the stream."""
        srv = TestMongoAuth._authed_mongod([], {"svc": "pw"})
        try:
            host, port = srv.getsockname()
            eng = HStreamEngine(spark, str(tmp_path / "data"))
            try:
                eng.execute("CREATE STREAM msnap;")
                eng.execute(
                    "CREATE SOURCE CONNECTOR ms2 FROM msnap WITH "
                    "(\"type\" = 'mongodb', "
                    f"\"host\" = '{host}', \"port\" = {port}, "
                    "\"database\" = 'db', \"collection\" = 'c', "
                    "\"username\" = 'svc', \"password\" = 'pw');"
                )
                out = eng.execute("SELECT x FROM msnap;").collect()
                assert [r["x"] for r in out] == [1]
            finally:
                eng.shutdown()
        finally:
            srv.close()

    def test_mongo_tls_scram_round_trip(self, spark):
        """TLS + SCRAM — the Atlas-default posture — over the wire
        sink/source, verified against the self-signed CA; a plaintext
        client against the TLS listener fails loudly."""
        import pytest as _pytest

        from tests.test_kafka_wire import _self_signed_tls

        tls = _self_signed_tls()
        if tls is None:
            _pytest.skip("cryptography lib unavailable")
        server_ctx, cafile = tls
        from hstream_spark.sources.connectors import (
            ConnectorError,
            mongodb_sink,
            mongodb_source,
        )

        inserted: list = []
        srv = TestMongoAuth._authed_mongod(
            inserted, {"svc": "pw"}, tls_context=server_ctx
        )
        try:
            host, port = srv.getsockname()
            base = {
                "host": host, "port": port, "database": "db",
                "collection": "c", "username": "svc", "password": "pw",
                "tls": "true", "tls_cafile": cafile,
            }
            df = spark.createDataFrame([(5, "e")], "k long, s string")
            mongodb_sink(base)(df, 0)
            assert inserted and inserted[0][2][0]["k"] == 5
            assert mongodb_source(spark, base).count() == 1
            # plaintext client against the TLS listener: loud failure
            with _pytest.raises(Exception):
                mongodb_source(spark, {
                    "host": host, "port": port, "database": "db",
                    "collection": "c", "username": "svc", "password": "pw",
                })
        finally:
            srv.close()


class TestSecretIndirection:
    """${ENV:VAR} credential indirection: the DDL log stores the
    reference, never the plaintext secret; execute-time (and recovery
    replay) resolve from the process environment."""

    def test_resolve_secret_refs_unit(self, monkeypatch):
        from hstream_spark.sources.connectors import resolve_secret_refs

        monkeypatch.setenv("HS_T_SECRET", "s3cr3t")
        out = resolve_secret_refs({
            "a": "${ENV:HS_T_SECRET}",
            "b": "plain",
            "c": 5,
            "d": "$HOME and ${ENV:HS_T_SECRET} embedded",  # whole-value only
            "e": "${env:HS_T_SECRET}",
        })
        assert out["a"] == "s3cr3t" and out["e"] == "s3cr3t"
        assert out["b"] == "plain" and out["c"] == 5
        assert out["d"] == "$HOME and ${ENV:HS_T_SECRET} embedded"
        with pytest.raises(ConnectorError, match="HS_T_MISSING"):
            resolve_secret_refs({"pw": "${ENV:HS_T_MISSING}"})

    def test_env_indirected_kafka_stream_recovers_without_plaintext(
        self, spark, tmp_path, monkeypatch
    ):
        """e2e: authenticated broker + ${ENV:...} password; the tailer
        authenticates, the DDL log contains the reference but not the
        secret, and a NEW engine over the same data_root recovers the
        connector and keeps tailing."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        monkeypatch.setenv("HS_T_KPASS", "tok")
        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("env_events")
            prod = KafkaClient(
                broker.bootstrap, sasl_mechanism="PLAIN",
                sasl_username="svc", sasl_password="tok",
            )
            prod.produce("env_events", [(None, b'{"k": 1}', 1000)])
            root = str(tmp_path / "data")
            eng = HStreamEngine(spark, root)
            try:
                eng.execute(
                    "CREATE STREAM esec WITH (\"kafka_topic\" = 'env_events', "
                    f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                    "\"kafka_sasl_mechanism\" = 'PLAIN', "
                    "\"kafka_sasl_username\" = 'svc', "
                    "\"kafka_sasl_password\" = '${ENV:HS_T_KPASS}', "
                    "\"kafka_poll_interval_ms\" = 0);"
                )
                tailer = eng.connectors["__kafka_esec"].handle
                # resolution happened in-memory only
                assert tailer.client_options.get("sasl_password") == "tok"
                assert tailer.poll() == 1
                assert eng.execute("SELECT k FROM esec;").collect()[0]["k"] == 1
            finally:
                eng.shutdown()
            # the durable DDL log holds the reference, not the secret
            with open(f"{root}/_ddl_log.jsonl") as fh:
                log = fh.read()
            assert "${ENV:HS_T_KPASS}" in log and "'tok'" not in log
            for line in log.splitlines():
                assert "tok" not in _json.dumps(_json.loads(line)["sql"])

            prod.produce("env_events", [(None, b'{"k": 2}', 2000)])
            prod.close()
            eng2 = HStreamEngine(spark, root)  # recover=True default
            try:
                tailer2 = eng2.connectors["__kafka_esec"].handle
                assert tailer2.client_options.get("sasl_password") == "tok"
                assert tailer2.poll() == 1  # resumes after the sidecar offset
                out = eng2.execute("SELECT k FROM esec;").collect()
                assert sorted(r["k"] for r in out) == [1, 2]
            finally:
                eng2.shutdown()

    def test_env_indirected_sink_connector(self, engine, monkeypatch):
        """CREATE SINK CONNECTOR resolves ${ENV:...} for the producer
        closure; stored connector options keep the reference."""
        import json as _json

        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        monkeypatch.setenv("HS_T_SINKPASS", "tok")
        with KafkaStubBroker(sasl_users={"svc": "tok"}) as broker:
            broker.create_topic("env_sink")
            engine.execute("CREATE STREAM envs (a INTEGER);")
            engine.execute("INSERT INTO envs (a) VALUES (9);")
            info = engine.execute(
                "CREATE SINK CONNECTOR esk TO envs WITH (\"type\" = 'kafka', "
                "\"topic\" = 'env_sink', "
                f"\"bootstrap_servers\" = '{broker.bootstrap}', "
                "\"sasl_mechanism\" = 'PLAIN', "
                "\"sasl_username\" = 'svc', "
                "\"sasl_password\" = '${ENV:HS_T_SINKPASS}');"
            )
            info.handle.processAllAvailable()
            assert info.options.get("SASL_PASSWORD") == "${ENV:HS_T_SINKPASS}"
            consumer = KafkaClient(
                broker.bootstrap, sasl_mechanism="PLAIN",
                sasl_username="svc", sasl_password="tok",
            )
            recs, hwm = consumer.fetch_records_multi("env_sink", {0: 0})[0][:2]
            consumer.close()
            assert hwm == 1
            assert _json.loads(recs[0][2].decode())["a"] == 9

    def test_unset_env_reference_fails_at_create(self, engine, monkeypatch):
        from hstream_spark.plans.compiler import CompileError

        monkeypatch.delenv("HS_T_NOPE", raising=False)
        with pytest.raises(CompileError, match="HS_T_NOPE"):
            engine.execute(
                "CREATE STREAM nref WITH (\"kafka_topic\" = 't', "
                "\"kafka_bootstrap_servers\" = 'h:9', "
                "\"kafka_sasl_mechanism\" = 'PLAIN', "
                "\"kafka_sasl_username\" = 'svc', "
                "\"kafka_sasl_password\" = '${ENV:HS_T_NOPE}');"
            )
        assert "nref" not in engine.streams  # no orphan registration


class TestMutualTLS:
    """mTLS (client-certificate) auth on the Mongo and ES paths — the
    same TLS_CERTFILE/TLS_KEYFILE surface as the Kafka wire client
    (tests/test_kafka_wire.py::test_mtls_client_certificate_*)."""

    def test_mongo_mtls_accept_and_reject(self, spark):
        import ssl as _ssl

        import pytest as _pytest

        from tests.test_kafka_wire import _self_signed_pair, _self_signed_tls

        tls = _self_signed_tls()
        pair = _self_signed_pair("mongo-client")
        if tls is None or pair is None:
            _pytest.skip("cryptography lib unavailable")
        server_ctx, cafile = tls
        ccert, ckey = pair
        server_ctx.load_verify_locations(ccert)
        server_ctx.verify_mode = _ssl.CERT_REQUIRED
        from hstream_spark.sources.connectors import (
            mongodb_sink,
            mongodb_source,
        )

        inserted: list = []
        srv = TestMongoAuth._authed_mongod(
            inserted, {"svc": "pw"}, tls_context=server_ctx
        )
        try:
            host, port = srv.getsockname()
            base = {
                "host": host, "port": port, "database": "db",
                "collection": "c", "username": "svc", "password": "pw",
                "tls_cafile": cafile,
                "tls_certfile": ccert, "tls_keyfile": ckey,
            }
            df = spark.createDataFrame([(6, "m")], "k long, s string")
            mongodb_sink(base)(df, 0)
            assert inserted and inserted[0][2][0]["k"] == 6
            assert mongodb_source(spark, base).count() == 1
            # trusted CA but NO client certificate: handshake aborted
            nocert = {k: v for k, v in base.items()
                      if k not in ("tls_certfile", "tls_keyfile")}
            nocert["tls"] = "true"
            with _pytest.raises(Exception):
                mongodb_source(spark, nocert)
        finally:
            srv.close()

    def test_elasticsearch_mtls_accept_and_reject(self, spark):
        import base64
        import ssl as _ssl

        import pytest as _pytest

        from tests.test_kafka_wire import _self_signed_pair, _self_signed_tls

        tls = _self_signed_tls()
        pair = _self_signed_pair("es-client")
        if tls is None or pair is None:
            _pytest.skip("cryptography lib unavailable")
        server_ctx, cafile = tls
        ccert, ckey = pair
        server_ctx.load_verify_locations(ccert)
        server_ctx.verify_mode = _ssl.CERT_REQUIRED
        from hstream_spark.sources.connectors import (
            ConnectorError,
            elasticsearch_sink,
        )

        tok = base64.b64encode(b"elastic:pw").decode()
        captured: list = []
        srv = TestElasticsearchAuth._auth_server(captured, f"Basic {tok}")
        srv.socket = server_ctx.wrap_socket(srv.socket, server_side=True)
        try:
            port = srv.server_address[1]
            df = spark.createDataFrame([(3, "c")], "k long, s string")
            base = {
                "url": f"https://127.0.0.1:{port}", "index": "ix",
                "username": "elastic", "password": "pw",
                "tls_cafile": cafile,
                "tls_certfile": ccert, "tls_keyfile": ckey,
            }
            elasticsearch_sink(base)(df, 0)
            assert captured and '"k":3' in captured[0][1]
            nocert = {k: v for k, v in base.items()
                      if k not in ("tls_certfile", "tls_keyfile")}
            # the executor-side ConnectorError surfaces wrapped in the
            # Py4J job failure at the driver
            with _pytest.raises(Exception, match="elasticsearch bulk POST"):
                elasticsearch_sink(nocert)(df, 0)
            with _pytest.raises(ConnectorError, match="TLS_CERTFILE"):
                elasticsearch_sink({
                    "url": "https://h", "index": "i", "api_key": "k",
                    "tls_keyfile": ckey,
                })
        finally:
            srv.shutdown()


class TestClientCertOptionParity:
    """Round-7 review fix: all three wire clients enforce the SAME
    client-certificate option rules — keyfile-without-certfile is a
    config error (Mongo used to silently drop the keyfile and connect
    WITHOUT a client cert), and missing files fail at DDL/validation
    time, not on the first poll."""

    def test_mongo_keyfile_without_certfile_rejected(self):
        from hstream_spark.sources.connectors import (
            ConnectorError,
            _mongo_connect,
        )

        with pytest.raises(ConnectorError, match="TLS_CERTFILE"):
            _mongo_connect("127.0.0.1", 1, 0.2, {"tls_keyfile": "/k.pem"})

    def test_mongo_missing_certfile_rejected_before_connect(self):
        from hstream_spark.sources.connectors import (
            ConnectorError,
            _mongo_connect,
        )

        # port 1 would refuse instantly — the option error must win,
        # proving validation happens BEFORE the socket opens
        with pytest.raises(ConnectorError, match="does not exist"):
            _mongo_connect(
                "127.0.0.1", 1, 0.2,
                {"tls_certfile": "/nonexistent-cert.pem"},
            )

    def test_es_missing_certfile_rejected_at_ddl(self):
        from hstream_spark.sources.connectors import (
            ConnectorError,
            elasticsearch_sink,
        )

        with pytest.raises(ConnectorError, match="does not exist"):
            elasticsearch_sink({
                "url": "https://h", "index": "i", "api_key": "k",
                "tls_certfile": "/nonexistent-cert.pem",
            })


class TestConnectorLifecycleRecovery:
    """DROP CONNECTOR cleanup + replay deferral + replay quarantine —
    the three hazards of eager connector starts during DDL-log replay
    (mirrors the reference's connector lifecycle in
    hstream-io/HStream/IO/Worker.hs: stop deletes the task and its
    state; recovery only resumes tasks still marked running)."""

    def test_drop_sink_connector_stops_handle_and_checkpoint(self, engine):
        import os

        engine.execute("CREATE STREAM dsrc (a INTEGER);")
        engine.execute("INSERT INTO dsrc (a) VALUES (1);")
        info = engine.execute(
            "CREATE SINK CONNECTOR dbh TO dsrc WITH (\"type\" = 'blackhole');"
        )
        info.handle.processAllAvailable()
        ckpt = engine._checkpoint("conn_dbh")
        assert os.path.isdir(ckpt)
        handle = info.handle
        engine.execute("DROP CONNECTOR dbh;")
        assert "dbh" not in engine.connectors
        assert not handle.isActive  # live query stopped, not orphaned
        assert not os.path.exists(ckpt)  # checkpoint taken with it

    def test_replay_never_starts_dropped_sink_connector(self, spark, tmp_path):
        import os

        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "data")
        eng = HStreamEngine(spark, root)
        eng.execute("CREATE STREAM rsrc (a INTEGER);")
        eng.execute("INSERT INTO rsrc (a) VALUES (1);")
        eng.execute(
            "CREATE SINK CONNECTOR rbh TO rsrc WITH (\"type\" = 'blackhole');"
        )
        eng.execute("DROP CONNECTOR rbh;")
        eng.shutdown()

        eng2 = HStreamEngine(spark, root)
        try:
            assert "rbh" not in eng2.connectors
            # the deferred starter never ran: no checkpoint dir was
            # recreated by a transient replay start
            assert not os.path.exists(eng2._checkpoint("conn_rbh"))
            assert eng2.replay_errors == []
        finally:
            eng2.shutdown()

    def test_replay_starts_surviving_sink_connector(self, spark, tmp_path):
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "data")
        eng = HStreamEngine(spark, root)
        eng.execute("CREATE STREAM ssrc (a INTEGER);")
        eng.execute(
            "CREATE SINK CONNECTOR sbh TO ssrc WITH (\"type\" = 'blackhole');"
        )
        eng.shutdown()

        eng2 = HStreamEngine(spark, root)
        try:
            info = eng2.connectors["sbh"]
            assert info.status == "RUNNING"
            assert info.handle is not None and info.handle.isActive
            assert info.starter is None  # consumed, not leaked
        finally:
            eng2.shutdown()

    def test_replay_quarantines_missing_secret(self, spark, tmp_path, monkeypatch):
        """One unset ${ENV:VAR} in a logged CREATE must not keep the
        whole engine from starting: the failing object is quarantined
        in replay_errors and every other object replays normally."""
        from hstream_spark.streaming.runtime import HStreamEngine

        root = str(tmp_path / "data")
        monkeypatch.setenv("HS_RQ_SECRET", "hunter2")
        eng = HStreamEngine(spark, root)
        eng.execute("CREATE STREAM qsrc (a INTEGER);")
        eng.execute(
            "CREATE SINK CONNECTOR qbh TO qsrc WITH (\"type\" = 'blackhole', "
            "\"token\" = '${ENV:HS_RQ_SECRET}');"
        )
        eng.execute("CREATE STREAM qafter (b INTEGER);")
        eng.execute("INSERT INTO qafter (b) VALUES (7);")
        eng.shutdown()

        monkeypatch.delenv("HS_RQ_SECRET")
        eng2 = HStreamEngine(spark, root)
        try:
            # engine started; the broken connector is quarantined …
            assert "qbh" not in eng2.connectors
            assert len(eng2.replay_errors) == 1
            assert "HS_RQ_SECRET" in eng2.replay_errors[0]["error"]
            # … and statements AFTER the failure still replayed
            assert "qafter" in eng2.streams
            rows = eng2.execute("SELECT b FROM qafter;").collect()
            assert [r["b"] for r in rows] == [7]
            # the quarantine is visible through the SQL surface too —
            # an operator doesn't need Python attribute access to learn
            # that one object failed recovery (round-9)
            errs = eng2.execute("SHOW REPLAY ERRORS;").collect()
            assert len(errs) == 1
            assert "qbh" in errs[0]["sql"]
            assert "HS_RQ_SECRET" in errs[0]["error"]
            # a clean engine reports an EMPTY error set, not an error
            assert errs[0].asDict().keys() == {"sql", "error"}
        finally:
            eng2.shutdown()
