"""Source/sink connectors — the hstream-io surface
(conf/hstream.yaml:129-143: mysql/postgresql/sqlserver/mongodb +
generator sources; mysql/postgresql/mongodb/blackhole/elasticsearch/las
sinks) re-expressed as Spark connectors.

The reference runs each connector as a docker container speaking a
side-protocol (hstream-io/HStream/IO/Worker.hs:252-257); here a source
connector is a Spark reader feeding a stream directory and a sink
connector is a ``foreachBatch`` writer draining one — both inherit
Spark's partition parallelism and checkpointed exactly-once.

The JDBC path is integration-tested end to end against embedded Derby
(its driver ships inside Spark) — a real database round trip through
``jdbc_sink``/``jdbc_source``; mysql/postgresql/sqlserver reuse the
same code with their driver jar on the classpath. The elasticsearch
sink speaks the ES HTTP ``_bulk`` protocol directly (stdlib HTTP from
each partition, no jar needed) and is integration-tested against a
live HTTP server. The mongodb sink AND source speak the MongoDB wire
protocol (OP_MSG + BSON, ``sources/bson_wire.py``) directly over a
socket — insert commands per partition for the sink, a find/getMore
cursor snapshot for the source — both integration-tested against a
live in-process wire-protocol server; every connector path now has a
local round-trip proof.
"""

from __future__ import annotations

import json
import logging
import threading
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger("hstream_spark.connectors")

from os.path import exists as _os_path_exists  # noqa: E402
from os import replace as _os_replace  # noqa: E402


class ConnectorError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# CDC (Debezium-style envelopes — the wire shape of the reference's
# mysql/postgresql/sqlserver/mongodb source connector images)
# ---------------------------------------------------------------------------


def cdc_envelope(
    df: DataFrame,
    payload_col: str,
    value_schema: str,
) -> DataFrame:
    """Parse a Debezium-style CDC envelope
    ``{"op": "c|u|d|r", "ts_ms": ..., "before": {...}, "after": {...}}``
    into (op, ts_ms, before, after) columns; before/after become structs
    typed by ``value_schema`` (a DDL string).

    Pure projection (JVM json path expressions): map-only at any scale.
    """
    c = F.col(payload_col)
    out = df.select(
        "*",
        F.get_json_object(c, "$.op").alias("op"),
        F.get_json_object(c, "$.ts_ms").cast("long").alias("ts_ms"),
        F.get_json_object(c, "$.before").alias("before"),
        F.get_json_object(c, "$.after").alias("after"),
    )
    out = out.withColumn("before", F.from_json(F.col("before"), value_schema))
    return out.withColumn("after", F.from_json(F.col("after"), value_schema))


def cdc_apply(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Materialize a changelog into its current table state: the latest
    change per key wins (ordered by ``order_cols``, e.g. ts + lsn), and
    keys whose latest op is a delete ('d') drop out.

    One hash shuffle on the key + per-key top-1 — the standard CDC
    upsert compaction; at scale this runs per micro-batch with MERGE
    semantics into a keyed sink.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.filter(F.col(op_col) != "d")


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def rate_source(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """The 'generator' source connector: synthetic (timestamp, value)
    records at a fixed rate. Maps to the reference's generator image."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
        .select(
            F.col("value").alias("id"),
            F.col("value").cast("double").alias("value"),
            F.col("timestamp").alias("_ts"),
        )
    )


def jdbc_source(spark: SparkSession, options: dict) -> DataFrame:
    """CDC-style snapshot source over JDBC (mysql/postgresql/sqlserver).
    Batch snapshot read; for continuous ingestion pair with
    ``JdbcCdcTailer`` (WATERMARK_COLUMN option) or Kafka+Debezium."""
    try:
        reader = spark.read.format("jdbc")
        for k, v in options.items():
            reader = reader.option(k, str(v))
        return reader.load()
    except Exception as exc:  # noqa: BLE001 - driver jar missing, bad opts
        raise ConnectorError(f"jdbc source failed (driver jar on classpath?): {exc}") from exc


class _Tailer:
    """Background polling lifecycle shared by every ingestion tailer.

    ``poll()`` runs one ``_poll_once()`` and returns the rows it
    appended; a poll that raises is counted in ``poll_failures`` and
    described in ``last_error``. ``start()`` spawns a daemon thread
    that polls every ``poll_interval`` seconds, logging a failed poll
    and retrying next interval; ``stop()`` ends it. The shape matches
    the StreamingQuery handle so engine PAUSE/TERMINATE/shutdown
    manage every tailer uniformly."""

    _name: str  # polling thread and log name

    def __init__(self, poll_interval: float):
        self.poll_interval = float(poll_interval)
        self.poll_failures = 0
        self.last_error: Optional[str] = None
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _poll_once(self) -> int:
        raise NotImplementedError

    def poll(self) -> int:
        try:
            return self._poll_once()
        except Exception as exc:
            self.poll_failures += 1
            self.last_error = f"{type(exc).__name__}: {exc}"
            raise

    def _after_failed_poll(self) -> None:
        """Runs on the background thread after a poll raised."""

    def _loop(self) -> None:
        while not self._stop.wait(self.poll_interval):
            try:
                self.poll()
            except Exception:  # noqa: BLE001 — counted by poll(); retry
                _LOG.exception("%s poll failed; retrying next interval",
                               self._name)
                self._after_failed_poll()

    def start(self) -> "_Tailer":
        if self._thread is None:
            self._thread = threading.Thread(
                target=self._loop, name=self._name, daemon=True
            )
            self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            self._thread = None


class _WatermarkTailer(_Tailer):
    """Watermark-column polling shared by the CDC tailers: each
    ``poll()`` fetches the rows past the high-water mark ``last``,
    emits them and advances ``last``."""

    _row = "row"  # what one source record is called in errors
    _columns = "columns"

    def __init__(
        self,
        spark: SparkSession,
        options: dict,
        emit: Callable[[DataFrame], None],
        watermark_col: str,
        last=None,
        poll_interval: float = 5.0,
    ):
        super().__init__(poll_interval)
        self.spark = spark
        self.options = dict(options)
        self.emit = emit
        self.watermark_col = watermark_col
        self.last = last

    def _fetch(self) -> Optional[DataFrame]:
        """The source rows past ``last`` (all rows while ``last`` is
        None); None when the source reports none."""
        raise NotImplementedError

    def _poll_once(self) -> int:
        inc = self._fetch()
        if inc is None:
            return 0
        if self.watermark_col not in inc.columns:
            raise ConnectorError(
                f"watermark column {self.watermark_col!r} not in source "
                f"{self._columns} {inc.columns}"
            )
        inc = inc.persist()
        try:
            agg = inc.agg(
                F.max(self.watermark_col).alias("mx"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if not agg["n"]:
                return 0
            if agg["mx"] is None:
                # all-NULL watermark: `last` could never advance and every
                # poll would re-emit the whole source — fail loudly instead
                raise ConnectorError(
                    f"watermark column {self.watermark_col!r} is NULL in "
                    f"every fetched {self._row}; incremental tailing needs "
                    "a monotone non-null watermark (use an id or sequence "
                    "column)"
                )
            self.emit(inc)
            self.last = agg["mx"]
            return int(agg["n"])
        finally:
            inc.unpersist()


class JdbcCdcTailer(_WatermarkTailer):
    """Incremental CDC tailing after the JDBC snapshot — the long-running
    ingestion phase of the reference's source connectors
    (hstream-io/HStream/IO/Worker.hs:252-257 keeps a Debezium worker
    alive per connector; here the same loop is watermark-column polling,
    no Debezium deployment needed).

    Each ``poll()`` reads only rows with ``watermark_col`` strictly
    greater than the last seen high-water mark — the predicate is a
    Catalyst filter over the JDBC relation, so Spark pushes it down to
    the source database (``PushedFilters: [GreaterThan(wm, ...)]``) and
    the increment, not the table, crosses the wire.

    Watermark contract: the column must be STRICTLY increasing across
    commits for losslessness — an auto-increment id or a database log
    sequence. A coarse-granularity ``updated_at`` can lose a row that
    commits with a timestamp EQUAL to an already-polled maximum (the
    strictly-greater filter skips it); use an id column, a
    (timestamp, id) compound encoded into one comparable column, or
    sub-microsecond timestamps. Rows whose watermark is NULL ingest
    with the initial snapshot only; an all-NULL watermark column is a
    configuration error and fails loudly (silently re-snapshotting
    every poll is the alternative).
    """

    _name = "jdbc-cdc-tailer"
    _columns = "table columns"

    def _fetch(self) -> DataFrame:
        df = jdbc_source(self.spark, self.options)
        if self.last is None or self.watermark_col not in df.columns:
            return df  # snapshot, or the missing column fails the poll
        return df.filter(F.col(self.watermark_col) > F.lit(self.last))


# ---------------------------------------------------------------------------
# sinks — each returns a foreachBatch(batch_df, epoch_id) callable
# ---------------------------------------------------------------------------

SinkFn = Callable[[DataFrame, int], None]


def blackhole_sink() -> SinkFn:
    """The blackhole sink: execute the plan, discard the rows."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").format("noop").save()

    return write


def jdbc_sink(options: dict) -> SinkFn:
    # the SQL parser uppercases WITH-clause keys; Spark's JDBC option map
    # is case-insensitive, but normalize for our own required-key check
    opts = {str(k).lower(): v for k, v in options.items()}
    opts.pop("type", None)
    url = opts.get("url")
    table = opts.get("dbtable") or opts.pop("table", None)
    if not url or not table:
        raise ConnectorError("jdbc sink requires url and table options")
    opts["dbtable"] = table

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        writer = batch_df.write.format("jdbc").mode("append")
        for k, v in opts.items():
            writer = writer.option(k, str(v))
        try:
            writer.save()
        except Exception as exc:  # noqa: BLE001
            raise ConnectorError(f"jdbc sink failed (driver jar on classpath?): {exc}") from exc

    return write


def _json_safe(df: DataFrame) -> DataFrame:
    """Spark 4.1's ``to_json`` cannot serialize TimeType (runtime
    'Failed to convert value ... to JSON'): cast TIME columns to their
    ISO string form before any sink JSON-encodes rows."""
    from pyspark.sql import types as T

    if not any(isinstance(f.dataType, T.TimeType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            F.col(f.name).cast("string").alias(f.name)
            if isinstance(f.dataType, T.TimeType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _mongo_split_uri(uri: str):
    """urlsplit with scheme normalization (bare ``host:port`` URIs are
    accepted by prefixing ``mongodb://``) — ONE parser for host, port
    and userinfo instead of three hand-rolled split chains."""
    from urllib.parse import urlsplit

    return urlsplit(uri if "://" in uri else f"mongodb://{uri}")


def _mongo_connect(host: str, port: int, timeout: float, opts: dict):
    """Open (and optionally TLS-wrap) the MongoDB wire socket.
    Options: ``tls=true`` (implied by ``mongodb+srv://`` URIs and by
    ``tls_cafile``/``tls_certfile``), ``tls_cafile`` for a private CA,
    ``tls_certfile``/``tls_keyfile`` for mutual TLS (x509 client
    certificate), ``tls_verify=false`` to accept self-signed lab
    endpoints — the same surface the Kafka wire client exposes;
    Atlas-style deployments are TLS+SCRAM by default."""
    import socket as _socket

    from hstream_spark.sources.tls_util import validate_client_cert_opts

    # config errors (keyfile without certfile, missing files) raise
    # BEFORE any socket opens — for the snapshot path that means at the
    # CREATE statement, matching the Kafka client's DDL-time checks
    validate_client_cert_opts(
        opts.get("tls_certfile"), opts.get("tls_keyfile"),
        ConnectorError, "TLS",
    )
    sock = _socket.create_connection((host, port), timeout=timeout)
    uri = str(opts.get("uri") or opts.get("url") or "")
    tls = str(opts.get("tls", "")).lower() in ("true", "1", "yes")
    tls = (
        tls or bool(opts.get("tls_cafile")) or bool(opts.get("tls_certfile"))
        or uri.startswith("mongodb+srv://")
    )
    if not tls:
        return sock
    import ssl as _ssl

    verify = str(opts.get("tls_verify", "true")).lower() not in (
        "false", "0", "no",
    )
    ctx = (
        _ssl.create_default_context(cafile=opts.get("tls_cafile"))
        if verify
        else _ssl._create_unverified_context()
    )
    from hstream_spark.sources.tls_util import load_client_cert

    load_client_cert(
        ctx, opts.get("tls_certfile"), opts.get("tls_keyfile"),
        ConnectorError, "mongodb", sock=sock,
    )
    try:
        return ctx.wrap_socket(
            sock, server_hostname=host if verify else None
        )
    except (OSError, _ssl.SSLError) as exc:
        try:
            sock.close()
        except OSError:
            pass
        raise ConnectorError(f"mongodb TLS handshake failed: {exc}") from exc


def _mongo_endpoint(opts: dict, uri: str) -> tuple[str, int]:
    """(host, port) from explicit options or the URI netloc."""
    host = str(opts.get("host", ""))
    port = int(opts.get("port", 27017) or 27017)
    if uri:
        u = _mongo_split_uri(uri)
        host = u.hostname or host
        if u.port:
            port = u.port
    return host, port


def _mongo_auth_options(opts: dict, uri: str) -> dict:
    """Extract MongoDB credentials from options (``username``/
    ``password``/``auth_source``/``auth_mechanism``) or the URI
    userinfo part (``mongodb://user:pw@host``, percent-decoded).
    Returns {} when unauthenticated; explicit options win over URI."""
    from urllib.parse import unquote

    user = opts.get("username") or opts.get("user")
    pw = opts.get("password")
    if user is None and uri:
        u = _mongo_split_uri(uri)
        if u.username is not None:
            user = unquote(u.username)
            pw = unquote(u.password) if u.password is not None else pw
    if user is None:
        return {}
    if pw is None:
        raise ConnectorError(
            "mongodb auth requires both username and password"
        )
    return {
        "username": str(user),
        "password": str(pw),
        "mechanism": str(
            opts.get("auth_mechanism") or "SCRAM-SHA-256"
        ).upper(),
        "auth_db": str(opts.get("auth_source") or "admin"),
    }


def mongodb_sink(options: dict) -> SinkFn:
    """MongoDB sink speaking the wire protocol (OP_MSG) directly —
    no jar, no external client (``sources/bson_wire.py`` implements the
    BSON/OP_MSG subset from the public specs; the reference's sink is
    the hstream-io sink-mongodb container, conf/hstream.yaml:141).

    Each partition opens one connection and issues batched ``insert``
    commands ``{"insert": coll, "$db": db, "documents": [...]}``,
    checking ``ok``/``writeErrors`` in each reply. Rows JSON-encode
    JVM-side (``to_json``) so only encoded strings cross into Python;
    partitions insert independently, so sink throughput scales with the
    cluster like the official Spark connector's per-task writers.

    Required options: ``uri`` (``mongodb://host:port``) or
    ``host``+``port``, plus ``database`` and ``collection``.
    """
    opts = {str(k).lower(): v for k, v in options.items()}
    uri = str(opts.get("uri") or opts.get("url") or "")
    host, port = _mongo_endpoint(opts, uri)
    database = str(opts.get("database") or opts.get("db") or "")
    collection = str(opts.get("collection") or opts.get("table") or "")
    if not host or not database or not collection:
        raise ConnectorError(
            "mongodb sink requires uri (or host/port), database and collection options"
        )
    insert_batch = int(opts.get("batchsize", 1000) or 1000)
    timeout = float(opts.get("timeout", 30) or 30)
    auth = _mongo_auth_options(opts, uri)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = _json_safe(batch_df)
        docs = batch_df.select(
            F.to_json(F.struct(*batch_df.columns)).alias("doc")
        )

        def insert_partition(rows) -> None:
            import socket as _socket

            from hstream_spark.sources import bson_wire

            sock: Optional[_socket.socket] = None
            req_id = 0
            pending: list = []

            def flush() -> None:
                nonlocal sock, req_id
                if not pending:
                    return
                if sock is None:
                    sock = _mongo_connect(host, port, timeout, opts)
                    if auth:
                        bson_wire.authenticate(
                            sock, auth["username"], auth["password"],
                            mechanism=auth["mechanism"],
                            auth_db=auth["auth_db"],
                        )
                req_id += 1
                reply = bson_wire.send_command(
                    sock,
                    {
                        "insert": collection,
                        "$db": database,
                        "documents": list(pending),
                    },
                    request_id=req_id,
                )
                if reply.get("ok") != 1 and reply.get("ok") != 1.0:
                    raise ConnectorError(f"mongodb insert rejected: {reply}")
                if reply.get("writeErrors"):
                    raise ConnectorError(
                        f"mongodb insert reported writeErrors: {reply['writeErrors']}"
                    )
                pending.clear()

            try:
                for r in rows:
                    pending.append(json.loads(r["doc"]))
                    if len(pending) >= insert_batch:
                        flush()
                flush()
            except (OSError, ConnectionError) as exc:
                raise ConnectorError(
                    f"mongodb sink connection to {host}:{port} failed: {exc}"
                ) from exc
            finally:
                if sock is not None:
                    sock.close()

        docs.foreachPartition(insert_partition)

    return write


def elasticsearch_sink(options: dict) -> SinkFn:
    """Elasticsearch sink speaking the HTTP ``_bulk`` protocol
    directly (the wire shape the reference's es sink container emits).

    Each partition serializes its rows to ndjson (`{"index":{...}}` +
    document lines) and POSTs one bulk request — rows JSON-encode
    JVM-side (``to_json``), only the encoded bytes cross into Python,
    and partitions post independently so sink throughput scales with
    the cluster exactly like es-hadoop's per-task writers. Required
    options: ``url`` (or ``nodes``) and ``index``.

    Authentication (ES 8.x ships with security ON by default):
    ``username``+``password`` → Basic auth, or ``api_key`` →
    ``Authorization: ApiKey``; ``tls_verify=false`` accepts a
    self-signed https endpoint (lab use), ``tls_cafile`` pins a
    private CA.
    """
    opts = {str(k).lower(): v for k, v in options.items()}
    url = str(opts.get("url") or opts.get("nodes") or "").rstrip("/")
    index = str(opts.get("index") or opts.get("resource") or "")
    if not url or not index:
        raise ConnectorError("elasticsearch sink requires url and index options")
    if not url.startswith("http"):
        url = f"http://{url}"
    timeout = float(opts.get("timeout", 30))
    auth_header: Optional[str] = None
    if opts.get("api_key"):
        auth_header = f"ApiKey {opts['api_key']}"
    elif opts.get("username") is not None or opts.get("password") is not None:
        if opts.get("username") is None or opts.get("password") is None:
            raise ConnectorError(
                "elasticsearch auth requires BOTH username and password "
                "(or a single api_key)"
            )
        import base64

        tok = base64.b64encode(
            f"{opts['username']}:{opts['password']}".encode("utf-8")
        ).decode("ascii")
        auth_header = f"Basic {tok}"
    tls_verify = str(opts.get("tls_verify", "true")).lower() not in (
        "false", "0", "no",
    )
    tls_cafile = opts.get("tls_cafile")
    # mTLS client certificate — same option surface as the Kafka/Mongo
    # wire clients; strings only so the closure stays picklable
    tls_certfile = opts.get("tls_certfile")
    tls_keyfile = opts.get("tls_keyfile")
    from hstream_spark.sources.tls_util import validate_client_cert_opts

    # fail the DDL, not the first bulk batch
    validate_client_cert_opts(tls_certfile, tls_keyfile, ConnectorError, "TLS")

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = _json_safe(batch_df)
        bulk_url = f"{url}/_bulk"
        action = json.dumps({"index": {"_index": index}})
        docs = batch_df.select(
            F.to_json(F.struct(*batch_df.columns)).alias("doc")
        )

        def post_partition(rows) -> None:
            import urllib.error
            import urllib.request

            lines = []
            for r in rows:
                lines.append(action)
                lines.append(r["doc"])
            if not lines:
                return
            headers = {"Content-Type": "application/x-ndjson"}
            if auth_header:
                headers["Authorization"] = auth_header
            req = urllib.request.Request(
                bulk_url,
                data=("\n".join(lines) + "\n").encode("utf-8"),
                headers=headers,
                method="POST",
            )
            ctx = None
            if bulk_url.startswith("https"):
                import ssl as _ssl

                ctx = (
                    _ssl.create_default_context(cafile=tls_cafile)
                    if tls_verify
                    else _ssl._create_unverified_context()
                )
                if tls_certfile:
                    from hstream_spark.sources.tls_util import (
                        load_client_cert,
                    )

                    load_client_cert(
                        ctx, tls_certfile, tls_keyfile,
                        ConnectorError, "elasticsearch",
                    )
            try:
                with urllib.request.urlopen(
                    req, timeout=timeout, context=ctx
                ) as resp:
                    body = resp.read()
            except urllib.error.HTTPError as exc:
                detail = ""
                if exc.code in (401, 403):
                    detail = (
                        " (authentication rejected — check username/"
                        "password or api_key options)"
                    )
                raise ConnectorError(
                    f"elasticsearch bulk POST to {bulk_url} failed: "
                    f"HTTP {exc.code}{detail}"
                ) from exc
            except urllib.error.URLError as exc:
                raise ConnectorError(
                    f"elasticsearch bulk POST to {bulk_url} failed: {exc}"
                ) from exc
            except OSError as exc:
                # urlopen wraps connect-time errors in URLError but lets
                # response-READ errors (TLS alerts like mTLS
                # certificate-required, resets) escape raw
                raise ConnectorError(
                    f"elasticsearch bulk POST to {bulk_url} failed: {exc}"
                ) from exc
            try:
                out = json.loads(body)
            except ValueError:
                out = {}
            if out.get("errors"):
                raise ConnectorError(
                    f"elasticsearch bulk response reported item errors: "
                    f"{str(body[:500])}"
                )

        docs.foreachPartition(post_partition)

    return write


_ENV_REF_RE = None  # compiled lazily; module keeps a light import footprint


def resolve_secret_refs(options: dict) -> dict:
    """Resolve ``${ENV:VAR}`` indirection in WITH-option values.

    Connector/stream DDL is persisted verbatim in the engine's
    append-only DDL log and replayed on restart — so a credential
    written literally (``KAFKA_SASL_PASSWORD='hunter2'``) would sit in
    plaintext on disk for the lifetime of the catalog. With indirection
    the statement stores only the *reference*; the secret is read from
    the process environment at execute time, and recovery re-resolves
    (the reference's own connector config takes credentials from task
    config delivered out-of-band — hstream-io/HStream/IO/Types.hs
    TaskConfig — rather than from durable catalog text).

    Only whole values of the exact shape ``${ENV:NAME}`` (``env`` also
    accepted) resolve; anything else passes through untouched, so
    literal ``$`` strings keep working. An unset variable fails the DDL
    loudly at CREATE/recovery time — never at the first poll.
    """
    global _ENV_REF_RE
    if _ENV_REF_RE is None:
        import re

        _ENV_REF_RE = re.compile(r"^\$\{(?:ENV|env):([A-Za-z_][A-Za-z0-9_]*)\}$")
    import os

    out: dict = {}
    for key, value in options.items():
        if isinstance(value, str):
            m = _ENV_REF_RE.match(value)
            if m:
                var = m.group(1)
                if var not in os.environ:
                    raise ConnectorError(
                        f"option {key!r} references ${{ENV:{var}}} but "
                        f"environment variable {var!r} is not set"
                    )
                value = os.environ[var]
        out[key] = value
    return out


def kafka_client_options(options: dict) -> dict:
    """Extract SASL/TLS client options from connector/stream WITH
    options into ``KafkaClient`` kwargs. Accepted (``KAFKA_``-prefixed
    or bare, case-insensitive — callers pass lowercased keys):
    SASL_MECHANISM (PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512),
    SASL_USERNAME, SASL_PASSWORD, TLS (true enables), TLS_CAFILE
    (private-CA bundle; implies TLS), TLS_VERIFY (false disables peer
    verification — test/lab use only). Only plain strings/bools come
    out, so the dict is picklable into executor-side closures."""

    def g(*names):
        for n in names:
            v = options.get(n)
            if v is not None:
                return v
        return None

    out: dict = {}
    mech = g("sasl_mechanism", "kafka_sasl_mechanism")
    if mech:
        from hstream_spark.sources.kafka_wire import SCRAM_HASHES

        mech_up = str(mech).upper()
        allowed = ("PLAIN",) + tuple(SCRAM_HASHES)
        if mech_up not in allowed:
            # fail at CREATE, not at the tailer's first (logged,
            # retried) poll — a typo'd mechanism must be loud
            raise ConnectorError(
                f"KAFKA_SASL_MECHANISM={mech!r} is not supported; "
                f"use one of {', '.join(allowed)}"
            )
        out["sasl_mechanism"] = mech_up
        user = g("sasl_username", "kafka_sasl_username")
        pw = g("sasl_password", "kafka_sasl_password")
        if user is None or pw is None:
            raise ConnectorError(
                f"KAFKA_SASL_MECHANISM={mech} requires "
                "KAFKA_SASL_USERNAME and KAFKA_SASL_PASSWORD"
            )
        out["sasl_username"] = str(user)
        out["sasl_password"] = str(pw)
    cafile = g("tls_cafile", "kafka_tls_cafile")
    if cafile:
        out["tls_cafile"] = str(cafile)
        out["tls"] = True
    certfile = g("tls_certfile", "kafka_tls_certfile")
    keyfile = g("tls_keyfile", "kafka_tls_keyfile")
    # mTLS client certificate — validate at CREATE like the SASL
    # options (shared rules: keyfile requires certfile, files must
    # exist — a missing file must fail the DDL, not the first poll)
    from hstream_spark.sources.tls_util import validate_client_cert_opts

    validate_client_cert_opts(certfile, keyfile, ConnectorError, "KAFKA_TLS")
    if certfile:
        out["tls_certfile"] = str(certfile)
        if keyfile:
            out["tls_keyfile"] = str(keyfile)
        out["tls"] = True
    tls = g("tls", "kafka_tls")
    if tls is not None:
        out["tls"] = str(tls).lower() in ("true", "1", "yes") or tls is True
    verify = g("tls_verify", "kafka_tls_verify")
    if verify is not None and str(verify).lower() in ("false", "0", "no"):
        out["tls_verify"] = False
    return out


def kafka_sink(options: dict) -> SinkFn:
    """Kafka sink over the wire-protocol client (``sources/kafka_wire``)
    — no jar, no broker library.  Rows JSON-encode JVM-side
    (``to_json``) so only encoded strings cross into Python; each Spark
    partition opens ONE connection and produces record batches — sink
    throughput scales with Spark partition count, the same shape as
    the mongodb/ES sinks. The record timestamp carries the row's event
    time when present.  Without a ``key_column`` batches spread
    round-robin across topic partitions; with one, each record's Kafka
    key is that column and its partition is a stable hash of the key —
    per-key ordering for downstream consumers, the Kafka idiom.

    On a cluster with the official ``spark-sql-kafka-0-10`` jar prefer
    ``df.write.format("kafka")`` — this is the jar-free path.
    """
    from hstream_spark.plans.compiler import EVENT_TIME_COL

    opts = {str(k).lower(): v for k, v in options.items()}
    topic = str(opts.get("topic") or opts.get("kafka_topic") or "")
    bootstrap = str(
        opts.get("bootstrap_servers") or opts.get("kafka_bootstrap_servers") or ""
    )
    if not topic or not bootstrap:
        raise ConnectorError(
            "kafka sink requires topic and bootstrap_servers options"
        )
    batch_records = int(opts.get("batch_records", 500) or 500)
    key_column = str(opts.get("key_column") or "") or None
    from hstream_spark.sources.kafka_wire import _CODEC_IDS

    compression = str(opts.get("compression") or "none").lower()
    if compression not in _CODEC_IDS:  # single source of truth
        raise ConnectorError(
            f"kafka sink compression must be one of "
            f"{'/'.join(sorted(_CODEC_IDS))}, got {compression!r}"
        )
    client_opts = kafka_client_options(opts)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = _json_safe(batch_df)
        if key_column is not None and key_column not in batch_df.columns:
            raise ConnectorError(
                f"kafka sink key_column {key_column!r} not in stream "
                f"columns {batch_df.columns}"
            )
        cols = [c for c in batch_df.columns if c != EVENT_TIME_COL]
        ts = (
            F.unix_millis(F.col(EVENT_TIME_COL))
            if EVENT_TIME_COL in batch_df.columns
            else F.unix_millis(F.current_timestamp())
        )
        sel = [F.to_json(F.struct(*cols)).alias("v"), ts.alias("t")]
        if key_column is not None:
            sel.append(F.col(key_column).cast("string").alias("k"))
        enc = batch_df.select(*sel)

        def send(rows) -> None:
            import zlib

            from hstream_spark.sources.kafka_wire import KafkaClient

            client = KafkaClient(bootstrap, **client_opts)
            try:
                parts = sorted(client.partitions(topic)) or [0]
                bufs: dict[int, list] = {}
                pidx = 0
                for row in rows:
                    if key_column is not None and row["k"] is not None:
                        key = row["k"].encode("utf-8")
                        # stable key -> partition hash (per-key ordering)
                        p = parts[zlib.crc32(key) % len(parts)]
                    else:
                        key = None
                        p = parts[pidx % len(parts)]  # round-robin
                        pidx += 1
                    buf = bufs.setdefault(p, [])
                    buf.append((key, row["v"].encode("utf-8"), int(row["t"])))
                    if len(buf) >= batch_records:
                        client.produce(topic, buf, partition=p,
                                       compression=compression)
                        bufs[p] = []
                for p, buf in bufs.items():
                    if buf:
                        client.produce(topic, buf, partition=p,
                                       compression=compression)
            finally:
                client.close()

        enc.foreachPartition(send)

    return write


class KafkaIngestTailer(_Tailer):
    """Continuous Kafka → stream ingestion over the wire-protocol client
    — the engine half of the reference's Kafka-compatible surface
    (/root/reference/hstream-kafka/): a stream declared ``WITH
    (KAFKA_TOPIC = ...)`` tails the topic into its parquet directory.

    ``poll()`` drains every partition from the last committed offset to
    the high watermark and hands decoded records to ``emit`` as
    ``[(record_dict, event_time_seconds)]`` (JSON-object values expand
    to fields; other payloads land under ``"value"``).  Offsets persist
    to a JSON sidecar AFTER each successful append — restart resumes
    from the sidecar (at-least-once across a crash between append and
    commit; within a run, exactly-once).  With ``group_id`` set the
    same offsets ALSO commit to the broker (OffsetCommit v2), so
    progress is visible to standard Kafka tooling
    (``kafka-consumer-groups --describe``) and a restart resumes from
    broker-side committed offsets even without the sidecar
    (cross-engine / cross-host resume); the sidecar stays as the
    fallback when broker commits fail.  ``start()``/``stop()`` match
    the StreamingQuery handle shape so PAUSE/TERMINATE/shutdown manage
    it uniformly.

    ``client_options`` forwards SASL/TLS kwargs to ``KafkaClient``
    (see ``kafka_client_options``) — the SASL_SSL posture managed
    Kafka defaults to. Each drain page fetches ALL lagging partitions
    in one request per broker (``fetch_records_multi``), and the group
    session timeout derives from the poll interval (3×, floor 10 s) so
    slow pollers aren't evicted between polls.

    ``poll_failures`` counts polls that raised (the background loop
    logs them, closes the client and retries next interval),
    ``offset_resets`` counts out-of-range auto-resets (records lost to
    retention), and ``last_error`` describes the latest of either."""

    _name = "kafka-ingest-tailer"

    def __init__(
        self,
        bootstrap: str,
        topic: str,
        emit: Callable[[list], int],
        offsets_path: str,
        poll_interval: float = 2.0,
        max_batch_bytes: int = 4 << 20,
        starting: str = "earliest",
        group_id: Optional[str] = None,
        coordinated: bool = False,
        client_options: Optional[dict] = None,
    ):
        if coordinated and not group_id:
            raise ConnectorError(
                "coordinated tailing requires a consumer group_id"
            )
        self.client_options = dict(client_options or {})
        # the group session must comfortably outlive the poll cadence:
        # heartbeats only flow inside poll(), so a session timeout below
        # the poll interval would expire every member between polls and
        # force a full rebalance per cycle (continuous churn)
        self.session_timeout_ms = max(10000, int(3 * float(poll_interval) * 1000))

        from hstream_spark.sources.kafka_wire import parse_starting_position

        try:
            self._start_point = parse_starting_position(starting)
        except ValueError as exc:
            raise ConnectorError(str(exc)) from exc
        self.bootstrap = bootstrap
        self.topic = topic
        self.emit = emit
        self.offsets_path = offsets_path
        super().__init__(poll_interval)
        self.max_batch_bytes = int(max_batch_bytes)
        self.starting = starting
        self.group_id = group_id
        self.coordinated = coordinated
        self._membership: Optional[dict] = None
        # partitions whose broker-committed offset has been consulted;
        # a rebalance can hand us NEW partitions later, and those must
        # also resume from the group's committed position, not from
        # `starting`
        self._merged_parts: set[int] = set()
        self._broker_commit_backoff = 0
        self._broker_commit_logged = False
        self.offsets: dict[int, int] = {}
        if offsets_path and _os_path_exists(offsets_path):
            try:
                with open(offsets_path) as fh:
                    self.offsets = {int(k): int(v) for k, v in json.load(fh).items()}
            except (OSError, ValueError):
                self.offsets = {}
        self._client = None
        self.offset_resets = 0
        # poll() runs on BOTH the background _loop thread and the
        # engine's synchronous read-your-writes path (INSERT through
        # the topic); without mutual exclusion both can fetch the same
        # page from the same committed offset and double-append before
        # either advances self.offsets. Serialize the whole
        # fetch→emit→commit cycle.
        self._poll_lock = threading.Lock()

    def _get_client(self):
        if self._client is None:
            from hstream_spark.sources.kafka_wire import KafkaClient

            # the socket timeout must OUTLIVE the group session timeout:
            # a real broker holds the JoinGroup barrier until a dead
            # member's session expires, and if the socket read loses
            # that race the dance spins on transport errors
            self._client = KafkaClient(
                self.bootstrap,
                timeout=max(30.0, self.session_timeout_ms / 1000.0 + 15.0),
                **self.client_options,
            )
        return self._client

    @staticmethod
    def _decode(value: Optional[bytes]) -> dict:
        if value is None:
            return {"value": None}
        try:
            obj = json.loads(value.decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            try:
                return {"value": value.decode("utf-8")}
            except UnicodeDecodeError:
                import base64

                return {"value": base64.b64encode(value).decode("ascii")}
        return obj if isinstance(obj, dict) else {"value": obj}

    def _commit(self, partition: Optional[int] = None) -> None:
        if self.offsets_path:
            tmp = self.offsets_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({str(k): v for k, v in self.offsets.items()}, fh)
            _os_replace(tmp, self.offsets_path)
        if not self.group_id:
            return
        if self._broker_commit_backoff > 0:
            # broker commits failing: retry sparsely instead of paying a
            # socket timeout on every page (sidecar stays authoritative)
            self._broker_commit_backoff -= 1
            return
        # commit ONLY the partition just advanced: committing the whole
        # local dict would clobber a partition another group member now
        # owns (after a rebalance) with our stale position
        to_commit = (
            {partition: self.offsets[partition]}
            if partition is not None and partition in self.offsets
            else dict(self.offsets)
        )
        try:
            # group-managed members MUST commit with their generation +
            # member id (real brokers reject generation -1 for a group
            # with active members); standalone tailers use the simple-
            # consumer shape
            m = self._membership if self.coordinated else None
            self._get_client().offset_commit(
                self.group_id, self.topic, to_commit,
                generation=m["generation"] if m else -1,
                member_id=m["member_id"] if m else "",
            )
            self._broker_commit_logged = False
        except Exception:  # noqa: BLE001 — broker w/o offset storage
            self._broker_commit_backoff = 10
            if not self._broker_commit_logged:
                self._broker_commit_logged = True
                _LOG.exception(
                    "broker offset commit failed for group %r; will keep "
                    "retrying sparsely (sidecar remains the durable "
                    "fallback)", self.group_id,
                )

    def poll(self) -> int:
        """Drain all partitions to their high watermarks; returns rows.

        Thread-safe: the background loop and the engine's synchronous
        INSERT-path poll serialize on one lock (exactly-once within a
        run requires the fetch→emit→commit cycle to be atomic across
        callers)."""
        with self._poll_lock:
            return super().poll()

    def _ensure_membership(self, client) -> list[int]:
        """Coordinated mode: keep a live consumer-group membership and
        return THIS member's assigned partitions. One heartbeat per
        poll; a rebalance signal (another tailer joined/left) rejoins
        with the existing member id — the standard consumer loop."""
        mid = ""
        m = self._membership
        if m is not None:
            code = client.heartbeat(
                self.group_id, m["generation"], m["member_id"]
            )
            if code == 0:
                return m["assignment"].get(self.topic, [])
            # 27 rebalance / 22 stale generation: rejoin with our id;
            # 25 unknown member: rejoin fresh
            if code != 25:
                mid = m["member_id"]
        m = client.join_and_sync(
            self.group_id, [self.topic], member_id=mid,
            session_timeout_ms=self.session_timeout_ms,
        )
        self._membership = m
        assigned = m["assignment"].get(self.topic, [])
        # partitions we do NOT own after this rebalance may advance
        # under another member; if a later rebalance hands one back,
        # its broker-committed offset must be consulted again (the
        # max() in the merge keeps whichever position is further)
        self._merged_parts &= set(assigned)
        _LOG.info(
            "kafka group %r generation %s: member %s assigned %s",
            self.group_id, m["generation"], m["member_id"], assigned,
        )
        return assigned

    def _poll_once(self) -> int:
        from hstream_spark.sources.kafka_wire import EARLIEST, LATEST

        client = self._get_client()
        total = 0
        if self.coordinated:
            parts = self._ensure_membership(client)
        else:
            parts = client.partitions(self.topic)
        new_parts = [p for p in parts if p not in self._merged_parts]
        if self.group_id and new_parts:
            # resume merge per NEWLY-SEEN partition (first poll, AND any
            # partition a later rebalance hands us): broker-committed
            # offsets for this group cover what the sidecar doesn't
            # know (fresh host / partitions a departed member owned);
            # where both exist the FURTHER position wins — replaying
            # past either commit point would duplicate rows already
            # appended
            try:
                fetched = client.offset_fetch(
                    self.group_id, self.topic, new_parts
                )
                for p, off in fetched.items():
                    self.offsets[p] = max(off, self.offsets.get(p, off))
                # mark merged ONLY on success: a transient coordinator
                # error must not permanently disable broker-side resume
                # for these partitions (the next poll retries the fetch)
                self._merged_parts.update(new_parts)
            except Exception:  # noqa: BLE001 — broker w/o offset storage
                _LOG.exception(
                    "broker offset fetch failed for group %r; resuming "
                    "from sidecar offsets only for now (will retry the "
                    "fetch next poll)", self.group_id,
                )
        active: dict[int, int] = {}
        for p in parts:
            next_off = self.offsets.get(p)
            if next_off is None:
                # first contact with this partition: 'earliest' replays
                # the topic's history, 'latest' subscribes to new
                # records only (the reference's scan-start semantics),
                # 'timestamp:<ms>' time-travels to the first record
                # at/after that instant (ListOffsets by timestamp);
                # committed offsets override any of them on restart
                ts_point = self._start_point
                next_off = client.list_offsets(self.topic, p, ts_point)
                if next_off < 0:
                    # real brokers answer a timestamp with NO qualifying
                    # record as offset -1 ('not found'); subscribe at
                    # log-end instead of poisoning the committed
                    # position with a negative fetch offset
                    next_off = client.list_offsets(self.topic, p, LATEST)
                if ts_point != EARLIEST:
                    # commit the subscription point so a restart before
                    # any data arrives doesn't re-resolve a NEWER one
                    self.offsets[p] = next_off
                    self._commit(p)
            active[p] = next_off
        # paged drain, ALL partitions batched: one Fetch request per
        # broker per page carries every still-lagging partition that
        # broker leads (the protocol's partition array) — a
        # 32-partition topic drains in 1 round-trip per page, not 32
        resets: dict[int, int] = {}
        while active:
            if self.coordinated and self._membership is not None:
                # heartbeat per fetch page: a long drain must not
                # outlive the session timeout — and once a rebalance is
                # signalled, STOP consuming (these partitions may
                # belong to another member now); everything emitted so
                # far is already committed, the next poll rejoins and
                # resumes cleanly
                code = client.heartbeat(
                    self.group_id,
                    self._membership["generation"],
                    self._membership["member_id"],
                )
                if code != 0:
                    return total
            try:
                results = client.fetch_records_multi(
                    self.topic, active, max_bytes=self.max_batch_bytes
                )
            except Exception as exc:  # noqa: BLE001 — typed check below
                from hstream_spark.sources.kafka_wire import (
                    ERR_OFFSET_OUT_OF_RANGE,
                    KafkaPartitionError,
                )

                if not (
                    isinstance(exc, KafkaPartitionError)
                    and exc.code == ERR_OFFSET_OUT_OF_RANGE
                    and exc.partition in active
                ):
                    raise
                # the committed position aged out of retention (or the
                # topic was recreated): auto offset reset per the
                # starting policy — earliest replays what's left,
                # latest/timestamp subscribe at log end. The skipped
                # range is GONE on the broker; log it loudly so the
                # data loss is visible, then resume.
                p = exc.partition
                resets[p] = resets.get(p, 0) + 1
                if resets[p] > 2:
                    # a reset position that is ITSELF out of range means
                    # a broker bug or a racing truncation storm — fail
                    # the poll instead of spinning
                    raise
                reset_point = (
                    EARLIEST if self._start_point == EARLIEST else LATEST
                )
                new_pos = client.list_offsets(self.topic, p, reset_point)
                self.offset_resets += 1
                self.last_error = (
                    f"offset {active[p]} of {self.topic}[{p}] out of range; "
                    f"reset to {new_pos}"
                )
                _LOG.warning(
                    "kafka offset %s for %s[%s] is out of range "
                    "(retention aged it out); auto-resetting to %s "
                    "offset %s — records in between are gone",
                    active[p], self.topic, p,
                    "earliest" if reset_point == EARLIEST else "latest",
                    new_pos,
                )
                active[p] = new_pos
                self.offsets[p] = new_pos
                self._commit(p)
                continue  # retry the page with the reset position
            any_progress = False
            for p in sorted(active):
                recs, hwm, end_off = results.get(p, ([], None, None))
                next_off = active[p]
                if recs:
                    batch = [
                        (self._decode(value), ts_ms / 1000.0)
                        for (_off, _key, value, ts_ms) in recs
                    ]
                    self.emit(batch)
                    total += len(batch)
                # commit the END of the last complete batch, not
                # last-record+1: control/transaction-marker batches and
                # compaction gaps carry no data records but still
                # advance the log — without this the committed offset
                # stalls behind a trailing marker and every poll
                # refetches it
                new_off = max(
                    end_off or next_off, (recs[-1][0] + 1) if recs else next_off
                )
                if new_off <= next_off:
                    # nothing complete for THIS partition. Its own
                    # response hwm says whether that means caught-up
                    # (hwm reached → drop now, don't refetch an idle
                    # partition on every page) or squeezed out of a
                    # max_bytes-capped response (Fetch v3+: still
                    # lagging → retry next page, when the filled
                    # partitions have drained out of `active`). A
                    # partition absent from the response keeps retrying;
                    # the no-progress-page break below bounds that.
                    if hwm is not None and next_off >= hwm:
                        del active[p]
                    continue
                any_progress = True
                active[p] = new_off
                self.offsets[p] = new_off
                self._commit(p)
                if new_off >= hwm:
                    del active[p]
            if not any_progress:
                break  # every remaining partition is idle/caught up
        return total

    def lag(self) -> dict[int, dict[str, int]]:
        """Per-partition ingestion lag: {partition: {committed,
        high_watermark, lag}} — the consumer-group lag view an operator
        checks when a stream falls behind its topic."""
        from hstream_spark.sources.kafka_wire import EARLIEST, LATEST

        client = self._get_client()
        parts = client.partitions(self.topic)
        # batched probes: one earliest-offset request for the
        # never-committed partitions, one log-end request for all
        unseen = [p for p in parts if p not in self.offsets]
        earliest = (
            client.list_offsets_multi(self.topic, {p: EARLIEST for p in unseen})
            if unseen else {}
        )
        hwms = client.list_offsets_multi(self.topic, {p: LATEST for p in parts})
        out: dict[int, dict[str, int]] = {}
        for p in parts:
            committed = self.offsets.get(p, earliest.get(p, 0))
            hwm = hwms.get(p, 0)
            out[p] = {
                "committed": int(committed),
                "high_watermark": int(hwm),
                "lag": max(0, int(hwm) - int(committed)),
            }
        return out

    def _after_failed_poll(self) -> None:
        # a failed poll may leave the connection mid-response: reconnect
        with self._poll_lock:
            if self._client is not None:
                self._client.close()
                self._client = None

    def stop(self) -> None:
        super().stop()
        with self._poll_lock:
            if self._membership is not None and self._client is not None:
                try:
                    # leaving promptly hands our partitions to the rest
                    # of the group instead of waiting out the session
                    self._client.leave_group(
                        self.group_id, self._membership["member_id"]
                    )
                except Exception:  # noqa: BLE001 — advisory only
                    pass
                self._membership = None
            if self._client is not None:
                self._client.close()
                self._client = None


def las_sink(options: dict) -> SinkFn:
    """The reference's ``las`` sink targets Volcengine LAS — an
    external managed cloud service (conf/hstream.yaml:141). There is
    nothing local to speak to and no public local emulator, so this
    surface entry fails loudly at CREATE instead of pretending: route
    the stream to a jdbc/elasticsearch/parquet sink, or run the
    vendor's connector against a real LAS endpoint."""
    raise ConnectorError(
        "las sink targets the external Volcengine LAS cloud service; "
        "no local integration exists — use jdbc/elasticsearch/parquet "
        "sinks, or the vendor connector against a real LAS endpoint"
    )


SINK_BUILDERS: dict[str, Callable[[dict], SinkFn]] = {
    "blackhole": lambda opts: blackhole_sink(),
    "jdbc": jdbc_sink,  # generic: any JDBC URL + driver on the classpath
    "mysql": jdbc_sink,
    "postgresql": jdbc_sink,
    "sqlserver": jdbc_sink,
    "mongodb": mongodb_sink,
    "elasticsearch": elasticsearch_sink,
    "kafka": kafka_sink,  # wire-protocol producer, no jar needed
    "las": las_sink,  # external cloud service: clear error by design
}


def build_sink(ctype: str, options: dict) -> SinkFn:
    if ctype not in SINK_BUILDERS:
        raise ConnectorError(f"unknown sink connector type {ctype!r}")
    return SINK_BUILDERS[ctype](options)


# Largest snapshot `mongodb_source` reads through its one cursor.
_MONGO_MAX_DOCS = 1_000_000


def mongodb_source(spark: SparkSession, options: dict,
                   filter: Optional[dict] = None,
                   empty_ok: bool = False) -> Optional[DataFrame]:
    """CDC-style snapshot source over the MongoDB wire protocol
    (OP_MSG ``find``/``getMore`` cursor loop, ``sources/bson_wire.py``)
    — the initial-load phase of the reference's source-mongodb
    connector, no jar and no external client.

    The cursor is a single connection, so the snapshot reads through
    the driver (capped at ``_MONGO_MAX_DOCS`` with a loud error — parallel
    partitioned reads are the official connector's splitVector
    territory). ``filter`` is a MongoDB query document passed INSIDE
    the ``find`` command, so the SERVER evaluates it and only matching
    documents cross the wire — the pushdown `MongoCdcTailer` uses for
    watermark increments (``{wm: {"$gt": last}}``). ``empty_ok=True``
    returns ``None`` for an empty result instead of erroring (an idle
    incremental poll is not a configuration mistake). Nested
    documents/arrays-of-documents arrive as JSONB text, matching the
    engine's schemaless value-typed layout.
    """
    import datetime as _dt
    import socket as _socket

    from hstream_spark.sources import bson_wire

    opts = {str(k).lower(): v for k, v in options.items()}
    uri = str(opts.get("uri") or opts.get("url") or "")
    host, port = _mongo_endpoint(opts, uri)
    database = str(opts.get("database") or opts.get("db") or "")
    collection = str(opts.get("collection") or opts.get("table") or "")
    if not host or not database or not collection:
        raise ConnectorError(
            "mongodb source requires uri (or host/port), database and collection options"
        )
    batch_size = int(opts.get("batchsize", 1000) or 1000)
    timeout = float(opts.get("timeout", 30) or 30)
    auth = _mongo_auth_options(opts, uri)

    docs: list[dict] = []
    try:
        with _mongo_connect(host, port, timeout, opts) as sock:
            if auth:
                bson_wire.authenticate(
                    sock, auth["username"], auth["password"],
                    mechanism=auth["mechanism"], auth_db=auth["auth_db"],
                )
            find_cmd = {"find": collection, "$db": database,
                        "batchSize": batch_size}
            if filter is not None:
                find_cmd["filter"] = filter
            reply = bson_wire.send_command(sock, find_cmd)
            if reply.get("ok") not in (1, 1.0):
                # an error reply must not read as an empty collection
                # (e.g. 'command find requires authentication')
                raise ConnectorError(
                    f"mongodb find on {database}.{collection} failed: "
                    f"{reply.get('errmsg') or reply}"
                )
            cursor = reply.get("cursor") or {}
            docs.extend(cursor.get("firstBatch", []))
            cid = int(cursor.get("id", 0))
            req = 1
            while cid:
                if len(docs) > _MONGO_MAX_DOCS:
                    raise ConnectorError(
                        f"mongodb source exceeded _MONGO_MAX_DOCS={_MONGO_MAX_DOCS}; "
                        "the snapshot reads through one cursor connection — "
                        "bound the collection or raise _MONGO_MAX_DOCS deliberately"
                    )
                req += 1
                # cursor id MUST be BSON int64 (0x12): real mongod rejects
                # an int32-encoded getMore with TypeMismatch whenever the
                # server-assigned id happens to fit 32 bits
                reply = bson_wire.send_command(
                    sock,
                    {"getMore": bson_wire.Int64(cid), "$db": database,
                     "collection": collection, "batchSize": batch_size},
                    request_id=req,
                )
                if reply.get("ok") not in (1, 1.0):
                    raise ConnectorError(
                        f"mongodb getMore on {database}.{collection} "
                        f"failed: {reply.get('errmsg') or reply}"
                    )
                cursor = reply.get("cursor") or {}
                docs.extend(cursor.get("nextBatch", []))
                cid = int(cursor.get("id", 0))
    except (OSError, ConnectionError) as exc:
        raise ConnectorError(
            f"mongodb source connection to {host}:{port} failed: {exc}"
        ) from exc

    def _cell(v):
        # keep dicts/lists RAW through type inference (a uniform doc
        # column encodes as JSON at the end; a mixed column must encode
        # every member — including plain strings — as JSON uniformly)
        if isinstance(v, _dt.datetime):
            return v.replace(tzinfo=None)  # session is UTC-pinned
        return v

    if not docs:
        if empty_ok:
            return None
        raise ConnectorError(
            f"mongodb source found no documents in {database}.{collection}"
        )
    keys: list[str] = []
    for d in docs:
        for k in d:
            if k not in keys:
                keys.append(k)

    # Explicit schema instead of Row-inference: a field that is null in
    # every document infers NullType (createDataFrame error), and
    # mixed-type fields break inference — both plausible for real
    # schemaless collections.  Single-typed fields get a native Spark
    # type; all-null or type-conflicting fields demote to JSON text,
    # matching the engine's schemaless demote-to-JSONB rule.
    from pyspark.sql.types import (
        BinaryType, BooleanType, DoubleType, LongType, StringType,
        StructField, StructType, TimestampNTZType,
    )

    _SPARK_T = {
        bool: BooleanType(), int: LongType(), float: DoubleType(),
        str: StringType(), bytes: BinaryType(),
        _dt.datetime: TimestampNTZType(),
    }
    cells = [{k: _cell(d.get(k)) for k in keys} for d in docs]
    fields, jsonb, demoted, widened = [], set(), set(), set()
    for k in keys:
        types = {type(c[k]) for c in cells if c[k] is not None}
        if types == {int, float}:
            types = {float}  # numeric widening, same as JSON readers
            widened.add(k)
        if len(types) == 1 and next(iter(types)) in _SPARK_T:
            fields.append(StructField(k, _SPARK_T[next(iter(types))], True))
        elif types <= {dict, list}:
            # uniform document/array column: JSONB text, values encode
            # directly (a JSON parse of the column round-trips)
            jsonb.add(k)
            fields.append(StructField(k, StringType(), True))
        else:  # all-null or cross-type conflict -> JSONB text, where
            # EVERY member (plain strings included) encodes as JSON so
            # the column parses uniformly — '"abc"' and '5', never a
            # raw 'abc' next to JSON-encoded numbers
            demoted.add(k)
            fields.append(StructField(k, StringType(), True))

    def _final(k, v):
        if v is None:
            return None
        if k in demoted or k in jsonb:
            return json.dumps(v, default=str)
        if k in widened and isinstance(v, int):
            return float(v)
        return v

    rows = [tuple(_final(k, c[k]) for k in keys) for c in cells]
    return spark.createDataFrame(rows, StructType(fields))


class MongoCdcTailer(_WatermarkTailer):
    """Incremental tailing for the mongodb source — completes the
    source-connector matrix: every source now has BOTH a snapshot and
    a continuous phase. Same watermark contract as `JdbcCdcTailer`
    (strictly-increasing column; NULL-watermark rows ingest with the
    snapshot only), but the increment predicate pushes down as a
    MongoDB query document INSIDE the ``find`` command
    (``{wm: {"$gt": last}}``) — the SERVER filters, only new documents
    cross the wire. The first ``poll()`` with ``last=None`` IS the
    snapshot."""

    _name = "mongo-cdc-tailer"
    _row = "document"
    _columns = "document fields"

    def _fetch(self) -> Optional[DataFrame]:
        flt = (
            None
            if self.last is None
            else {self.watermark_col: {"$gt": self.last}}
        )
        # None on an idle poll: nothing new server-side
        return mongodb_source(self.spark, self.options, filter=flt,
                              empty_ok=True)
