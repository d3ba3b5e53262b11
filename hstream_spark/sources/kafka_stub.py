"""Embedded single-process Kafka stub broker — the integration-test
substrate for ``kafka_wire`` (the way tests/test_connectors.py runs a
live MongoDB wire server for the BSON client). Speaks the same public
protocol subset the client implements: ApiVersions v0, Metadata v1,
ListOffsets v1, Produce v3, Fetch v4, record batches v2 (CRC-verified
on append). In-memory single-broker topology; topics auto-create on
first produce (1 partition) or can be pre-created with N partitions.

NOT a broker for production — it exists so a CREATE STREAM .. WITH
(KAFKA_TOPIC=..) round-trip can be proven live in CI with zero
external dependencies.
"""

from __future__ import annotations

import socket
import struct
import threading
from typing import Optional

from hstream_spark.sources import kafka_wire as W


class _PartitionLog:
    """Append-only in-memory log of re-based record batches."""

    __slots__ = ("batches", "next_offset", "log_start")

    def __init__(self):
        self.batches: list[tuple[int, int, bytes]] = []  # (base, last, raw)
        self.next_offset = 0
        self.log_start = 0  # first retained offset (advances on truncation)


    def append(self, record_set: bytes) -> int:
        records = W.decode_record_batches(record_set)  # validates CRC (+codec)
        if not records:
            raise W.KafkaWireError("empty record set")
        first_base = self.next_offset
        # Rebase IN PLACE like a real broker: baseOffset sits OUTSIDE
        # the CRC range precisely so brokers can rewrite it on append
        # without re-signing — this preserves the producer's original
        # bytes (compression included), so Fetch serves back exactly
        # what was produced and consumers exercise their decode path.
        buf = bytearray(record_set)
        pos = 0
        base = first_base
        while pos + 12 <= len(buf):
            batch_len = struct.unpack(">i", buf[pos + 8:pos + 12])[0]
            # header layout: prefix(12) leaderEpoch(4) magic(1) crc(4)
            # attributes(2) lastOffsetDelta(4)
            lod = struct.unpack(">i", buf[pos + 23:pos + 27])[0]
            buf[pos:pos + 8] = struct.pack(">q", base)
            raw = bytes(buf[pos:pos + 12 + batch_len])
            last = base + lod
            self.batches.append((base, last, raw))
            base = last + 1
            pos += 12 + batch_len
        self.next_offset = base
        return first_base

    def offset_for_timestamp(self, ts_ms: int) -> int:
        """First offset whose record timestamp >= ts_ms (ListOffsets
        with a real timestamp); -1 when nothing qualifies — the real
        broker's 'not found' answer (offsetsForTimes), which consumers
        must handle rather than fetch at a negative offset."""
        for base, _last, raw in self.batches:
            for off, _k, _v, rts in W.decode_record_batches(raw):
                if rts >= ts_ms:
                    return off
        return -1

    def read_from(self, offset: int, max_bytes: int) -> bytes:
        out = bytearray()
        for base, last, raw in self.batches:
            if last < offset:
                continue
            if out and len(out) + len(raw) > max_bytes:
                break
            out += raw
        return bytes(out)


class _GroupState:
    """Consumer-group membership state machine (single-broker):
    JoinGroup collects members behind a rebalance barrier (completes
    when every member of the PREVIOUS generation has rejoined, or the
    rebalance timeout passes), bumps the generation ONCE for the whole
    cohort, elects the lowest member id leader; SyncGroup blocks
    followers until the leader's assignments land; Heartbeat signals
    REBALANCE_IN_PROGRESS so live members rejoin. The real broker's
    GroupCoordinator semantics at the fidelity the client dance needs
    — no persistence, no static membership, no incremental rebalance."""

    def __init__(self, rebalance_timeout: float):
        self.cond = threading.Condition()
        self.rebalance_timeout = rebalance_timeout
        self.generation = 0
        self.members: dict[str, bytes] = {}   # stable membership
        self.leader = ""
        self.assignments: dict[str, bytes] = {}
        self.assign_generation = -1
        self.state = "Empty"  # Empty | PreparingRebalance | Stable
        self.pending: dict[str, bytes] = {}
        self.deadline = 0.0
        self._counter = 0

    def join(self, member_id: str, metadata: bytes) -> tuple[int, str, str, dict[str, bytes]]:
        """Blocks until the rebalance completes; returns
        (generation, member_id, leader, members-of-generation)."""
        import time as _time

        with self.cond:
            if not member_id:
                self._counter += 1
                member_id = f"member-{self._counter}"
            if self.state != "PreparingRebalance":
                self.state = "PreparingRebalance"
                self.pending = {}
                self.deadline = _time.monotonic() + self.rebalance_timeout
                self.cond.notify_all()
            self.pending[member_id] = metadata
            target_gen = self.generation + 1
            # complete when every PREVIOUS member rejoined or timeout
            while self.generation < target_gen:
                # a concurrent leave() may have re-armed the barrier;
                # re-assert our own membership in the joining cohort so
                # the generation we complete can never be empty
                self.pending[member_id] = metadata
                if set(self.members) <= set(self.pending) or (
                    _time.monotonic() >= self.deadline
                ):
                    # this caller completes the rebalance for everyone
                    self.members = dict(self.pending)
                    self.generation = target_gen
                    self.leader = min(self.members)
                    self.assignments = {}
                    self.assign_generation = -1
                    self.state = "Stable"
                    self.cond.notify_all()
                    break
                self.cond.wait(timeout=0.05)
            return self.generation, member_id, self.leader, dict(self.members)

    def sync(self, generation: int, member_id: str,
             assignments: dict[str, bytes]) -> tuple[int, bytes]:
        import time as _time

        with self.cond:
            if member_id not in self.members:
                return 25, b""  # UNKNOWN_MEMBER_ID
            if generation != self.generation:
                return 22, b""  # ILLEGAL_GENERATION
            if member_id == self.leader and assignments:
                self.assignments = dict(assignments)
                self.assign_generation = generation
                self.cond.notify_all()
            deadline = _time.monotonic() + self.rebalance_timeout
            while (
                self.assign_generation != generation
                and self.generation == generation
                and _time.monotonic() < deadline
            ):
                self.cond.wait(timeout=0.05)
            if self.generation != generation:
                return 27, b""  # REBALANCE_IN_PROGRESS
            if self.assign_generation != generation:
                return 27, b""  # leader never synced in time
            return 0, self.assignments.get(member_id, b"")

    def beat(self, generation: int, member_id: str) -> int:
        with self.cond:
            if member_id not in self.members and member_id not in self.pending:
                return 25
            if self.state == "PreparingRebalance":
                return 27
            if generation != self.generation:
                return 22
            return 0

    def leave(self, member_id: str) -> None:
        import time as _time

        with self.cond:
            self.members.pop(member_id, None)
            self.pending.pop(member_id, None)
            if self.members or self.pending:
                # survivors rejoin via heartbeat signal. Members already
                # blocked in the join barrier STAY in `pending` — wiping
                # it would drop concurrent joiners from the cohort, and
                # a lone waiter could then complete an EMPTY generation
                # after the deadline (observed as min() on no members
                # killing the connection thread under churn)
                self.state = "PreparingRebalance"
                self.deadline = _time.monotonic() + self.rebalance_timeout
            else:
                self.state = "Empty"
            self.cond.notify_all()


class KafkaStubBroker:
    """``with KafkaStubBroker() as b: client = KafkaClient(b.bootstrap)``"""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 sasl_users: Optional[dict[str, str]] = None,
                 sasl_mechanisms: tuple = (
                     "PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"
                 ),
                 tls_context=None):
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._sock.listen(16)
        self.host, self.port = self._sock.getsockname()
        self.bootstrap = f"{self.host}:{self.port}"
        # SASL listener: with users configured, every connection must
        # complete SaslHandshake+SaslAuthenticate before any other API
        # (real SASL listeners disconnect unauthenticated requests)
        self._sasl_users = sasl_users
        self._sasl_mechanisms = tuple(sasl_mechanisms)
        self._tls_context = tls_context
        # test instrumentation: partitions carried by each Fetch
        # request, and the session timeout of the latest JoinGroup
        self.fetch_request_partitions: list[int] = []
        self.last_session_timeout_ms: Optional[int] = None
        self._topics: dict[str, dict[int, _PartitionLog]] = {}
        # broker-stored consumer offsets: (group, topic, partition) → next
        self._group_offsets: dict[tuple[str, str, int], int] = {}
        # consumer-group membership state machines (_GroupState)
        self._groups: dict[str, "_GroupState"] = {}
        self.rebalance_timeout = 2.0
        self._lock = threading.Lock()
        self._stopping = threading.Event()
        self._threads: list[threading.Thread] = []
        t = threading.Thread(target=self._accept_loop, daemon=True,
                             name="kafka-stub-accept")
        t.start()
        self._threads.append(t)

    # -- admin -------------------------------------------------------------

    def create_topic(self, name: str, partitions: int = 1) -> None:
        with self._lock:
            self._topics.setdefault(
                name, {p: _PartitionLog() for p in range(partitions)}
            )

    def close(self) -> None:
        self._stopping.set()
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "KafkaStubBroker":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- serving -----------------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                conn, _addr = self._sock.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, conn: socket.socket) -> None:
        try:
            if self._tls_context is not None:
                conn = self._tls_context.wrap_socket(conn, server_side=True)
            cstate = {
                "authed": self._sasl_users is None,
                "scram": None,
            }
            while not self._stopping.is_set():
                head = self._recv_exact(conn, 4)
                if head is None:
                    return
                size = struct.unpack(">i", head)[0]
                frame = self._recv_exact(conn, size)
                if frame is None:
                    return
                r = W._Reader(frame)
                api_key, api_version = r.int16(), r.int16()
                corr = r.int32()
                r.string()  # client_id
                body = self._dispatch(api_key, api_version, r, cstate)
                if body is None:
                    return  # unauthenticated request on a SASL listener
                resp = W.enc_int32(corr) + body
                conn.sendall(W.enc_int32(len(resp)) + resp)
        except (OSError, W.KafkaWireError):
            # OSError covers ssl.SSLError too (a plaintext client on a
            # TLS listener); anything else is a stub bug and should
            # propagate to the test run, not vanish into a silent close
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    @staticmethod
    def _recv_exact(conn: socket.socket, n: int) -> Optional[bytes]:
        chunks = []
        while n:
            try:
                chunk = conn.recv(n)
            except OSError:
                return None
            if not chunk:
                return None
            chunks.append(chunk)
            n -= len(chunk)
        return b"".join(chunks)

    # -- SASL server side --------------------------------------------------

    def _sasl_handshake(self, r: "W._Reader", cstate: dict) -> bytes:
        mech = (r.string() or "").upper()
        mechs = W.enc_array([W.enc_string(m) for m in self._sasl_mechanisms])
        if self._sasl_users is None or mech not in self._sasl_mechanisms:
            # 33 = UNSUPPORTED_SASL_MECHANISM, with the enabled list
            return W.enc_int16(33) + mechs
        cstate["mechanism"] = mech
        return W.enc_int16(0) + mechs

    @staticmethod
    def _sasl_fail(msg: str) -> bytes:
        # SaslAuthenticate v0: error 58 + message + empty auth bytes
        return (
            W.enc_int16(58) + W.enc_nullable_string(msg) + W.enc_bytes(b"")
        )

    def _sasl_authenticate(self, r: "W._Reader", cstate: dict) -> bytes:
        auth = r.bytes_() or b""
        mech = cstate.get("mechanism")
        if mech is None:
            return self._sasl_fail("SaslHandshake must precede authenticate")
        if mech == "PLAIN":
            parts = auth.split(b"\x00")
            if len(parts) != 3:
                return self._sasl_fail("malformed PLAIN token")
            user, pw = parts[1].decode("utf-8"), parts[2].decode("utf-8")
            if self._sasl_users.get(user) != pw:
                return self._sasl_fail(
                    f"PLAIN authentication failed for user {user!r}"
                )
            cstate["authed"] = True
            return W.enc_int16(0) + W.enc_nullable_string(None) + W.enc_bytes(b"")
        return self._sasl_scram_round(auth, mech, cstate)

    def _sasl_scram_round(self, auth: bytes, mech: str,
                          cstate: dict) -> bytes:
        """SCRAM server state machine (RFC 5802): client-first →
        server-first, client-final → server-final."""
        import base64
        import hmac as _hmac_mod
        import secrets

        algo = W.SCRAM_HASHES[mech]
        st = cstate.get("scram")
        if st is None:  # client-first
            try:
                text = auth.decode("utf-8")
                gs2, bare = text[:3], text[3:]
                if gs2 != "n,,":
                    return self._sasl_fail("channel binding unsupported")
                attrs = dict(kv.split("=", 1) for kv in bare.split(","))
                user = attrs["n"].replace("=2C", ",").replace("=3D", "=")
                cnonce = attrs["r"]
            except (ValueError, KeyError, UnicodeDecodeError):
                return self._sasl_fail("malformed SCRAM client-first")
            pw = self._sasl_users.get(user)
            if pw is None:
                return self._sasl_fail(
                    f"SCRAM authentication failed for user {user!r}"
                )
            salt, iters = secrets.token_bytes(16), 4096
            snonce = cnonce + secrets.token_urlsafe(18)
            server_first = (
                f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
            )
            # stored credentials derive from the SASLprep'd password,
            # matching the client's RFC 5802 normalization
            salted = W.scram_salted_password(W.saslprep(pw), salt, iters, algo)
            cstate["scram"] = {
                "bare": bare, "server_first": server_first,
                "snonce": snonce, "salted": salted, "user": user,
            }
            return (
                W.enc_int16(0) + W.enc_nullable_string(None)
                + W.enc_bytes(server_first.encode("utf-8"))
            )
        # client-final
        try:
            text = auth.decode("utf-8")
            attrs = dict(kv.split("=", 1) for kv in text.split(","))
            nonce, proof_b64 = attrs["r"], attrs["p"]
        except (ValueError, KeyError, UnicodeDecodeError):
            return self._sasl_fail("malformed SCRAM client-final")
        cstate["scram"] = None  # single-shot: a failure restarts
        if nonce != st["snonce"]:
            return self._sasl_fail("SCRAM nonce mismatch")
        without_proof = text.rsplit(",p=", 1)[0]
        auth_message = ",".join(
            [st["bare"], st["server_first"], without_proof]
        ).encode("utf-8")
        client_key = W._scram_hmac(st["salted"], b"Client Key", algo)
        stored_key = W._scram_h(client_key, algo)
        sig = W._scram_hmac(stored_key, auth_message, algo)
        expect = W._xor_bytes(client_key, sig)
        try:
            got = base64.b64decode(proof_b64)
        except ValueError:
            return self._sasl_fail("malformed SCRAM proof")
        if not _hmac_mod.compare_digest(expect, got):
            return self._sasl_fail(
                f"SCRAM authentication failed for user {st['user']!r}"
            )
        server_key = W._scram_hmac(st["salted"], b"Server Key", algo)
        v = base64.b64encode(
            W._scram_hmac(server_key, auth_message, algo)
        ).decode()
        cstate["authed"] = True
        return (
            W.enc_int16(0) + W.enc_nullable_string(None)
            + W.enc_bytes(f"v={v}".encode("utf-8"))
        )

    def _dispatch(self, api_key: int, api_version: int, r: "W._Reader",
                  cstate: Optional[dict] = None) -> Optional[bytes]:
        cstate = cstate if cstate is not None else {"authed": True}
        if api_key == W.API_SASL_HANDSHAKE:
            return self._sasl_handshake(r, cstate)
        if api_key == W.API_SASL_AUTHENTICATE:
            return self._sasl_authenticate(r, cstate)
        if not cstate.get("authed") and api_key != W.API_VERSIONS:
            # real SASL listeners close the connection on any
            # unauthenticated request beyond the handshake APIs
            return None
        if api_key == W.API_VERSIONS:
            supported = [
                (W.API_PRODUCE, 0, 3), (W.API_FETCH, 0, 4),
                (W.API_LIST_OFFSETS, 0, 1), (W.API_METADATA, 0, 1),
                (W.API_OFFSET_COMMIT, 0, 2), (W.API_OFFSET_FETCH, 0, 1),
                (W.API_FIND_COORDINATOR, 0, 0),
                (W.API_JOIN_GROUP, 0, 0), (W.API_SYNC_GROUP, 0, 0),
                (W.API_HEARTBEAT, 0, 0), (W.API_LEAVE_GROUP, 0, 0),
                (W.API_SASL_HANDSHAKE, 0, 1), (W.API_VERSIONS, 0, 0),
                (W.API_SASL_AUTHENTICATE, 0, 0),
            ]
            return W.enc_int16(0) + W.enc_array([
                W.enc_int16(k) + W.enc_int16(lo) + W.enc_int16(hi)
                for k, lo, hi in supported
            ])
        if api_key == W.API_METADATA:
            n = r.int32()
            names = (
                sorted(self._topics)
                if n < 0
                else [r.string() for _ in range(n)]
            )
            brokers = W.enc_array([
                W.enc_int32(0) + W.enc_string(self.host)
                + W.enc_int32(self.port) + W.enc_nullable_string(None)
            ])
            topics = []
            with self._lock:
                for name in names:
                    parts = self._topics.get(name)
                    if parts is None:
                        # auto-create on metadata, like broker default
                        parts = {0: _PartitionLog()}
                        self._topics[name] = parts
                    topics.append(
                        W.enc_int16(0) + W.enc_string(name) + W.enc_int8(0)
                        + W.enc_array([
                            W.enc_int16(0) + W.enc_int32(p) + W.enc_int32(0)
                            + W.enc_array([W.enc_int32(0)])
                            + W.enc_array([W.enc_int32(0)])
                            for p in sorted(parts)
                        ])
                    )
            return brokers + W.enc_int32(0) + W.enc_array(topics)
        if api_key == W.API_LIST_OFFSETS:
            r.int32()  # replica_id
            out_topics = []
            for _ in range(r.int32()):
                name = r.string()
                parts_out = []
                for _p in range(r.int32()):
                    pid, ts = r.int32(), r.int64()
                    with self._lock:
                        log = self._topics.get(name, {}).get(pid)
                    if log is None:
                        parts_out.append(
                            W.enc_int32(pid) + W.enc_int16(3)  # unknown
                            + W.enc_int64(-1) + W.enc_int64(-1)
                        )
                        continue
                    if ts == W.EARLIEST:
                        off = log.log_start  # first RETAINED offset
                    elif ts == W.LATEST:
                        off = log.next_offset
                    else:  # real timestamp: first offset at/after it
                        off = log.offset_for_timestamp(ts)
                    parts_out.append(
                        W.enc_int32(pid) + W.enc_int16(0)
                        + W.enc_int64(-1) + W.enc_int64(off)
                    )
                out_topics.append(W.enc_string(name) + W.enc_array(parts_out))
            return W.enc_array(out_topics)
        if api_key == W.API_PRODUCE:
            r.string()  # transactional_id (nullable)
            r.int16()  # acks
            r.int32()  # timeout
            out_topics = []
            for _ in range(r.int32()):
                name = r.string()
                parts_out = []
                for _p in range(r.int32()):
                    pid = r.int32()
                    record_set = r.bytes_() or b""
                    # append under the broker lock: concurrent Produce
                    # connections (kafka_sink sends per Spark partition)
                    # must serialize offset assignment
                    with self._lock:
                        log = self._topics.setdefault(
                            name, {0: _PartitionLog()}
                        ).get(pid)
                        if log is None:
                            parts_out.append(
                                W.enc_int32(pid) + W.enc_int16(3)
                                + W.enc_int64(-1) + W.enc_int64(-1)
                            )
                            continue
                        try:
                            base = log.append(record_set)
                            parts_out.append(
                                W.enc_int32(pid) + W.enc_int16(0)
                                + W.enc_int64(base) + W.enc_int64(-1)
                            )
                        except W.KafkaWireError:
                            parts_out.append(
                                W.enc_int32(pid) + W.enc_int16(2)  # corrupt
                                + W.enc_int64(-1) + W.enc_int64(-1)
                            )
                out_topics.append(W.enc_string(name) + W.enc_array(parts_out))
            return W.enc_array(out_topics) + W.enc_int32(0)
        if api_key == W.API_FETCH:
            r.int32()  # replica
            r.int32()  # max_wait
            r.int32()  # min_bytes
            r.int32()  # max_bytes
            r.int8()  # isolation
            out_topics = []
            n_parts_in_request = 0
            for _ in range(r.int32()):
                name = r.string()
                parts_out = []
                n_parts = r.int32()
                n_parts_in_request += n_parts
                for _p in range(n_parts):
                    pid, offset, pmax = r.int32(), r.int64(), r.int32()
                    with self._lock:
                        log = self._topics.get(name, {}).get(pid)
                    if log is None:
                        parts_out.append(
                            W.enc_int32(pid) + W.enc_int16(3)
                            + W.enc_int64(-1) + W.enc_int64(-1)
                            + W.enc_int32(-1) + W.enc_bytes(None)
                        )
                        continue
                    if offset < log.log_start:
                        # aged out by retention: OFFSET_OUT_OF_RANGE
                        parts_out.append(
                            W.enc_int32(pid) + W.enc_int16(1)
                            + W.enc_int64(log.next_offset)
                            + W.enc_int64(log.next_offset)
                            + W.enc_int32(0) + W.enc_bytes(None)
                        )
                        continue
                    data = log.read_from(offset, pmax)
                    parts_out.append(
                        W.enc_int32(pid) + W.enc_int16(0)
                        + W.enc_int64(log.next_offset)  # high watermark
                        + W.enc_int64(log.next_offset)  # last stable
                        + W.enc_int32(0)  # no aborted txns
                        + W.enc_bytes(data)
                    )
                out_topics.append(W.enc_string(name) + W.enc_array(parts_out))
            self.fetch_request_partitions.append(n_parts_in_request)
            return W.enc_int32(0) + W.enc_array(out_topics)
        if api_key == W.API_JOIN_GROUP:
            group = r.string() or ""
            self.last_session_timeout_ms = r.int32()  # session_timeout
            member_id = r.string() or ""
            r.string()  # protocol_type
            metadata = b""
            for _ in range(r.int32()):
                r.string()  # protocol name (we accept the first: range)
                if not metadata:
                    metadata = r.bytes_() or b""
                else:
                    r.bytes_()
            with self._lock:
                gs = self._groups.setdefault(
                    group, _GroupState(self.rebalance_timeout)
                )
            gen, mid, leader, members = gs.join(member_id, metadata)
            is_leader = mid == leader
            return (
                W.enc_int16(0) + W.enc_int32(gen) + W.enc_string("range")
                + W.enc_string(leader) + W.enc_string(mid)
                + W.enc_array([
                    W.enc_string(m) + W.enc_bytes(meta)
                    for m, meta in (sorted(members.items()) if is_leader else [])
                ])
            )
        if api_key == W.API_SYNC_GROUP:
            group = r.string() or ""
            gen = r.int32()
            member_id = r.string() or ""
            assignments = {}
            for _ in range(r.int32()):
                m = r.string() or ""
                assignments[m] = r.bytes_() or b""
            with self._lock:
                gs = self._groups.get(group)
            if gs is None:
                return W.enc_int16(25) + W.enc_bytes(None)
            err, blob = gs.sync(gen, member_id, assignments)
            return W.enc_int16(err) + W.enc_bytes(blob if not err else None)
        if api_key == W.API_HEARTBEAT:
            group = r.string() or ""
            gen = r.int32()
            member_id = r.string() or ""
            with self._lock:
                gs = self._groups.get(group)
            return W.enc_int16(25 if gs is None else gs.beat(gen, member_id))
        if api_key == W.API_LEAVE_GROUP:
            group = r.string() or ""
            member_id = r.string() or ""
            with self._lock:
                gs = self._groups.get(group)
            if gs is not None:
                gs.leave(member_id)
            return W.enc_int16(0)
        if api_key == W.API_FIND_COORDINATOR:
            r.string()  # group_id — single-broker: we ARE the coordinator
            return (
                W.enc_int16(0) + W.enc_int32(0)
                + W.enc_string(self.host) + W.enc_int32(self.port)
            )
        if api_key == W.API_OFFSET_COMMIT:
            group = r.string() or ""
            generation = r.int32()
            member_id = r.string() or ""
            if api_version >= 2:
                r.int64()  # retention_time
            # mirror the real GroupCoordinator's membership validation:
            # generation -1 (simple consumer) is only legal while the
            # group has NO active members; a managed member must present
            # its current generation and member id
            err = 0
            with self._lock:
                gs = self._groups.get(group)
            if generation < 0:
                if gs is not None and gs.members:
                    err = 25  # UNKNOWN_MEMBER_ID
            else:
                if gs is None or member_id not in gs.members:
                    err = 25
                elif generation != gs.generation:
                    err = 22  # ILLEGAL_GENERATION
            out_topics = []
            for _ in range(r.int32()):
                name = r.string()
                parts_out = []
                for _p in range(r.int32()):
                    pid = r.int32()
                    off = r.int64()
                    r.string()  # metadata
                    if not err:
                        with self._lock:
                            self._group_offsets[(group, name, pid)] = off
                    parts_out.append(W.enc_int32(pid) + W.enc_int16(err))
                out_topics.append(W.enc_string(name) + W.enc_array(parts_out))
            return W.enc_array(out_topics)
        if api_key == W.API_OFFSET_FETCH:
            group = r.string() or ""
            out_topics = []
            for _ in range(r.int32()):
                name = r.string()
                parts_out = []
                for _p in range(r.int32()):
                    pid = r.int32()
                    with self._lock:
                        off = self._group_offsets.get((group, name, pid), -1)
                    parts_out.append(
                        W.enc_int32(pid) + W.enc_int64(off)
                        + W.enc_nullable_string(None) + W.enc_int16(0)
                    )
                out_topics.append(W.enc_string(name) + W.enc_array(parts_out))
            return W.enc_array(out_topics)
        raise W.KafkaWireError(f"stub broker: unsupported api_key {api_key}")
