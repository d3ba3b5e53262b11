"""Minimal Kafka wire-protocol client — pure stdlib, no jar, no broker
library. The reference ships a full Kafka-compatible broker
(/root/reference/hstream-kafka/, protocol definitions under
hstream-kafka/protocol/); this module implements the CLIENT side of the
same public protocol so the engine can ingest from and produce to Kafka
topics locally, mirroring the mongodb OP_MSG approach
(``sources/bson_wire.py``).

Scope (all from the public Kafka protocol specification):
- Request framing: 4-byte size + header v1 (api_key, api_version,
  correlation_id, client_id).
- ApiVersions v0, Metadata v1, ListOffsets v1 (earliest/latest AND
  real-timestamp time travel), Produce v3, Fetch v4 — the modern
  non-flexible protocol versions, all using **record batch v2**
  (magic 2: CRC32C over attributes..end, zigzag-varint record bodies)
  — the only on-disk/on-wire format current brokers accept for writes
  (message-set v0/v1 write support was removed in Kafka 4.0).
- Offset management: FindCoordinator v0, OffsetCommit v2, OffsetFetch
  v1 — broker-visible progress under a consumer group.
- Full group membership: JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0
  with the standard consumer/range protocol — `join_and_sync` runs the
  whole dance (leader-side range assignment, rejoin on rebalance
  races), so multiple consumers split a topic's partitions.
- Compression: gzip encode/decode via the stdlib; snappy/lz4/zstd
  decode through optional libraries with a loud per-codec error when
  absent (real-world topics are routinely producer-compressed —
  reference codec table:
  hstream-kafka/protocol/Kafka/Protocol/Encoding.hs:300-304).
- Authentication: SaslHandshake v1 + SaslAuthenticate v0 with PLAIN
  and SCRAM-SHA-256/512 (RFC 5802/7677, pure hashlib/hmac — mutual:
  the server signature is verified), optional TLS via the stdlib
  ``ssl`` wrap — the SASL_PLAINTEXT / SASL_SSL / SSL security
  postures every managed Kafka defaults to — plus mutual TLS
  (``tls_certfile``/``tls_keyfile`` present a client certificate to
  brokers with ``ssl.client.auth=required``; hardening beyond the
  reference, whose broker is SASL-only — reference handler:
  hstream-kafka/HStream/Kafka/Server/Handler/Security.hs:32,
  mechanisms in HStream/Kafka/Server/Security/SASL.hs).
- No transactions (the reference's own InitProducerId handler is a
  warning stub — Handler/Produce.hs:143-155); single-leader
  topologies are resolved via Metadata.

This wire client is the engine's jar-free Kafka path (streams ingest
through ``connectors.KafkaIngestTailer``) and the integration-test
substrate (``kafka_stub.KafkaStubBroker``).
"""

from __future__ import annotations

import socket
import struct
import threading
from typing import Optional


class KafkaWireError(RuntimeError):
    pass


class KafkaPartitionError(KafkaWireError):
    """Partition-level protocol error, carrying the code so callers can
    react to specific conditions (e.g. OFFSET_OUT_OF_RANGE=1 after
    retention aged out a committed position → auto offset reset)."""

    def __init__(self, code: int, topic: str, partition: int, what: str):
        self.code = code
        self.topic = topic
        self.partition = partition
        super().__init__(f"{what} error code {code} for {topic}[{partition}]")


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def enc_int8(v: int) -> bytes:
    return struct.pack(">b", v)


def enc_int16(v: int) -> bytes:
    return struct.pack(">h", v)


def enc_int32(v: int) -> bytes:
    return struct.pack(">i", v)


def enc_int64(v: int) -> bytes:
    return struct.pack(">q", v)


def enc_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def enc_nullable_string(s: Optional[str]) -> bytes:
    return struct.pack(">h", -1) if s is None else enc_string(s)


def enc_bytes(b: Optional[bytes]) -> bytes:
    return struct.pack(">i", -1) if b is None else struct.pack(">i", len(b)) + b


def enc_array(items: list[bytes]) -> bytes:
    return struct.pack(">i", len(items)) + b"".join(items)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise KafkaWireError("short read decoding response")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def int8(self) -> int:
        return struct.unpack(">b", self.take(1))[0]

    def int16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def int32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def int64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def uint32(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def string(self) -> Optional[str]:
        n = self.int16()
        return None if n < 0 else self.take(n).decode("utf-8")

    def bytes_(self) -> Optional[bytes]:
        n = self.int32()
        return None if n < 0 else self.take(n)

    def varint(self) -> int:
        """Zigzag-decoded signed varint."""
        shift, acc = 0, 0
        while True:
            b = self.take(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise KafkaWireError("varint too long")
        return (acc >> 1) ^ -(acc & 1)


def enc_varint(v: int) -> bytes:
    """Zigzag-encoded signed varint (records use these for all lengths)."""
    z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — record batch v2 integrity; stdlib zlib.crc32 is
# plain CRC32, so build the reflected-0x82F63B78 table once
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# record batch v2 (magic 2)
# ---------------------------------------------------------------------------


# Record-batch v2 compression codecs (attributes bits 0-2). gzip is
# stdlib; snappy/lz4/zstd decode through optional libraries with a
# loud error naming the codec and the package when absent — mirrors
# the reference's codec table
# (/root/reference/hstream-kafka/protocol/Kafka/Protocol/Encoding.hs:300-304).
_CODEC_NONE, _CODEC_GZIP, _CODEC_SNAPPY, _CODEC_LZ4, _CODEC_ZSTD = 0, 1, 2, 3, 4
_CODEC_IDS = {"none": _CODEC_NONE, "gzip": _CODEC_GZIP, "snappy": _CODEC_SNAPPY,
              "lz4": _CODEC_LZ4, "zstd": _CODEC_ZSTD}
_CODEC_NAMES = {v: k for k, v in _CODEC_IDS.items()}


def _decompress_records(codec: int, payload: bytes) -> bytes:
    if codec == _CODEC_GZIP:
        import gzip

        try:
            return gzip.decompress(payload)
        except (OSError, EOFError) as exc:
            raise KafkaWireError(f"bad gzip record payload: {exc}") from exc
    if codec == _CODEC_SNAPPY:
        try:
            import snappy  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "snappy-compressed batch: install python-snappy to decode"
            ) from exc
        try:
            if payload.startswith(b"\x82SNAPPY\x00"):
                # snappy-java (xerial) framing: 8-byte magic, two int32
                # versions, then length-prefixed raw-snappy blocks
                out = bytearray()
                pos = 16
                while pos + 4 <= len(payload):
                    blen = struct.unpack(">i", payload[pos:pos + 4])[0]
                    pos += 4
                    if blen < 0 or pos + blen > len(payload):
                        raise KafkaWireError(
                            "corrupt xerial-snappy block length"
                        )
                    out += snappy.decompress(payload[pos:pos + blen])
                    pos += blen
                return bytes(out)
            return snappy.decompress(payload)
        except KafkaWireError:
            raise
        except Exception as exc:  # noqa: BLE001 — library-specific types
            raise KafkaWireError(f"bad snappy record payload: {exc}") from exc
    if codec == _CODEC_LZ4:
        try:
            import lz4.frame  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "lz4-compressed batch: install the lz4 package to decode"
            ) from exc
        try:
            return lz4.frame.decompress(payload)
        except Exception as exc:  # noqa: BLE001 — library-specific types
            raise KafkaWireError(f"bad lz4 record payload: {exc}") from exc
    if codec == _CODEC_ZSTD:
        try:
            import zstandard  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "zstd-compressed batch: install zstandard to decode"
            ) from exc
        try:
            return zstandard.ZstdDecompressor().decompress(payload)
        except Exception as exc:  # noqa: BLE001 — library-specific types
            raise KafkaWireError(f"bad zstd record payload: {exc}") from exc
    raise KafkaWireError(f"unknown compression codec id {codec}")


def _compress_records(codec: int, payload: bytes) -> bytes:
    if codec == _CODEC_GZIP:
        import gzip

        # mtime=0: deterministic bytes (property tests and CRC depend
        # on encode being a pure function of the records)
        return gzip.compress(payload, mtime=0)
    if codec == _CODEC_SNAPPY:
        try:
            import snappy  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "snappy compression: install python-snappy to encode"
            ) from exc
        return snappy.compress(payload)
    if codec == _CODEC_LZ4:
        try:
            import lz4.frame  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "lz4 compression: install the lz4 package to encode"
            ) from exc
        return lz4.frame.compress(payload)
    if codec == _CODEC_ZSTD:
        try:
            import zstandard  # type: ignore[import-not-found]
        except ImportError as exc:
            raise KafkaWireError(
                "zstd compression: install zstandard to encode"
            ) from exc
        return zstandard.ZstdCompressor().compress(payload)
    raise KafkaWireError(f"unknown compression codec id {codec}")


def encode_record_batch(
    records: list[tuple[Optional[bytes], Optional[bytes], int]],
    base_offset: int = 0,
    compression: str = "none",
) -> bytes:
    """``records`` = [(key, value, timestamp_ms)]; one batch, producer
    fields set to the non-transactional sentinels. ``compression``:
    none | gzip (stdlib) | snappy | lz4 | zstd (optional libraries) —
    the records section compresses, the batch header stays plain per
    the v2 wire format."""
    if not records:
        raise KafkaWireError("cannot encode an empty record batch")
    codec = _CODEC_IDS.get(compression)
    if codec is None:
        raise KafkaWireError(
            f"unknown compression {compression!r}; "
            f"one of {sorted(_CODEC_IDS)}"
        )
    base_ts = records[0][2]
    max_ts = max(r[2] for r in records)
    body = bytearray()
    for i, (key, value, ts) in enumerate(records):
        rec = bytearray()
        rec += enc_int8(0)  # record attributes
        rec += enc_varint(ts - base_ts)
        rec += enc_varint(i)  # offsetDelta
        if key is None:
            rec += enc_varint(-1)
        else:
            rec += enc_varint(len(key)) + key
        if value is None:
            rec += enc_varint(-1)
        else:
            rec += enc_varint(len(value)) + value
        rec += enc_varint(0)  # headers
        body += enc_varint(len(rec)) + rec
    records_part = bytes(body)
    if codec != _CODEC_NONE:
        records_part = _compress_records(codec, records_part)
    # attributes..end is the CRC range
    crc_part = (
        enc_int16(codec)  # attributes: codec bits 0-2, CreateTime
        + enc_int32(len(records) - 1)  # lastOffsetDelta
        + enc_int64(base_ts)
        + enc_int64(max_ts)
        + enc_int64(-1)  # producerId
        + enc_int16(-1)  # producerEpoch
        + enc_int32(-1)  # baseSequence
        + enc_int32(len(records))
        + records_part
    )
    after_length = (
        enc_int32(0)  # partitionLeaderEpoch
        + enc_int8(2)  # magic
        + struct.pack(">I", crc32c(crc_part))
        + crc_part
    )
    return enc_int64(base_offset) + enc_int32(len(after_length)) + after_length


def decode_record_batches(
    buf: bytes,
) -> list[tuple[int, Optional[bytes], Optional[bytes], int]]:
    """Decode a concatenation of record batches →
    [(offset, key, value, timestamp_ms)]. Tolerates a truncated final
    batch (brokers may return partial batches at the fetch byte cap)."""
    return decode_record_batches_ex(buf)[0]


def decode_record_batches_ex(
    buf: bytes,
) -> tuple[list[tuple[int, Optional[bytes], Optional[bytes], int]], Optional[int]]:
    """Like ``decode_record_batches`` but also returns the end offset
    (last offset + 1) of the last COMPLETE batch, or None if none
    decoded. A consumer advances its position to this even when the
    batches carried no data records (control/transaction markers,
    compaction gaps) — otherwise its committed offset stalls behind a
    trailing marker and every poll refetches it."""
    out: list[tuple[int, Optional[bytes], Optional[bytes], int]] = []
    end_offset: Optional[int] = None
    pos = 0
    while pos + 12 <= len(buf):
        base_offset = struct.unpack(">q", buf[pos : pos + 8])[0]
        batch_len = struct.unpack(">i", buf[pos + 8 : pos + 12])[0]
        end = pos + 12 + batch_len
        if end > len(buf):
            break  # truncated tail batch
        r = _Reader(buf[pos + 12 : end])
        r.int32()  # partitionLeaderEpoch
        magic = r.int8()
        if magic != 2:
            raise KafkaWireError(f"unsupported record batch magic {magic}")
        expect_crc = r.uint32()
        crc_range = r.buf[r.pos :]
        if crc32c(crc_range) != expect_crc:
            raise KafkaWireError("record batch CRC32C mismatch")
        attributes = r.int16()
        codec = attributes & 0x07
        last_offset_delta = r.int32()
        base_ts = r.int64()
        r.int64()  # maxTimestamp
        r.int64()  # producerId
        r.int16()  # producerEpoch
        r.int32()  # baseSequence
        n = r.int32()
        is_control = bool(attributes & 0x20)
        if codec != _CODEC_NONE:
            # the records section (everything after the count) is the
            # compressed payload; the header above is always plain
            r = _Reader(_decompress_records(codec, r.buf[r.pos:]))
        for _ in range(n):
            rec_len = r.varint()
            rec = _Reader(r.take(rec_len))
            rec.int8()  # record attributes
            ts_delta = rec.varint()
            off_delta = rec.varint()
            klen = rec.varint()
            key = None if klen < 0 else rec.take(klen)
            vlen = rec.varint()
            value = None if vlen < 0 else rec.take(vlen)
            for _h in range(rec.varint()):
                hk = rec.varint()
                rec.take(hk)
                hv = rec.varint()
                if hv > 0:
                    rec.take(hv)
            if not is_control:
                out.append((base_offset + off_delta, key, value, base_ts + ts_delta))
        end_offset = base_offset + last_offset_delta + 1
        pos = end
    return out, end_offset


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------

API_PRODUCE, API_FETCH, API_LIST_OFFSETS, API_METADATA = 0, 1, 2, 3
API_OFFSET_COMMIT, API_OFFSET_FETCH, API_FIND_COORDINATOR = 8, 9, 10
API_JOIN_GROUP, API_HEARTBEAT, API_LEAVE_GROUP, API_SYNC_GROUP = 11, 12, 13, 14
API_SASL_HANDSHAKE = 17
API_VERSIONS = 18
API_SASL_AUTHENTICATE = 36

# group-coordination error codes the client reacts to
ERR_COORDINATOR_LOAD_IN_PROGRESS = 14
ERR_COORDINATOR_NOT_AVAILABLE = 15
ERR_NOT_COORDINATOR = 16
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27
ERR_OFFSET_OUT_OF_RANGE = 1
# leadership-movement partition error codes (the only ones that mean
# the cached leader is stale): UNKNOWN_TOPIC_OR_PARTITION after a
# reassignment, LEADER_NOT_AVAILABLE, NOT_LEADER_FOR_PARTITION
ERR_LEADERSHIP_CODES = (3, 5, 6)
# SASL error codes
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_SASL_AUTHENTICATION_FAILED = 58


# ---------------------------------------------------------------------------
# SASL/SCRAM (RFC 5802 / RFC 7677 — public specs; reference server
# surface: hstream-kafka/HStream/Kafka/Server/Security/SASL.hs and
# Handler/Security.hs handleSaslHandshake/handleSaslAuthenticate)
# ---------------------------------------------------------------------------

# mechanisms a Kafka broker can enable (KIP-84) — what KafkaClient
# validates against and the stub broker advertises
SCRAM_HASHES = {"SCRAM-SHA-256": "sha256", "SCRAM-SHA-512": "sha512"}


def saslprep(s: str) -> str:
    """RFC 4013 SASLprep (the stringprep profile SCRAM requires for
    usernames and passwords), via the stdlib ``stringprep`` tables:
    map non-ASCII spaces to space and commonly-mapped-to-nothing
    characters away, NFKC-normalize (so composed and decomposed forms
    of the same password authenticate interchangeably), then reject
    prohibited output (control chars, private use, surrogates, ...),
    mixed-direction bidi text, and unassigned code points. ASCII
    strings pass through unchanged — the profile is the identity on
    them, which keeps the RFC test vectors byte-exact."""
    if s.isascii():
        return s
    import stringprep
    import unicodedata

    mapped = []
    for ch in s:
        if stringprep.in_table_c12(ch):
            mapped.append(" ")  # non-ASCII space -> SPACE
        elif stringprep.in_table_b1(ch):
            continue  # map to nothing
        else:
            mapped.append(ch)
    out = unicodedata.normalize("NFKC", "".join(mapped))
    if not out:
        raise KafkaWireError("SASLprep result is empty")
    for ch in out:
        if (
            stringprep.in_table_c12(ch)
            or stringprep.in_table_c21_c22(ch)
            or stringprep.in_table_c3(ch)
            or stringprep.in_table_c4(ch)
            or stringprep.in_table_c5(ch)
            or stringprep.in_table_c6(ch)
            or stringprep.in_table_c7(ch)
            or stringprep.in_table_c8(ch)
            or stringprep.in_table_c9(ch)
        ):
            raise KafkaWireError(
                f"SASLprep-prohibited character {ch!r} in credential"
            )
    has_r = any(stringprep.in_table_d1(ch) for ch in out)
    if has_r:
        if any(stringprep.in_table_d2(ch) for ch in out):
            raise KafkaWireError(
                "SASLprep: credential mixes left-to-right and "
                "right-to-left characters"
            )
        if not (
            stringprep.in_table_d1(out[0]) and stringprep.in_table_d1(out[-1])
        ):
            raise KafkaWireError(
                "SASLprep: right-to-left credential must start and end "
                "with RandALCat characters"
            )
    for ch in out:
        if stringprep.in_table_a1(ch):
            raise KafkaWireError(
                f"SASLprep: unassigned code point {ch!r} in credential"
            )
    return out
# the full RFC 5802 family the ScramClient speaks; SHA-1 exists for
# MongoDB (bson_wire.authenticate) and deliberately stays OUT of the
# Kafka-side validation set so a typo'd KAFKA_SASL_MECHANISM fails at
# DDL time, not at the broker handshake
SCRAM_ALL_ALGOS = {**SCRAM_HASHES, "SCRAM-SHA-1": "sha1"}


def scram_salted_password(password: str, salt: bytes, iterations: int,
                          algo: str) -> bytes:
    import hashlib

    return hashlib.pbkdf2_hmac(
        algo, password.encode("utf-8"), salt, iterations
    )


def _scram_hmac(key: bytes, msg: bytes, algo: str) -> bytes:
    import hashlib
    import hmac as _hmac

    return _hmac.new(key, msg, getattr(hashlib, algo)).digest()


def _scram_h(data: bytes, algo: str) -> bytes:
    import hashlib

    return getattr(hashlib, algo)(data).digest()


def _xor_bytes(a: bytes, b: bytes) -> bytes:
    return bytes(x ^ y for x, y in zip(a, b))


class ScramClient:
    """Client half of the SCRAM exchange (RFC 5802, SHA-256/512 per
    RFC 7677): client-first → server-first → client-final (proof) →
    server-final (signature, verified — mutual authentication, so a
    spoofed broker that doesn't know the password is detected)."""

    def __init__(self, mechanism: str, username: str, password: str,
                 nonce: Optional[str] = None):
        import secrets

        self.algo = SCRAM_ALL_ALGOS[mechanism]
        # RFC 5802 §5.1: both credentials SASLprep before use (identity
        # on ASCII; composed/decomposed unicode forms unify via NFKC)
        self.username = saslprep(username)
        self.password = saslprep(password)
        self.cnonce = nonce or secrets.token_urlsafe(18)
        # '=' and ',' in usernames escape per RFC 5802 §5.1
        user = self.username.replace("=", "=3D").replace(",", "=2C")
        self.client_first_bare = f"n={user},r={self.cnonce}"

    def first_message(self) -> bytes:
        return ("n,," + self.client_first_bare).encode("utf-8")

    def final_message(self, server_first: bytes) -> bytes:
        import base64

        sf = server_first.decode("utf-8")
        attrs = dict(kv.split("=", 1) for kv in sf.split(","))
        nonce, salt_b64, iters = attrs["r"], attrs["s"], int(attrs["i"])
        if not nonce.startswith(self.cnonce):
            raise KafkaWireError(
                "SCRAM server nonce does not extend the client nonce "
                "(possible replay/tamper)"
            )
        salted = scram_salted_password(
            self.password, base64.b64decode(salt_b64), iters, self.algo
        )
        client_key = _scram_hmac(salted, b"Client Key", self.algo)
        stored_key = _scram_h(client_key, self.algo)
        without_proof = f"c=biws,r={nonce}"
        self.auth_message = ",".join(
            [self.client_first_bare, sf, without_proof]
        ).encode("utf-8")
        sig = _scram_hmac(stored_key, self.auth_message, self.algo)
        proof = base64.b64encode(_xor_bytes(client_key, sig)).decode()
        server_key = _scram_hmac(salted, b"Server Key", self.algo)
        self._server_signature = base64.b64encode(
            _scram_hmac(server_key, self.auth_message, self.algo)
        ).decode()
        return (without_proof + ",p=" + proof).encode("utf-8")

    def verify_server_final(self, server_final: bytes) -> None:
        import hmac as _hmac_mod

        attrs = dict(
            kv.split("=", 1)
            for kv in server_final.decode("utf-8").split(",")
        )
        if "e" in attrs:
            raise KafkaWireError(f"SCRAM server error: {attrs['e']}")
        if not _hmac_mod.compare_digest(
            attrs.get("v", ""), self._server_signature
        ):
            raise KafkaWireError(
                "SCRAM server signature mismatch — the broker does not "
                "know this user's password (spoofed endpoint?)"
            )


def encode_subscription(topics: list[str]) -> bytes:
    """ConsumerProtocolSubscription v0 — the metadata blob a consumer
    publishes in JoinGroup (what standard clients put on the wire)."""
    return (
        enc_int16(0)
        + enc_array([enc_string(t) for t in topics])
        + enc_bytes(None)  # userdata
    )


def decode_subscription(buf: bytes) -> list[str]:
    r = _Reader(buf)
    r.int16()  # version
    return [r.string() or "" for _ in range(r.int32())]


def encode_assignment(parts: dict[str, list[int]]) -> bytes:
    """ConsumerProtocolAssignment v0: {topic: [partition, ...]}."""
    return (
        enc_int16(0)
        + enc_array([
            enc_string(t) + enc_array([enc_int32(p) for p in sorted(ps)])
            for t, ps in sorted(parts.items())
        ])
        + enc_bytes(None)  # userdata
    )


def decode_assignment(buf: bytes) -> dict[str, list[int]]:
    if not buf:
        return {}
    r = _Reader(buf)
    r.int16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.int32()):
        t = r.string() or ""
        out[t] = [r.int32() for _ in range(r.int32())]
    return out

EARLIEST, LATEST = -2, -1


def parse_starting_position(starting: str) -> int:
    """One parser for the three scan-start modes — 'earliest',
    'latest', 'timestamp:<epoch_ms>' — returning the ListOffsets
    timestamp argument (the sentinel constants or the real ms value).
    Single source of truth for the tailer and the engine's option
    validation."""
    if starting == "earliest":
        return EARLIEST
    if starting == "latest":
        return LATEST
    if starting.startswith("timestamp:"):
        raw = starting.split(":", 1)[1]
        if raw.isdigit():
            return int(raw)
    raise ValueError(
        "kafka starting position must be 'earliest', 'latest', or "
        f"'timestamp:<epoch_ms>', got {starting!r}"
    )


class KafkaClient:
    """One protocol connection per broker; partition leaders resolved
    via Metadata. Thread-safe per instance (one in-flight request)."""

    def __init__(self, bootstrap: str, client_id: str = "hstream-spark",
                 timeout: float = 30.0,
                 tls: bool = False,
                 tls_cafile: Optional[str] = None,
                 tls_verify: bool = True,
                 tls_context=None,
                 tls_certfile: Optional[str] = None,
                 tls_keyfile: Optional[str] = None,
                 sasl_mechanism: Optional[str] = None,
                 sasl_username: Optional[str] = None,
                 sasl_password: Optional[str] = None):
        host, _, port = bootstrap.rpartition(":")
        self.bootstrap = (host or "127.0.0.1", int(port or 9092))
        self.client_id = client_id
        self.timeout = timeout
        # mTLS: tls_certfile/tls_keyfile present a client certificate to
        # brokers that mandate it (ssl.client.auth=required). A certfile
        # alone may bundle cert+key; a keyfile alone is a config error.
        if tls_keyfile and not tls_certfile:
            raise KafkaWireError(
                "tls_keyfile requires tls_certfile (the certificate the "
                "key belongs to)"
            )
        self.tls = (
            bool(tls) or tls_context is not None or tls_cafile is not None
            or tls_certfile is not None
        )
        self._tls_context = tls_context
        self._tls_cafile = tls_cafile
        self._tls_verify = tls_verify
        self._tls_certfile = tls_certfile
        self._tls_keyfile = tls_keyfile
        self.sasl_mechanism = sasl_mechanism.upper() if sasl_mechanism else None
        if self.sasl_mechanism and self.sasl_mechanism not in (
            ("PLAIN",) + tuple(SCRAM_HASHES)
        ):
            raise KafkaWireError(
                f"unsupported SASL mechanism {self.sasl_mechanism!r}; "
                f"this client speaks PLAIN, "
                f"{', '.join(sorted(SCRAM_HASHES))}"
            )
        if self.sasl_mechanism and (
            sasl_username is None or sasl_password is None
        ):
            raise KafkaWireError(
                f"SASL mechanism {self.sasl_mechanism} requires "
                "sasl_username and sasl_password"
            )
        self.sasl_username = sasl_username
        self.sasl_password = sasl_password
        self._conns: dict[tuple[str, int], socket.socket] = {}
        self._leaders: dict[tuple[str, int], tuple[str, int]] = {}
        self._coordinators: dict[str, tuple[str, int]] = {}
        self._corr = 0
        self._lock = threading.Lock()

    # -- transport ---------------------------------------------------------

    def _wrap_tls(self, sock: socket.socket, host: str) -> socket.socket:
        import ssl

        ctx = self._tls_context
        if ctx is None:
            if self._tls_verify:
                ctx = ssl.create_default_context(cafile=self._tls_cafile)
            else:
                ctx = ssl._create_unverified_context()  # explicit opt-out
            if self._tls_certfile:
                # mTLS: load the client certificate into the context we
                # built; a caller-provided tls_context manages its own
                from hstream_spark.sources.tls_util import load_client_cert

                load_client_cert(
                    ctx, self._tls_certfile, self._tls_keyfile,
                    KafkaWireError, "kafka", sock=sock,
                )
        try:
            return ctx.wrap_socket(
                sock,
                server_hostname=host if self._tls_verify else None,
            )
        except (OSError, ssl.SSLError) as exc:
            try:
                sock.close()
            except OSError:
                pass
            raise KafkaWireError(f"kafka TLS handshake failed: {exc}") from exc

    def _conn(self, addr: tuple[str, int]) -> socket.socket:
        sock = self._conns.get(addr)
        if sock is None:
            try:
                sock = socket.create_connection(addr, timeout=self.timeout)
            except OSError as exc:
                raise KafkaWireError(
                    f"kafka connection to {addr[0]}:{addr[1]} failed: {exc}"
                ) from exc
            if self.tls:
                sock = self._wrap_tls(sock, addr[0])
            if self.sasl_mechanism:
                # authenticate BEFORE publishing to the pool: SASL state
                # is per-connection, and every broker connection (leader,
                # coordinator, bootstrap) authenticates independently
                try:
                    self._authenticate(sock)
                except Exception:
                    try:
                        sock.close()
                    except OSError:
                        pass
                    raise
            self._conns[addr] = sock
        return sock

    def close(self) -> None:
        for sock in self._conns.values():
            try:
                sock.close()
            except OSError:
                pass
        self._conns.clear()

    def _call(self, api_key: int, api_version: int, body: bytes,
              addr: Optional[tuple[str, int]] = None) -> _Reader:
        with self._lock:
            self._corr += 1
            corr = self._corr
            header = (
                enc_int16(api_key) + enc_int16(api_version)
                + enc_int32(corr) + enc_nullable_string(self.client_id)
            )
            frame = header + body
            sock = self._conn(addr or self.bootstrap)
            try:
                sock.sendall(enc_int32(len(frame)) + frame)
                raw = self._recv_exact(sock, 4)
                size = struct.unpack(">i", raw)[0]
                payload = self._recv_exact(sock, size)
            except OSError as exc:
                self._conns.pop(addr or self.bootstrap, None)
                raise KafkaWireError(f"kafka request failed: {exc}") from exc
        r = _Reader(payload)
        got = r.int32()
        if got != corr:
            raise KafkaWireError(f"correlation mismatch: sent {corr} got {got}")
        return r

    def _raw_call(self, sock: socket.socket, api_key: int,
                  api_version: int, body: bytes) -> _Reader:
        """One request/response on a NOT-yet-pooled socket (the SASL
        dance runs before the connection is published, while _call
        already holds the client lock — so touching _corr here is
        safe)."""
        self._corr += 1
        corr = self._corr
        header = (
            enc_int16(api_key) + enc_int16(api_version)
            + enc_int32(corr) + enc_nullable_string(self.client_id)
        )
        frame = header + body
        try:
            sock.sendall(enc_int32(len(frame)) + frame)
            size = struct.unpack(">i", self._recv_exact(sock, 4))[0]
            payload = self._recv_exact(sock, size)
        except OSError as exc:
            raise KafkaWireError(f"kafka request failed: {exc}") from exc
        r = _Reader(payload)
        got = r.int32()
        if got != corr:
            raise KafkaWireError(f"correlation mismatch: sent {corr} got {got}")
        return r

    def _sasl_authenticate_round(self, sock: socket.socket,
                                 auth_bytes: bytes) -> bytes:
        """One SaslAuthenticate v0 round; raises with the broker's
        message on SASL_AUTHENTICATION_FAILED."""
        r = self._raw_call(
            sock, API_SASL_AUTHENTICATE, 0, enc_bytes(auth_bytes)
        )
        err = r.int16()
        msg = r.string()
        data = r.bytes_() or b""
        if err:
            detail = f": {msg}" if msg else ""
            raise KafkaWireError(
                f"SASL {self.sasl_mechanism} authentication failed for "
                f"user {self.sasl_username!r} (error {err}){detail}"
            )
        return data

    def _authenticate(self, sock: socket.socket) -> None:
        """SaslHandshake v1 + SaslAuthenticate v0 on a fresh broker
        connection (the framed post-handshake flow every modern broker
        speaks; reference handler:
        hstream-kafka/HStream/Kafka/Server/Handler/Security.hs:32)."""
        r = self._raw_call(
            sock, API_SASL_HANDSHAKE, 1, enc_string(self.sasl_mechanism)
        )
        err = r.int16()
        enabled = []
        for _ in range(r.int32()):
            enabled.append(r.string() or "")
        if err:
            raise KafkaWireError(
                f"SASL handshake rejected mechanism "
                f"{self.sasl_mechanism!r} (error {err}); broker enables: "
                f"{sorted(enabled)}"
            )
        if self.sasl_mechanism == "PLAIN":
            token = (
                b"\x00" + self.sasl_username.encode("utf-8")
                + b"\x00" + self.sasl_password.encode("utf-8")
            )
            self._sasl_authenticate_round(sock, token)
            return
        scram = ScramClient(
            self.sasl_mechanism, self.sasl_username, self.sasl_password
        )
        server_first = self._sasl_authenticate_round(
            sock, scram.first_message()
        )
        server_final = self._sasl_authenticate_round(
            sock, scram.final_message(server_first)
        )
        scram.verify_server_final(server_final)

    @staticmethod
    def _recv_exact(sock: socket.socket, n: int) -> bytes:
        chunks = []
        while n:
            chunk = sock.recv(n)
            if not chunk:
                raise KafkaWireError("kafka connection closed mid-response")
            chunks.append(chunk)
            n -= len(chunk)
        return b"".join(chunks)

    def _leader_call(self, api_key: int, api_version: int, body: bytes,
                     topic: str, partition: int) -> _Reader:
        """Request against the partition leader; a failed request drops
        the cached leader so the next call re-resolves (leader moved)."""
        addr = self._leader_addr(topic, partition)
        try:
            return self._call(api_key, api_version, body, addr)
        except KafkaWireError:
            self._leaders.pop((topic, partition), None)
            raise

    def _partition_error(self, err: int, topic: str, partition: int,
                         what: str) -> KafkaWireError:
        """Build the error for a partition-level error CODE (the
        transport succeeded, so _leader_call did not invalidate).
        Leader-moved surfaces as a code — NOT_LEADER_FOR_PARTITION=6,
        LEADER_NOT_AVAILABLE=5, UNKNOWN_TOPIC_OR_PARTITION=3 after a
        reassignment — drop the cached leader for THOSE so the next
        call re-resolves. Non-leadership codes (OFFSET_OUT_OF_RANGE=1,
        MESSAGE_TOO_LARGE=10, ...) keep the cache: the leader is fine,
        re-resolving metadata per failure would be a wasted round-trip."""
        if err in ERR_LEADERSHIP_CODES:
            self._leaders.pop((topic, partition), None)
        return KafkaPartitionError(err, topic, partition, what)

    # -- APIs --------------------------------------------------------------


    def metadata(self, topics: list[str]) -> dict:
        r = self._call(API_METADATA, 1, enc_array([enc_string(t) for t in topics]))
        brokers = {}
        for _ in range(r.int32()):
            node, host, port = r.int32(), r.string(), r.int32()
            r.string()  # rack
            brokers[node] = (host, port)
        r.int32()  # controller_id
        topics_out = {}
        for _ in range(r.int32()):
            err, name = r.int16(), r.string()
            r.int8()  # is_internal
            parts = {}
            for _p in range(r.int32()):
                perr, pid, leader = r.int16(), r.int32(), r.int32()
                for _x in range(r.int32()):
                    r.int32()  # replicas
                for _x in range(r.int32()):
                    r.int32()  # isr
                parts[pid] = {"error": perr, "leader": leader}
            topics_out[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "topics": topics_out}

    def _leader_addr(self, topic: str, partition: int) -> tuple[str, int]:
        """Partition leader, cached — one Metadata round trip per
        (topic, partition) instead of one per produce/fetch (a paging
        tailer would otherwise pay a Metadata RPC per fetch page).
        Entries invalidate on request failure (leader moved)."""
        cached = self._leaders.get((topic, partition))
        if cached is not None:
            return cached
        md = self.metadata([topic])
        t = md["topics"].get(topic)
        if not t or t["error"]:
            raise KafkaWireError(
                f"metadata error for topic {topic!r}: "
                f"{t['error'] if t else 'missing'}"
            )
        p = t["partitions"].get(partition)
        if p is None:
            raise KafkaWireError(f"unknown partition {topic}[{partition}]")
        addr = md["brokers"].get(p["leader"]) or self.bootstrap
        self._leaders[(topic, partition)] = addr
        return addr

    def partitions(self, topic: str) -> list[int]:
        md = self.metadata([topic])
        t = md["topics"].get(topic)
        if not t or t["error"]:
            raise KafkaWireError(
                f"metadata error for topic {topic!r}: "
                f"{t['error'] if t else 'missing'}"
            )
        return sorted(t["partitions"])

    def list_offsets(self, topic: str, partition: int,
                     timestamp: int = EARLIEST) -> int:
        res = self.list_offsets_multi(topic, {partition: timestamp})
        if partition not in res:
            raise KafkaWireError("empty ListOffsets response")
        return res[partition]

    def list_offsets_multi(self, topic: str,
                           timestamps: dict[int, int]) -> dict[int, int]:
        """Batched ListOffsets v1: one request per broker covering all
        of that broker's partitions among ``timestamps`` ({partition:
        EARLIEST/LATEST/real-ms}) → {partition: offset}. Same
        round-trip economics as ``fetch_records_multi`` — a lag probe
        over a 32-partition topic costs one request, not 32."""
        by_addr: dict[tuple[str, int], list[int]] = {}
        for p in sorted(timestamps):
            by_addr.setdefault(self._leader_addr(topic, p), []).append(p)
        out: dict[int, int] = {}
        for addr, parts in by_addr.items():
            body = enc_int32(-1) + enc_array([
                enc_string(topic)
                + enc_array([
                    enc_int32(p) + enc_int64(timestamps[p]) for p in parts
                ])
            ])
            try:
                r = self._call(API_LIST_OFFSETS, 1, body, addr)
            except KafkaWireError:
                for p in parts:
                    self._leaders.pop((topic, p), None)
                raise
            for _ in range(r.int32()):
                r.string()
                for _p in range(r.int32()):
                    pid = r.int32()
                    err = r.int16()
                    if err:
                        raise self._partition_error(
                            err, topic, pid, "ListOffsets"
                        )
                    r.int64()  # timestamp
                    out[pid] = r.int64()
        return out

    def _coordinator_addr(self, group: str) -> tuple[str, int]:
        """Group coordinator via FindCoordinator v0, cached per group;
        a failed commit/fetch drops the cache so the next call
        re-resolves (coordinator moved)."""
        cached = self._coordinators.get(group)
        if cached is not None:
            return cached
        r = self._call(API_FIND_COORDINATOR, 0, enc_string(group))
        err = r.int16()
        if err:
            raise KafkaWireError(
                f"FindCoordinator error {err} for group {group!r}"
            )
        r.int32()  # node_id
        host, port = r.string() or "", r.int32()
        addr = (host, port) if host else self.bootstrap
        self._coordinators[group] = addr
        return addr

    def _coordinator_call(self, api_key: int, api_version: int,
                          body: bytes, group: str) -> _Reader:
        addr = self._coordinator_addr(group)
        try:
            return self._call(api_key, api_version, body, addr)
        except KafkaWireError:
            self._coordinators.pop(group, None)
            raise

    def offset_commit(self, group: str, topic: str,
                      offsets: dict[int, int],
                      generation: int = -1, member_id: str = "") -> None:
        """OffsetCommit v2. Default (generation -1, empty member) is the
        standalone simple-consumer shape — brokers ONLY accept it while
        the group has no active members. A group-MANAGED consumer must
        pass its membership's generation and member id or real brokers
        reject the commit with ILLEGAL_GENERATION/UNKNOWN_MEMBER_ID.
        The committed offset is the NEXT offset to consume."""
        if not offsets:
            return
        body = (
            enc_string(group)
            + enc_int32(generation)
            + enc_string(member_id)
            + enc_int64(-1)  # retention_time: broker default
            + enc_array([
                enc_string(topic)
                + enc_array([
                    enc_int32(p) + enc_int64(off)
                    + enc_nullable_string(None)  # metadata
                    for p, off in sorted(offsets.items())
                ])
            ])
        )
        r = self._coordinator_call(API_OFFSET_COMMIT, 2, body, group)
        for _ in range(r.int32()):
            r.string()
            for _p in range(r.int32()):
                pid = r.int32()
                err = r.int16()
                if err:
                    self._coordinators.pop(group, None)
                    raise KafkaWireError(
                        f"OffsetCommit error code {err} for "
                        f"{topic}[{pid}] group {group!r}"
                    )

    def offset_fetch(self, group: str, topic: str,
                     partitions: list[int]) -> dict[int, int]:
        """OffsetFetch v1 (broker-stored offsets): returns only the
        partitions with a committed offset (brokers answer -1 for
        never-committed ones)."""
        body = enc_string(group) + enc_array([
            enc_string(topic)
            + enc_array([enc_int32(p) for p in partitions])
        ])
        r = self._coordinator_call(API_OFFSET_FETCH, 1, body, group)
        out: dict[int, int] = {}
        for _ in range(r.int32()):
            r.string()
            for _p in range(r.int32()):
                pid = r.int32()
                off = r.int64()
                r.string()  # metadata
                err = r.int16()
                if err:
                    self._coordinators.pop(group, None)
                    raise KafkaWireError(
                        f"OffsetFetch error code {err} for "
                        f"{topic}[{pid}] group {group!r}"
                    )
                if off >= 0:
                    out[pid] = off
        return out


    def _join_group_raw(self, group: str, topics: list[str],
                        member_id: str,
                        session_timeout_ms: int) -> tuple[int, dict]:
        """JoinGroup returning (error_code, result) so the dance loop
        can treat retriable codes (UNKNOWN_MEMBER_ID after session
        expiry, coordinator-loading/moved) as rejoin signals instead of
        exceptions."""
        body = (
            enc_string(group)
            + enc_int32(session_timeout_ms)
            + enc_string(member_id)
            + enc_string("consumer")
            + enc_array([
                enc_string("range") + enc_bytes(encode_subscription(topics))
            ])
        )
        r = self._coordinator_call(API_JOIN_GROUP, 0, body, group)
        err = r.int16()
        if err:
            return err, {}
        generation = r.int32()
        r.string()  # group_protocol
        leader = r.string() or ""
        me = r.string() or ""
        members: dict[str, list[str]] = {}
        for _ in range(r.int32()):
            mid = r.string() or ""
            meta = r.bytes_() or b""
            members[mid] = decode_subscription(meta)
        return 0, {
            "generation": generation,
            "member_id": me,
            "leader": leader,
            "members": members,
        }

    def _sync_group_raw(self, group: str, generation: int, member_id: str,
                        assignments: Optional[dict[str, bytes]] = None,
                        ) -> tuple[int, bytes]:
        body = (
            enc_string(group)
            + enc_int32(generation)
            + enc_string(member_id)
            + enc_array([
                enc_string(mid) + enc_bytes(blob)
                for mid, blob in sorted((assignments or {}).items())
            ])
        )
        r = self._coordinator_call(API_SYNC_GROUP, 0, body, group)
        err = r.int16()
        return err, (r.bytes_() or b"") if not err else b""


    def heartbeat(self, group: str, generation: int, member_id: str) -> int:
        """Heartbeat v0 — returns the error CODE (0 = stable;
        REBALANCE_IN_PROGRESS/ILLEGAL_GENERATION/UNKNOWN_MEMBER_ID mean
        rejoin) so callers can react without exception control flow."""
        body = enc_string(group) + enc_int32(generation) + enc_string(member_id)
        r = self._coordinator_call(API_HEARTBEAT, 0, body, group)
        return r.int16()

    def leave_group(self, group: str, member_id: str) -> None:
        body = enc_string(group) + enc_string(member_id)
        r = self._coordinator_call(API_LEAVE_GROUP, 0, body, group)
        r.int16()  # best-effort: leaving is advisory

    def join_and_sync(self, group: str, topics: list[str],
                      member_id: str = "", max_rejoins: int = 10,
                      session_timeout_ms: int = 10000) -> dict:
        """The full consumer-group dance: JoinGroup → (leader computes a
        RANGE assignment over every member's subscription) → SyncGroup.
        Retriable errors rejoin, exactly like the standard consumer
        loop: on EITHER phase, REBALANCE_IN_PROGRESS / ILLEGAL_GENERATION
        keep our member id, UNKNOWN_MEMBER_ID (session expired) clears
        it, and coordinator-loading/moved codes re-resolve the
        coordinator. Returns {generation, member_id, assignment:
        {topic: [parts]}}."""
        for _ in range(max_rejoins):
            res, member_id = self._join_once(
                group, topics, member_id, session_timeout_ms
            )
            if res is not None:
                return res
        raise KafkaWireError(
            f"consumer group {group!r} failed to stabilize after "
            f"{max_rejoins} rejoin attempts"
        )

    def _join_once(self, group: str, topics: list[str], member_id: str,
                   session_timeout_ms: int = 10000,
                   ) -> tuple[Optional[dict], str]:
        """One join+sync attempt → (result-or-None, member id to use on
        retry: ours for generation races, '' when the coordinator no
        longer knows us)."""
        err, j = self._join_group_raw(
            group, topics, member_id, session_timeout_ms
        )
        if err == ERR_UNKNOWN_MEMBER_ID:
            return None, ""  # session expired; rejoin fresh
        if err in (ERR_REBALANCE_IN_PROGRESS, ERR_ILLEGAL_GENERATION):
            return None, member_id
        if err in (ERR_COORDINATOR_LOAD_IN_PROGRESS,
                   ERR_COORDINATOR_NOT_AVAILABLE, ERR_NOT_COORDINATOR):
            # coordinator moved or still loading group state: drop the
            # cache so the retry re-resolves, give it a beat
            self._coordinators.pop(group, None)
            import time as _time

            _time.sleep(0.1)
            return None, member_id
        if err:
            self._coordinators.pop(group, None)
            raise KafkaWireError(
                f"JoinGroup error code {err} for group {group!r}"
            )
        assignments: Optional[dict[str, bytes]] = None
        if j["member_id"] == j["leader"]:
            # range assignment: per topic, contiguous partition chunks
            # over members sorted by id — the standard default strategy
            subs: dict[str, list[str]] = {}
            for mid, mtopics in j["members"].items():
                for t in mtopics:
                    subs.setdefault(t, []).append(mid)
            per_member: dict[str, dict[str, list[int]]] = {
                mid: {} for mid in j["members"]
            }
            for t, mids in subs.items():
                parts = self.partitions(t)
                mids = sorted(mids)
                n, k = len(parts), len(mids)
                base, extra = divmod(n, k)
                pos = 0
                for i, mid in enumerate(mids):
                    take = base + (1 if i < extra else 0)
                    if take:
                        per_member[mid][t] = parts[pos:pos + take]
                    pos += take
            assignments = {
                mid: encode_assignment(a) for mid, a in per_member.items()
            }
        err, blob = self._sync_group_raw(
            group, j["generation"], j["member_id"], assignments
        )
        if err in (ERR_ILLEGAL_GENERATION, ERR_REBALANCE_IN_PROGRESS):
            return None, j["member_id"]  # another rebalance won; rejoin
        if err == ERR_UNKNOWN_MEMBER_ID:
            return None, ""  # coordinator dropped us; rejoin fresh
        if err:
            raise KafkaWireError(
                f"SyncGroup error code {err} for group {group!r}"
            )
        return {
            "generation": j["generation"],
            "member_id": j["member_id"],
            "assignment": decode_assignment(blob),
        }, j["member_id"]

    def produce(
        self,
        topic: str,
        records: list[tuple[Optional[bytes], Optional[bytes], int]],
        partition: int = 0,
        timeout_ms: int = 30000,
        compression: str = "none",
    ) -> int:
        """Produce one batch with ``acks=-1`` (every in-sync replica);
        returns the assigned base offset."""
        batch = encode_record_batch(records, compression=compression)
        body = (
            enc_nullable_string(None)  # transactional_id
            + enc_int16(-1)  # acks
            + enc_int32(timeout_ms)
            + enc_array([
                enc_string(topic)
                + enc_array([enc_int32(partition) + enc_bytes(batch)])
            ])
        )
        r = self._leader_call(API_PRODUCE, 3, body, topic, partition)
        base = -1
        for _ in range(r.int32()):
            r.string()
            for _p in range(r.int32()):
                r.int32()  # partition index
                err = r.int16()
                if err:
                    raise self._partition_error(
                        err, topic, partition, "Produce"
                    )
                base = r.int64()
                r.int64()  # log_append_time
        r.int32()  # throttle
        return base


    def fetch_records_multi(
        self,
        topic: str,
        offsets: dict[int, int],
        max_bytes: int = 4 << 20,
        max_wait_ms: int = 100,
    ) -> dict[int, tuple[list[tuple[int, Optional[bytes], Optional[bytes], int]], int, Optional[int]]]:
        """Batched fetch: ONE Fetch request per broker covering ALL of
        that broker's partitions among ``offsets`` ({partition:
        fetch_offset}) — the protocol carries a partition array, so a
        32-partition topic drains in one round-trip per leader instead
        of 32. Returns {partition: (records, high_watermark,
        next_offset)}. The request-level max_bytes (Fetch v3+) caps the
        TOTAL response, so memory per poll is bounded regardless of
        partition count; a partition past its per-response share just
        continues from its committed position next page."""
        by_addr: dict[tuple[str, int], list[int]] = {}
        for p in sorted(offsets):
            by_addr.setdefault(self._leader_addr(topic, p), []).append(p)
        out: dict[int, tuple[list, int, Optional[int]]] = {}
        for addr, parts in by_addr.items():
            body = (
                enc_int32(-1)  # replica_id
                + enc_int32(max_wait_ms)
                + enc_int32(1)  # min_bytes
                + enc_int32(max_bytes)  # response-total cap
                + enc_int8(0)  # isolation_level: read_uncommitted
                + enc_array([
                    enc_string(topic)
                    + enc_array([
                        enc_int32(p) + enc_int64(offsets[p])
                        + enc_int32(max_bytes)
                        for p in parts
                    ])
                ])
            )
            try:
                r = self._call(API_FETCH, 4, body, addr)
            except KafkaWireError:
                for p in parts:
                    self._leaders.pop((topic, p), None)
                raise
            r.int32()  # throttle
            for _ in range(r.int32()):
                r.string()
                for _p in range(r.int32()):
                    pid = r.int32()
                    err = r.int16()
                    if err:
                        raise self._partition_error(err, topic, pid, "Fetch")
                    hwm = r.int64()
                    r.int64()  # last_stable_offset
                    n_aborted = r.int32()
                    for _a in range(max(0, n_aborted)):
                        r.int64()
                        r.int64()
                    record_set = r.bytes_() or b""
                    decoded, end_off = decode_record_batches_ex(record_set)
                    want = offsets.get(pid, 0)
                    recs = [
                        rec for rec in decoded
                        if rec[0] >= want  # batches can start before offset
                    ]
                    out[pid] = (recs, hwm, end_off)
        return out
