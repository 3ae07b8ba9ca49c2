"""Real Kafka WIRE-PROTOCOL execution — from-spec broker + client.

The reference's one true external connector is Kafka
(`/root/reference/arcon/src/stream/source/kafka.rs:29-189`): a
librdkafka consumer whose per-partition offsets live in operator state
(kafka.rs:130-137) and replay on restart (kafka.rs:171-175), plus a
producer sink. Rounds 1-2 proved the OFFSET CONTRACT on a local log
(sources/kafka_log.py) but the Kafka protocol itself had never
executed: this container has no spark-sql-kafka jar, no broker
install, and no network egress.

The protocol, however, is PUBLIC (https://kafka.apache.org/protocol
— the Apache Kafka protocol guide), so this module implements the
minimum of it from the spec, the same way the repo's Avro/protobuf/
PNG/WAV codecs implement their public specs:

- :class:`MiniKafkaBroker` — a threaded TCP server speaking the Kafka
  request/response framing (4-byte size, int16 api_key, int16
  api_version, int32 correlation_id, nullable client_id string) and
  serving ApiVersions(18) v0, Metadata(3) v0, Produce(0) v0,
  Fetch(1) v0, and ListOffsets(2) v0 over MessageSet v0 records
  (offset int64, size int32, crc32 over magic|attributes|key|value,
  magic=0). One broker = leader of every partition, exactly what a
  single-node dev cluster reports in Metadata.
- :class:`KafkaWireClient` — the matching minimal client (connect,
  correlate, encode requests, decode responses).
- ``format("arcon_kafka_wire")`` — a Spark DataSource whose batch and
  stream readers FETCH over TCP from executor tasks (one input split
  per partition, offsets checkpointed by Spark), and whose producer
  helper PRODUCES over TCP from executor tasks. The layout is the real
  Kafka source's: parallelism = partition count, offset ranges planned
  driver-side from ListOffsets, data moved broker→executor.

What stays impossible in this container: the JVM `format("kafka")`
datasource (needs the spark-sql-kafka + kafka-clients jars; no
network to fetch them, none vendored on disk — see MEASURE.md). The
wire protocol itself, the offset contract, and executor-side TCP I/O
all execute for real here; pointing the client at a genuine cluster
is a bootstrap-address change.
"""

from __future__ import annotations

import socket
import struct
import threading
import zlib

__all__ = [
    "MiniKafkaBroker",
    "KafkaWireClient",
    "KafkaWireDataSource",
    "register_kafka_wire_source",
]

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_VERSIONS = 18

_ERR_NONE = 0
_ERR_UNKNOWN_TOPIC = 3
_ERR_OFFSET_OUT_OF_RANGE = 1


# ---------------------------------------------------------------------------
# primitive wire encoding (big-endian, per the protocol guide)
# ---------------------------------------------------------------------------


def _w_str(buf: bytearray, s: str | None) -> None:
    if s is None:
        buf += struct.pack(">h", -1)
    else:
        raw = s.encode("utf-8")
        buf += struct.pack(">h", len(raw)) + raw


def _r_str(data: bytes, pos: int) -> tuple[str | None, int]:
    (n,) = struct.unpack_from(">h", data, pos)
    pos += 2
    if n == -1:
        return None, pos
    return data[pos : pos + n].decode("utf-8"), pos + n


def _w_bytes(buf: bytearray, b: bytes | None) -> None:
    if b is None:
        buf += struct.pack(">i", -1)
    else:
        buf += struct.pack(">i", len(b)) + b


def _r_bytes(data: bytes, pos: int) -> tuple[bytes | None, int]:
    (n,) = struct.unpack_from(">i", data, pos)
    pos += 4
    if n == -1:
        return None, pos
    return data[pos : pos + n], pos + n


def _message_v0(key: bytes | None, value: bytes | None) -> bytes:
    """MessageSet v0 entry body: crc32(magic|attrs|key|value)."""
    body = bytearray()
    body.append(0)  # magic 0
    body.append(0)  # attributes (no compression)
    _w_bytes(body, key)
    _w_bytes(body, value)
    crc = zlib.crc32(bytes(body)) & 0xFFFFFFFF
    return struct.pack(">I", crc) + bytes(body)


def encode_message_set(records, base_offset: int) -> bytes:
    """[(key, value)] → on-the-wire MessageSet v0 starting at base_offset."""
    out = bytearray()
    for i, (key, value) in enumerate(records):
        msg = _message_v0(key, value)
        out += struct.pack(">qi", base_offset + i, len(msg))
        out += msg
    return bytes(out)


def decode_message_set(data: bytes) -> list[tuple[int, bytes | None, bytes | None]]:
    """MessageSet v0 → [(offset, key, value)]; verifies each CRC. A
    trailing partial message (Fetch may truncate at max_bytes, per
    spec) is dropped."""
    out = []
    pos = 0
    end = len(data)
    while pos + 12 <= end:
        offset, size = struct.unpack_from(">qi", data, pos)
        if pos + 12 + size > end:
            break  # partial trailing message — spec says discard
        msg = data[pos + 12 : pos + 12 + size]
        (crc,) = struct.unpack_from(">I", msg, 0)
        if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
            raise ValueError(f"kafka message CRC mismatch at offset {offset}")
        magic = msg[4]
        if magic != 0:
            raise ValueError(f"unsupported message magic {magic}")
        key, p = _r_bytes(msg, 6)
        value, _ = _r_bytes(msg, p)
        out.append((offset, key, value))
        pos += 12 + size
    return out


# ---------------------------------------------------------------------------
# broker
# ---------------------------------------------------------------------------


class MiniKafkaBroker:
    """Single-node Kafka broker speaking protocol v0 over TCP.

    Storage is an in-process dict {(topic, partition): [message bytes
    entries]}; the broker thread owns it under a lock. Topics are
    auto-created on first Produce/Metadata with `num_partitions`
    partitions (the dev-cluster default behavior)."""

    def __init__(self, host: str = "127.0.0.1", num_partitions: int = 4) -> None:
        self.host = host
        self.num_partitions = num_partitions
        self._logs: dict[tuple[str, int], list[bytes]] = {}
        self._topics: set[str] = set()
        self._offsets: dict[tuple[str, str, int], int] = {}  # (group, topic, part)
        self._lock = threading.Lock()
        # long-poll Fetch waiters park on this condition; Produce
        # notifies it so a max_wait/min_bytes fetch wakes on new data
        self._data_cond = threading.Condition(self._lock)
        self._srv = socket.create_server((host, 0))
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    # -- lifecycle

    def close(self) -> None:
        self._stop.set()
        with self._lock:
            self._data_cond.notify_all()  # release parked long-polls
        try:
            self._srv.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    @property
    def bootstrap(self) -> str:
        return f"{self.host}:{self.port}"

    # -- server loop

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve_conn, args=(conn,), daemon=True)
            t.start()

    def _serve_conn(self, conn: socket.socket) -> None:
        try:
            while True:
                hdr = _recv_exact(conn, 4)
                if hdr is None:
                    return
                (size,) = struct.unpack(">i", hdr)
                req = _recv_exact(conn, size)
                if req is None:
                    return
                resp = self._handle(req)
                conn.sendall(struct.pack(">i", len(resp)) + resp)
        except OSError:
            pass
        finally:
            conn.close()

    # -- request dispatch

    def _handle(self, req: bytes) -> bytes:
        api_key, api_version, corr = struct.unpack_from(">hhi", req, 0)
        _client, pos = _r_str(req, 8)
        body = bytearray(struct.pack(">i", corr))  # response header v0
        if api_key == API_VERSIONS:
            body += self._api_versions()
        elif api_key == API_METADATA:
            body += self._metadata(req, pos)
        elif api_key == API_PRODUCE:
            body += self._produce(req, pos)
        elif api_key == API_FETCH:
            body += self._fetch(req, pos)
        elif api_key == API_LIST_OFFSETS:
            body += self._list_offsets(req, pos)
        elif api_key == API_OFFSET_COMMIT:
            body += self._offset_commit(req, pos)
        elif api_key == API_OFFSET_FETCH:
            body += self._offset_fetch(req, pos)
        else:
            raise ValueError(f"unsupported api_key {api_key} v{api_version}")
        return bytes(body)

    def _api_versions(self) -> bytes:
        out = bytearray(struct.pack(">h", _ERR_NONE))
        apis = [
            (API_PRODUCE, 0, 0),
            (API_FETCH, 0, 0),
            (API_LIST_OFFSETS, 0, 0),
            (API_METADATA, 0, 0),
            (API_OFFSET_COMMIT, 0, 0),
            (API_OFFSET_FETCH, 0, 0),
            (API_VERSIONS, 0, 0),
        ]
        out += struct.pack(">i", len(apis))
        for k, lo, hi in apis:
            out += struct.pack(">hhh", k, lo, hi)
        return bytes(out)

    def _metadata(self, req: bytes, pos: int) -> bytes:
        (n,) = struct.unpack_from(">i", req, pos)
        pos += 4
        names = []
        for _ in range(max(n, 0)):
            t, pos = _r_str(req, pos)
            names.append(t)
        with self._lock:
            if n <= 0:
                names = sorted(self._topics)
            else:
                # Metadata for a named topic auto-creates it (the
                # auto.create.topics.enable dev default)
                for t in names:
                    self._topics.add(t)
            out = bytearray()
            out += struct.pack(">i", 1)  # brokers
            out += struct.pack(">i", 0)  # node_id
            _w_str(out, self.host)
            out += struct.pack(">i", self.port)
            out += struct.pack(">i", len(names))
            for t in names:
                out += struct.pack(">h", _ERR_NONE)
                _w_str(out, t)
                out += struct.pack(">i", self.num_partitions)
                for p in range(self.num_partitions):
                    # err, partition_id, leader, replicas[], isr[]
                    out += struct.pack(">hii", _ERR_NONE, p, 0)
                    out += struct.pack(">ii", 1, 0)  # replicas = [0]
                    out += struct.pack(">ii", 1, 0)  # isr = [0]
        return bytes(out)

    def _produce(self, req: bytes, pos: int) -> bytes:
        _acks, _timeout = struct.unpack_from(">hi", req, pos)
        pos += 6
        (n_topics,) = struct.unpack_from(">i", req, pos)
        pos += 4
        out = bytearray(struct.pack(">i", n_topics))
        for _ in range(n_topics):
            topic, pos = _r_str(req, pos)
            (n_parts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            _w_str(out, topic)
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                (part,) = struct.unpack_from(">i", req, pos)
                pos += 4
                mset, pos = _r_bytes(req, pos)
                records = decode_message_set(mset or b"")
                with self._lock:
                    self._topics.add(topic)
                    log = self._logs.setdefault((topic, part), [])
                    base = len(log)
                    for _off, key, value in records:
                        log.append(_message_v0(key, value))
                    self._data_cond.notify_all()  # wake long-poll fetchers
                out += struct.pack(">ihq", part, _ERR_NONE, base)
        return bytes(out)

    def _fetch(self, req: bytes, pos: int) -> bytes:
        _replica, max_wait, min_bytes = struct.unpack_from(">iii", req, pos)
        pos += 12
        (n_topics,) = struct.unpack_from(">i", req, pos)
        pos += 4
        wants = []  # [(topic, [(part, fetch_off, max_bytes)])]
        for _ in range(n_topics):
            topic, pos = _r_str(req, pos)
            (n_parts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            parts = []
            for _ in range(n_parts):
                part, fetch_off, max_bytes = struct.unpack_from(">iqi", req, pos)
                pos += 16
                parts.append((part, fetch_off, max_bytes))
            wants.append((topic, parts))

        def _available_bytes() -> int:
            # called under self._lock
            total = 0
            for topic, parts in wants:
                for part, fetch_off, _mb in parts:
                    log = self._logs.get((topic, part), [])
                    for off in range(fetch_off, len(log)):
                        total += 12 + len(log[off])
            return total

        with self._lock:
            # long poll, per spec: the broker holds the request up to
            # max_wait ms until at least min_bytes of data is
            # available across the requested partitions; Produce
            # notifies the condition, close() wakes everyone
            if max_wait > 0 and min_bytes > 0:
                import time

                deadline = time.monotonic() + max_wait / 1000.0
                while (
                    _available_bytes() < min_bytes
                    and not self._stop.is_set()
                ):
                    remaining = deadline - time.monotonic()
                    if remaining <= 0:
                        break
                    self._data_cond.wait(remaining)
            out = bytearray(struct.pack(">i", len(wants)))
            for topic, parts in wants:
                _w_str(out, topic)
                out += struct.pack(">i", len(parts))
                for part, fetch_off, max_bytes in parts:
                    log = self._logs.get((topic, part), [])
                    hwm = len(log)
                    err = _ERR_NONE
                    payload = bytearray()
                    if fetch_off > hwm:
                        err = _ERR_OFFSET_OUT_OF_RANGE
                    else:
                        size = 0
                        for off in range(fetch_off, hwm):
                            msg = log[off]
                            entry_len = 12 + len(msg)
                            if size + entry_len > max_bytes and size > 0:
                                break
                            payload += struct.pack(">qi", off, len(msg)) + msg
                            size += entry_len
                    out += struct.pack(">ihq", part, err, hwm)
                    _w_bytes(out, bytes(payload))
        return bytes(out)

    def _offset_commit(self, req: bytes, pos: int) -> bytes:
        """OffsetCommit v0: persist {(group, topic, partition): offset}
        broker-side — the offset lane the reference keeps in operator
        state (kafka.rs:130-137), here in its broker-stored form."""
        group, pos = _r_str(req, pos)
        (n_topics,) = struct.unpack_from(">i", req, pos)
        pos += 4
        out = bytearray(struct.pack(">i", n_topics))
        for _ in range(n_topics):
            topic, pos = _r_str(req, pos)
            (n_parts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            _w_str(out, topic)
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                (part, off) = struct.unpack_from(">iq", req, pos)
                pos += 12
                _meta, pos = _r_str(req, pos)
                with self._lock:
                    self._offsets[(group or "", topic, part)] = off
                out += struct.pack(">ih", part, _ERR_NONE)
        return bytes(out)

    def _offset_fetch(self, req: bytes, pos: int) -> bytes:
        """OffsetFetch v0: read back committed group offsets; an
        uncommitted partition reports offset -1 (no metadata), per
        spec."""
        group, pos = _r_str(req, pos)
        (n_topics,) = struct.unpack_from(">i", req, pos)
        pos += 4
        out = bytearray(struct.pack(">i", n_topics))
        for _ in range(n_topics):
            topic, pos = _r_str(req, pos)
            (n_parts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            _w_str(out, topic)
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                (part,) = struct.unpack_from(">i", req, pos)
                pos += 4
                with self._lock:
                    off = self._offsets.get((group or "", topic, part), -1)
                out += struct.pack(">iq", part, off)
                _w_str(out, None if off == -1 else "")
                out += struct.pack(">h", _ERR_NONE)
        return bytes(out)

    def _list_offsets(self, req: bytes, pos: int) -> bytes:
        (_replica,) = struct.unpack_from(">i", req, pos)
        pos += 4
        (n_topics,) = struct.unpack_from(">i", req, pos)
        pos += 4
        out = bytearray(struct.pack(">i", n_topics))
        for _ in range(n_topics):
            topic, pos = _r_str(req, pos)
            (n_parts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            _w_str(out, topic)
            out += struct.pack(">i", n_parts)
            for _ in range(n_parts):
                part, ts, _max_n = struct.unpack_from(">iqi", req, pos)
                pos += 16
                with self._lock:
                    hwm = len(self._logs.get((topic, part), []))
                off = 0 if ts == -2 else hwm  # -2 earliest, -1 latest
                out += struct.pack(">ih", part, _ERR_NONE)
                out += struct.pack(">i", 1)
                out += struct.pack(">q", off)
        return bytes(out)


def _recv_exact(conn: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class KafkaWireClient:
    """Minimal Kafka protocol-v0 client (one TCP connection)."""

    def __init__(self, bootstrap: str, client_id: str = "arcon") -> None:
        host, port = bootstrap.rsplit(":", 1)
        self._sock = socket.create_connection((host, int(port)))
        self._client_id = client_id
        self._corr = 0

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _call(self, api_key: int, body: bytes) -> bytes:
        self._corr += 1
        corr = self._corr
        req = bytearray(struct.pack(">hhi", api_key, 0, corr))
        _w_str(req, self._client_id)
        req += body
        self._sock.sendall(struct.pack(">i", len(req)) + bytes(req))
        (size,) = struct.unpack(">i", _recv_exact(self._sock, 4))
        resp = _recv_exact(self._sock, size)
        (got_corr,) = struct.unpack_from(">i", resp, 0)
        if got_corr != corr:
            raise ValueError(f"correlation mismatch: sent {corr} got {got_corr}")
        return resp[4:]

    def api_versions(self) -> dict[int, tuple[int, int]]:
        resp = self._call(API_VERSIONS, b"")
        err, n = struct.unpack_from(">hi", resp, 0)
        if err:
            raise ValueError(f"ApiVersions error {err}")
        out = {}
        pos = 6
        for _ in range(n):
            k, lo, hi = struct.unpack_from(">hhh", resp, pos)
            pos += 6
            out[k] = (lo, hi)
        return out

    def metadata(self, topics: list[str]) -> dict:
        body = bytearray(struct.pack(">i", len(topics)))
        for t in topics:
            _w_str(body, t)
        resp = self._call(API_METADATA, bytes(body))
        pos = 0
        (n_brokers,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        brokers = []
        for _ in range(n_brokers):
            (node,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            host, pos = _r_str(resp, pos)
            (port,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            brokers.append((node, host, port))
        (n_topics,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        topics_meta = {}
        for _ in range(n_topics):
            (terr,) = struct.unpack_from(">h", resp, pos)
            pos += 2
            name, pos = _r_str(resp, pos)
            (n_parts,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            parts = []
            for _ in range(n_parts):
                perr, part, leader = struct.unpack_from(">hii", resp, pos)
                pos += 10
                (n_rep,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + 4 * n_rep  # skip replica ids
                (n_isr,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + 4 * n_isr  # skip isr ids
                parts.append((perr, part, leader))
            topics_meta[name] = (terr, parts)
        return {"brokers": brokers, "topics": topics_meta}

    def produce(self, topic: str, partition: int, records) -> int:
        """Produce [(key, value)] to one partition; returns base_offset."""
        mset = encode_message_set(records, 0)
        body = bytearray(struct.pack(">hi", 1, 10_000))  # acks=1
        body += struct.pack(">i", 1)
        _w_str(body, topic)
        body += struct.pack(">i", 1)
        body += struct.pack(">i", partition)
        _w_bytes(body, mset)
        resp = self._call(API_PRODUCE, bytes(body))
        pos = 4  # topic array count
        _name, pos = _r_str(resp, pos)
        pos += 4  # partition array count
        part, err, base = struct.unpack_from(">ihq", resp, pos)
        if err:
            raise ValueError(f"Produce error {err} on {topic}/{part}")
        return base

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int = 1 << 20,
        max_wait_ms: int = 0,
        min_bytes: int = 0,
    ) -> tuple[int, list[tuple[int, bytes | None, bytes | None]]]:
        """Fetch from one partition; returns (high_watermark, records).
        With max_wait_ms/min_bytes set the broker long-polls: the
        response is held until min_bytes of data is available or the
        wait elapses (consumer poll timeout semantics)."""
        body = bytearray(struct.pack(">iii", -1, max_wait_ms, min_bytes))
        body += struct.pack(">i", 1)
        _w_str(body, topic)
        body += struct.pack(">i", 1)
        body += struct.pack(">iqi", partition, offset, max_bytes)
        resp = self._call(API_FETCH, bytes(body))
        pos = 4
        _name, pos = _r_str(resp, pos)
        pos += 4
        part, err, hwm = struct.unpack_from(">ihq", resp, pos)
        pos += 14
        mset, pos = _r_bytes(resp, pos)
        if err:
            raise ValueError(f"Fetch error {err} on {topic}/{part}@{offset}")
        return hwm, decode_message_set(mset or b"")

    def list_offsets(self, topic: str, partition: int, earliest: bool = False) -> int:
        body = bytearray(struct.pack(">i", -1))
        body += struct.pack(">i", 1)
        _w_str(body, topic)
        body += struct.pack(">i", 1)
        body += struct.pack(">iqi", partition, -2 if earliest else -1, 1)
        resp = self._call(API_LIST_OFFSETS, bytes(body))
        pos = 4
        _name, pos = _r_str(resp, pos)
        pos += 4
        part, err = struct.unpack_from(">ih", resp, pos)
        pos += 6
        (n_off,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        if err:
            raise ValueError(f"ListOffsets error {err} on {topic}/{part}")
        (off,) = struct.unpack_from(">q", resp, pos)
        return off

    def offset_commit(self, group: str, topic: str, offsets: dict[int, int]) -> None:
        """OffsetCommit v0: {partition: next_offset} for a group."""
        body = bytearray()
        _w_str(body, group)
        body += struct.pack(">i", 1)
        _w_str(body, topic)
        body += struct.pack(">i", len(offsets))
        for part, off in sorted(offsets.items()):
            body += struct.pack(">iq", part, off)
            _w_str(body, None)  # metadata
        resp = self._call(API_OFFSET_COMMIT, bytes(body))
        pos = 4
        _name, pos = _r_str(resp, pos)
        (n_parts,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        for _ in range(n_parts):
            part, err = struct.unpack_from(">ih", resp, pos)
            pos += 6
            if err:
                raise ValueError(f"OffsetCommit error {err} on {topic}/{part}")

    def offset_fetch(self, group: str, topic: str, partitions: list[int]) -> dict[int, int]:
        """OffsetFetch v0: committed {partition: offset}; uncommitted
        partitions come back as -1 and are omitted from the result."""
        body = bytearray()
        _w_str(body, group)
        body += struct.pack(">i", 1)
        _w_str(body, topic)
        body += struct.pack(">i", len(partitions))
        for part in partitions:
            body += struct.pack(">i", part)
        resp = self._call(API_OFFSET_FETCH, bytes(body))
        pos = 4
        _name, pos = _r_str(resp, pos)
        (n_parts,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        out: dict[int, int] = {}
        for _ in range(n_parts):
            part, off = struct.unpack_from(">iq", resp, pos)
            pos += 12
            _meta, pos = _r_str(resp, pos)
            (err,) = struct.unpack_from(">h", resp, pos)
            pos += 2
            if err:
                raise ValueError(f"OffsetFetch error {err} on {topic}/{part}")
            if off >= 0:
                out[part] = off
        return out


# ---------------------------------------------------------------------------
# Spark DataSource (batch + streaming) over the wire protocol
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long,"
    " timestamp timestamp"
)


class _WireRange(InputPartition):
    def __init__(self, partition: int, start: int, end: int) -> None:
        self.partition = partition
        self.start = start
        self.end = end


def _rows_for_range(bootstrap: str, topic: str, rng: _WireRange):
    import datetime

    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    with KafkaWireClient(bootstrap) as cli:
        off = rng.start
        while off < rng.end:
            _hwm, records = cli.fetch(topic, rng.partition, off)
            if not records:
                break
            for roff, key, value in records:
                if roff >= rng.end:
                    return
                # v0 messages carry no timestamp; expose the epoch so the
                # column shape matches Spark's Kafka source
                yield (key, value, topic, rng.partition, roff, epoch)
                off = roff + 1


class _WireBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.bootstrap = options["bootstrap"]
        self.topic = options["topic"]

    def partitions(self):
        with KafkaWireClient(self.bootstrap) as cli:
            md = cli.metadata([self.topic])
            parts = [p for _e, p, _l in md["topics"][self.topic][1]]
            return [
                _WireRange(p, 0, cli.list_offsets(self.topic, p)) for p in parts
            ]

    def read(self, partition):
        # runs on an EXECUTOR: opens its own TCP connection to the broker
        yield from _rows_for_range(self.bootstrap, self.topic, partition)


class _WireStreamReader(DataSourceStreamReader):
    """Offset contract per kafka.rs:130-137/171-175: offsets
    {partition: next_to_read} live in Spark's checkpoint; restart
    resumes from the last committed epoch's offsets."""

    def __init__(self, options) -> None:
        self.bootstrap = options["bootstrap"]
        self.topic = options["topic"]
        self.max_per_trigger = int(options.get("maxrecordspertrigger", 0) or 0)
        # optional consumer group: fresh starts seed from the BROKER's
        # committed offsets (OffsetFetch) and commit() mirrors progress
        # back (OffsetCommit) — the broker-stored form of the offset
        # lane the reference keeps in operator state (kafka.rs:130-137)
        self.group = options.get("group") or None

    def _latest(self) -> dict[str, int]:
        with KafkaWireClient(self.bootstrap) as cli:
            md = cli.metadata([self.topic])
            parts = [p for _e, p, _l in md["topics"][self.topic][1]]
            return {str(p): cli.list_offsets(self.topic, p) for p in parts}

    def initialOffset(self) -> dict:
        first = {p: 0 for p in self._latest()}
        if self.group:
            with KafkaWireClient(self.bootstrap) as cli:
                committed = cli.offset_fetch(
                    self.group, self.topic, [int(p) for p in first]
                )
            for part, off in committed.items():
                first[str(part)] = off
        # seed the admission-control base so even the first batch is
        # capped on a fresh start (restart leaves _base unset → first
        # cycle uncapped, so progress never stalls behind the checkpoint)
        self._base = dict(first)
        return first

    def latestOffset(self) -> dict:
        cur = self._latest()
        if self.max_per_trigger <= 0:
            return cur
        # Admission control MUST happen here, not in partitions():
        # whatever this returns is what Spark commits to the checkpoint
        # as the batch end. Capping later (in partitions()) would plan a
        # shorter read than the committed end — under availableNow the
        # query then believes it is caught up and the clipped records
        # are skipped forever (the round-3 data-loss bug). The cap base
        # is the END of the previously PLANNED batch, updated in
        # partitions() — not here — because the planner may call
        # latestOffset several times per cycle and the answer must be
        # idempotent within one cycle (same contract as kafka_log).
        base = getattr(self, "_base", None)
        if base is None and self.group:
            # checkpoint RESTART: initialOffset() is not called again,
            # so without seeding here the first post-restart cycle
            # would return the uncapped high watermark (unbounded batch
            # exactly when a large backlog follows a restart). Seed
            # admission control from the broker-side offset lane:
            # commit() lags the planned batch by at most one cap, so
            # committed + cap >= the checkpointed start — the capped
            # end can never fall below the restart start (no stall),
            # while the first batch is bounded like every other.
            with KafkaWireClient(self.bootstrap) as cli:
                committed = cli.offset_fetch(
                    self.group, self.topic, [int(p) for p in cur]
                )
            base = {p: committed.get(int(p), 0) for p in cur}
            self._base = base
        if base is None:
            # no group lane to recover a base from — first cycle after
            # restart stays uncapped (correctness preserved; pacing
            # resumes once partitions() records the planned end)
            return cur
        return {
            p: min(cur.get(p, 0), base.get(p, 0) + self.max_per_trigger)
            for p in cur
        }

    def partitions(self, start: dict, end: dict):
        # pure transcription of (start, end) — the committed range IS
        # the planned range; pacing already happened in latestOffset()
        self._base = dict(end)
        return [
            _WireRange(int(p), start.get(p, 0), e)
            for p, e in sorted(end.items())
            if e > start.get(p, 0)
        ] or [_WireRange(-1, 0, 0)]

    def read(self, partition):
        if partition.partition < 0:
            return
        yield from _rows_for_range(self.bootstrap, self.topic, partition)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint remains the source of truth; with a group
        # configured the progress is ALSO committed broker-side so an
        # external consumer (or a fresh checkpoint) can resume from it
        if self.group:
            with KafkaWireClient(self.bootstrap) as cli:
                cli.offset_commit(
                    self.group, self.topic, {int(p): o for p, o in end.items()}
                )


class KafkaWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "arcon_kafka_wire"

    def schema(self) -> str:
        return KAFKA_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _WireBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _WireStreamReader(self.options)


def register_kafka_wire_source(spark) -> None:
    spark.dataSource.register(KafkaWireDataSource)


def produce_dataframe(df, bootstrap: str, topic: str, num_partitions: int) -> int:
    """Executor-side wire production: each task opens a TCP connection
    and Produces its partition's records (the librdkafka sharding
    model). df columns: key binary, value binary, partition int."""
    from pyspark.sql import functions as F  # noqa: F401

    def _produce(batches):
        import pandas as pd

        cli = None
        n = 0
        try:
            for pdf in batches:
                by_part: dict[int, list] = {}
                for part, key, value in zip(pdf["partition"], pdf["key"], pdf["value"]):
                    by_part.setdefault(int(part), []).append(
                        (bytes(key) if key is not None else None,
                         bytes(value) if value is not None else None)
                    )
                if by_part and cli is None:
                    cli = KafkaWireClient(bootstrap)
                for part, recs in sorted(by_part.items()):
                    cli.produce(topic, part, recs)
                    n += len(recs)
        finally:
            if cli is not None:
                cli.close()
        yield pd.DataFrame({"n": [n]})

    counts = (
        df.repartition(num_partitions, "partition")
        .mapInPandas(_produce, "n long")
        .collect()
    )
    return sum(r["n"] for r in counts)


# ---------------------------------------------------------------------------
# registry query: events → protobuf values → TCP Produce (executors) →
# wire-protocol stream read with checkpointed offsets → decode →
# aggregate, vs an oracle on the raw table. This is the reference's
# KafkaSource+ProtoSchema composition (kafka.rs:29-189 via schema.rs)
# executed against a REAL broker socket — the full wire path the
# jar-gated format("kafka") cannot run in this container.
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from arcon_spark.plans.registry import register  # noqa: E402
from arcon_spark.scratch import scratch_dir  # noqa: E402

_KW_PARTS = 4


@register(
    "stream_kafka_real_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "kafka", "wire", "source", "offsets", "survey2.1"),
)
def stream_kafka_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire-protocol ingest end to end: a broker thread serves
    the public Kafka protocol on a real TCP socket; executor tasks
    protobuf-encode the events table and Produce it (acks=1, CRC'd
    MessageSet v0); a streaming read over format("arcon_kafka_wire")
    consumes it back with maxRecordsPerTrigger admission control across
    multiple micro-batches, offsets checkpointed by Spark exactly as
    the reference persists consumer offsets in state (kafka.rs:130-137,
    replay :171-175); the payloads are proto-decoded and aggregated per
    type. The oracle aggregates the raw parquet: a hash-match proves
    encode → TCP produce → broker log → offset-paced TCP fetch →
    CRC-checked decode loses nothing and duplicates nothing."""
    from arcon_spark.io import load_table
    from arcon_spark.proto import (
        encode_message,
        message_from_spark_schema,
        proto_decode,
    )

    broker = MiniKafkaBroker(num_partitions=_KW_PARTS)
    try:
        register_kafka_wire_source(spark)
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.expr("unix_micros(ts)").alias("ts_us"),
            )
            .withColumn("part", F.pmod("user_id", F.lit(_KW_PARTS)).cast("int"))
        )
        msg = message_from_spark_schema("Event", ev.drop("part").schema)
        bootstrap = broker.bootstrap

        def encode(batches):
            import pandas as pd

            for pdf in batches:
                vals = [
                    encode_message(
                        msg,
                        {
                            "event_id": int(r.event_id),
                            "user_id": int(r.user_id),
                            "event_type": r.event_type,
                            "value": float(r.value),
                            "ts_us": int(r.ts_us),
                        },
                    )
                    for r in pdf.itertuples(index=False)
                ]
                yield pd.DataFrame(
                    {
                        "key": [str(u).encode() for u in pdf["user_id"]],
                        "value": vals,
                        "partition": pdf["part"].astype("int32"),
                    }
                )

        payload = ev.mapInPandas(encode, "key binary, value binary, partition int")
        produce_dataframe(payload, bootstrap, "events", _KW_PARTS)

        out_dir = scratch_dir("arcon_kw_out_") + "/rows"
        ck = scratch_dir("arcon_kw_ck_")
        stream = (
            spark.readStream.format("arcon_kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "events")
            .option("maxRecordsPerTrigger", 1000)
            .load()
            .select("value")
        )

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        broker.close()

    raw = spark.read.parquet(out_dir)
    schema_src = (
        "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    from pyspark.sql.types import _parse_datatype_string

    dmsg = message_from_spark_schema("Event", _parse_datatype_string(schema_src))
    dec = proto_decode(raw, dmsg, "value", schema_src)
    from pyspark.sql.window import Window

    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("sum_user"),
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("cents"),
    )
    # global cardinality as part of the VALUE: the round-3 pacing bug
    # dropped 60% of records while rows_match stayed true (5 groups);
    # with total_rows in every row, any loss flips the hash AND is
    # visible as a first-class column
    return agg.withColumn(
        "total_rows", F.sum("n").over(Window.partitionBy())
    )


@register(
    "stream_kafka_two_readers",
    oracle="""
    SELECT 'a' AS reader, event_type AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_val,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'b' AS reader, CAST(user_id % 10 AS VARCHAR) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_val,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
    FROM events GROUP BY user_id % 10
    """,
    tags=("streaming", "kafka", "wire", "offsets", "fanout", "survey2.1"),
)
def stream_kafka_two_readers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent consumers over ONE wire topic, each exactly-once,
    with the BROKER-side offset lane (OffsetCommit/OffsetFetch v0)
    proving cross-checkpoint resume — the broker-stored form of the
    offset state the reference keeps per consumer in operator state
    (kafka.rs:130-137, replay :171-175).

    Reader A consumes in TWO stages with DIFFERENT (fresh) Spark
    checkpoints but the same group: stage 1 drains tranche 1 (even
    event_id), then its progress is committed broker-side from the
    durably-written output (offsets derived from the sink, exactly the
    reference's commit-on-epoch-completion contract); tranche 2 (odd
    event_id) is produced; stage 2 starts with NO checkpoint and seeds
    its initial offsets from OffsetFetch — it must read exactly
    tranche 2, no re-delivery, no loss. Reader B consumes the whole
    topic under its own group in one pass, proving group isolation
    (A's commits don't leak into B). The oracle aggregates the raw
    events table twice, so a hash-match proves BOTH readers saw every
    record exactly once — total_rows per reader makes any loss or
    double-read flip every row's hash."""
    from arcon_spark.io import load_table

    broker = MiniKafkaBroker(num_partitions=_KW_PARTS)
    try:
        register_kafka_wire_source(spark)
        bootstrap = broker.bootstrap
        topic = "events"
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        payload = ev.select(
            F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
            F.encode(
                F.concat_ws(",", "event_id", "user_id", "event_type"), "utf-8"
            ).alias("value"),
            F.pmod("user_id", F.lit(_KW_PARTS)).cast("int").alias("partition"),
            "event_id",
        )

        def drain(group: str, out_dir: str) -> None:
            # foreachBatch append, NOT format("parquet"): each stage
            # runs under a FRESH checkpoint, and the file sink's
            # _spark_metadata log would treat stage 2's batch 0 as
            # already committed (and hide stage-2 files from readers)
            ck = scratch_dir("arcon_kw2_ck_")

            def sink(batch_df, _bid):
                batch_df.write.mode("append").parquet(out_dir)

            q = (
                spark.readStream.format("arcon_kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", topic)
                .option("group", group)
                .load()
                .select("partition", "offset", "value")
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def commit_from_output(group: str, out_dir: str) -> None:
            # commit next-to-read per partition, derived from what the
            # sink durably wrote — the application-side commit point
            # (kafka.rs:130-137: offsets persist on epoch completion)
            done = (
                spark.read.parquet(out_dir)
                .groupBy("partition")
                .agg(F.max("offset").alias("mx"))
                .collect()
            )
            with KafkaWireClient(bootstrap) as cli:
                cli.offset_commit(
                    group, topic, {int(r["partition"]): int(r["mx"]) + 1 for r in done}
                )

        out_a = scratch_dir("arcon_kw2_a_") + "/rows"
        out_b = scratch_dir("arcon_kw2_b_") + "/rows"

        produce_dataframe(
            payload.filter(F.col("event_id") % 2 == 0).drop("event_id"),
            bootstrap, topic, _KW_PARTS,
        )
        drain("grp-a", out_a)          # stage 1: tranche 1 only
        commit_from_output("grp-a", out_a)
        produce_dataframe(
            payload.filter(F.col("event_id") % 2 == 1).drop("event_id"),
            bootstrap, topic, _KW_PARTS,
        )
        drain("grp-a", out_a)          # stage 2: fresh ck, broker seeds offsets
        drain("grp-b", out_b)          # independent group: sees everything
    finally:
        broker.close()

    def decoded(path: str) -> DataFrame:
        parts = F.split(F.decode(F.col("value"), "utf-8"), ",")
        return spark.read.parquet(path).select(
            parts.getItem(0).cast("long").alias("event_id"),
            parts.getItem(1).cast("long").alias("user_id"),
            parts.getItem(2).alias("event_type"),
        )

    from pyspark.sql.window import Window

    a = (
        decoded(out_a)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("user_id").cast("long").alias("sum_val"),
        )
        .select(
            F.lit("a").alias("reader"),
            F.col("event_type").alias("grp"),
            "n",
            "sum_val",
        )
        .withColumn("total_rows", F.sum("n").over(Window.partitionBy()))
    )
    b = (
        decoded(out_b)
        .groupBy(F.pmod("user_id", F.lit(10)).cast("string").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_val"),
        )
        .select(F.lit("b").alias("reader"), "grp", "n", "sum_val")
        .withColumn("total_rows", F.sum("n").over(Window.partitionBy()))
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Exactly-once produce over the wire: transactional begin/commit markers
# in a control topic + a read-committed consumer — the model Kafka's own
# transactions use (control records delimiting aborted ranges), applied
# to the append-only v0 log where rollback-by-truncation (the kafka_log
# sink's file-side trick) is impossible. Mirrors the reference's
# epoch-committed sink contract (kafka.rs sink + epoch barriers).
# ---------------------------------------------------------------------------


def _txn_topic(topic: str) -> str:
    return f"__txn_{topic}"


def _fetch_all(cli: KafkaWireClient, topic: str, partition: int):
    """Page through a partition from 0 to the high watermark."""
    out = []
    off = 0
    hwm = cli.list_offsets(topic, partition)
    while off < hwm:
        _h, recs = cli.fetch(topic, partition, off)
        if not recs:
            break
        out.extend(recs)
        off = recs[-1][0] + 1
    return out


def _read_markers(cli: KafkaWireClient, topic: str):
    """Parse the control topic → list of ("B", epoch, bases) / ("C",
    epoch, None) in log order."""
    import json as _json

    cli.metadata([_txn_topic(topic)])  # auto-create on first contact
    markers = []
    for _off, _key, value in _fetch_all(cli, _txn_topic(topic), 0):
        kind, rest = value.split(b":", 1)
        if kind == b"B":
            epoch_s, bases_s = rest.split(b":", 1)
            markers.append(
                ("B", int(epoch_s), {int(k): int(v) for k, v in _json.loads(bases_s).items()})
            )
        else:
            markers.append(("C", int(rest), None))
    return markers


def committed_intervals(markers, hwm: dict[int, int]) -> dict[int, list[tuple[int, int]]]:
    """Per-partition [lo, hi) offset ranges holding exactly-once data.

    Each begin marker claims, per partition, the offsets from its
    recorded pre-produce base up to the NEXT begin's base (or the
    current high watermark for the last claim). A claim is committed
    iff its epoch has a commit marker AND it is the LAST begin for
    that epoch — a crash between produce and commit leaves an earlier
    begin for the same epoch whose half-written range must stay
    aborted even after the retry's commit lands."""
    begins = [(i, e, b) for i, (k, e, b) in enumerate(markers) if k == "B"]
    committed_epochs = {e for k, e, _ in markers if k == "C"}
    last_begin_for_epoch = {e: i for i, e, _ in begins}
    out: dict[int, list[tuple[int, int]]] = {p: [] for p in hwm}
    for pos, (i, e, bases) in enumerate(begins):
        nxt = begins[pos + 1][2] if pos + 1 < len(begins) else {
            p: hwm.get(p, 0) for p in bases
        }
        if e in committed_epochs and last_begin_for_epoch[e] == i:
            for p, lo in bases.items():
                hi = nxt.get(p, hwm.get(p, 0))
                if hi > lo:
                    out.setdefault(p, []).append((lo, hi))
    return out


def append_stream_to_kafka_wire(
    batch_df,
    batch_id: int,
    bootstrap: str,
    topic: str,
    num_partitions: int,
    fail_before_commit=None,
) -> None:
    """foreachBatch body: exactly-once produce of (key, value,
    partition) rows over the wire protocol. A begin marker recording
    each partition's pre-produce end offset lands in the control topic
    first; the rows are produced executor-side; a commit marker seals
    the epoch. Redelivery after a successful commit is a no-op; a
    crash between produce and commit leaves an uncommitted claim that
    read_committed_wire excludes, and the retry re-begins from fresh
    bases — each record is observed exactly once by read-committed
    consumers under arbitrary crash points (the reference's
    epoch-committed sink contract, kafka.rs + epoch barriers)."""
    import json as _json

    with KafkaWireClient(bootstrap) as cli:
        markers = _read_markers(cli, topic)
        if any(k == "C" and e == batch_id for k, e, _ in markers):
            return  # already delivered in full
        cli.metadata([topic])
        bases = {p: cli.list_offsets(topic, p) for p in range(num_partitions)}
        payload = _json.dumps({str(p): o for p, o in bases.items()}).encode()
        cli.produce(
            _txn_topic(topic), 0, [(None, b"B:%d:%s" % (batch_id, payload))]
        )
    produce_dataframe(batch_df, bootstrap, topic, num_partitions)
    if fail_before_commit is not None and fail_before_commit(batch_id):
        # deterministic fault injection for crash-recovery proofs: die
        # in the produce->commit window, leaving an uncommitted claim
        raise RuntimeError(f"injected crash before commit of epoch {batch_id}")
    with KafkaWireClient(bootstrap) as cli:
        cli.produce(_txn_topic(topic), 0, [(None, b"C:%d" % batch_id)])


def read_committed_wire(spark, bootstrap: str, topic: str) -> "DataFrame":
    """Batch-read a wire topic with read-committed isolation: records
    inside aborted (begun-but-never-committed, or superseded-retry)
    claims are excluded via a broadcast interval join against the
    control-topic markers."""
    from pyspark.sql import functions as F

    with KafkaWireClient(bootstrap) as cli:
        md = cli.metadata([topic])
        parts = [p for _e, p, _l in md["topics"][topic][1]]
        hwm = {p: cli.list_offsets(topic, p) for p in parts}
        intervals = committed_intervals(_read_markers(cli, topic), hwm)
    rows = [
        (p, lo, hi) for p, ivs in intervals.items() for lo, hi in ivs
    ]
    register_kafka_wire_source(spark)
    data = (
        spark.read.format("arcon_kafka_wire")
        .option("bootstrap", bootstrap)
        .option("topic", topic)
        .load()
    )
    if not rows:
        return data.filter(F.lit(False))
    ivs = spark.createDataFrame(rows, "partition int, lo long, hi long")
    return (
        data.join(F.broadcast(ivs), "partition")
        .filter((F.col("offset") >= F.col("lo")) & (F.col("offset") < F.col("hi")))
        .drop("lo", "hi")
    )


@register(
    "stream_kafka_txn_sink_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(event_id) AS BIGINT) AS sum_event,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "kafka", "wire", "sink", "exactly_once", "survey2.5"),
)
def stream_kafka_txn_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAM → wire-broker produce under a mid-epoch
    crash: events stream through the transactional sink
    (append_stream_to_kafka_wire — begin marker with pre-produce base
    offsets, executor-side produce, commit marker), with a
    deterministically injected crash in epoch 1's produce→commit
    window. The restarted query redelivers the epoch, re-begins from
    fresh bases, and commits; the aborted first attempt stays on the
    append-only log (no truncation possible on a broker — this is
    Kafka's own transactional-marker model, vs the kafka_log sink's
    file-side rollback). The result aggregates a READ-COMMITTED batch
    read (read_committed_wire: broadcast interval join against the
    control-topic claims) — matching the raw-table oracle, with
    total_rows in every row, proves each record was observed exactly
    once despite duplicates physically present on the log (reference
    contract: epoch-committed sink, kafka.rs + epoch barriers)."""
    from arcon_spark.io import load_table
    from arcon_spark.streaming.tape import read_segments, write_segments

    parts = _KW_PARTS
    topic = "events"
    broker = MiniKafkaBroker(num_partitions=parts)
    try:
        bootstrap = broker.bootstrap
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type"
        )
        # two segments -> two epochs; epoch 1 crashes once mid-window
        root = write_segments(
            [
                ev.filter(F.col("event_id") % 2 == 0),
                ev.filter(F.col("event_id") % 2 == 1),
            ]
        )
        ck = scratch_dir("arcon_kwtxn_ck_")
        armed = {"live": True}

        def fail_once(epoch: int) -> bool:
            if epoch == 1 and armed.get("live"):
                armed["live"] = False
                return True
            return False

        def sink(batch_df, batch_id):
            payload = batch_df.select(
                F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
                F.encode(
                    F.concat_ws(",", "event_id", "user_id", "event_type"), "utf-8"
                ).alias("value"),
                F.pmod("user_id", F.lit(parts)).cast("int").alias("partition"),
            )
            append_stream_to_kafka_wire(
                payload, batch_id, bootstrap, topic, parts,
                fail_before_commit=fail_once,
            )

        def run() -> Exception | None:
            q = (
                read_segments(spark, root, ev.schema)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                return None
            except Exception as exc:
                return exc

        first = run()
        if first is None:  # pragma: no cover - the injection guarantees a crash
            raise RuntimeError("expected the injected epoch-1 crash")
        second = run()
        if second is not None:
            raise second

        # stage the committed read to parquet while the broker lives;
        # the returned frame must not depend on the closed socket
        out_dir = scratch_dir("arcon_kwtxn_out_") + "/rows"
        read_committed_wire(spark, bootstrap, topic).select("value").write.parquet(
            out_dir
        )
    finally:
        broker.close()

    csv = F.split(F.decode(F.col("value"), "utf-8"), ",")
    dec = spark.read.parquet(out_dir).select(
        csv.getItem(0).cast("long").alias("event_id"),
        csv.getItem(1).cast("long").alias("user_id"),
        csv.getItem(2).alias("event_type"),
    )
    from pyspark.sql.window import Window

    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("sum_user"),
        F.sum("event_id").cast("long").alias("sum_event"),
    )
    return agg.withColumn(
        "total_rows", F.sum("n").over(Window.partitionBy())
    )


@register(
    "stream_kafka_end_to_end",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "kafka", "wire", "exactly_once", "pipeline", "survey2.7"),
)
def stream_kafka_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full pipeline shape, end to end over real
    sockets: Kafka source → operator → Kafka sink with epoch-committed
    exactly-once on BOTH sides (kafka.rs source offsets in state +
    sink-on-epoch; epoch barriers §2.7). Events are produced to topic
    A; a paced stream (maxRecordsPerTrigger) reads A with
    Spark-checkpointed offsets, transforms each record (the operator
    stage), and transactionally produces to topic B — with an injected
    crash in one epoch's produce→commit window. The restart redelivers
    the epoch FROM THE CHECKPOINTED SOURCE OFFSETS and re-produces
    under a fresh begin marker; the aborted claim stays physically on
    topic B. The result aggregates a READ-COMMITTED read of topic B
    against the raw-table oracle: a hash-match (with total_rows in
    every row) proves the composition loses nothing (source-side r3
    bug class), duplicates nothing (sink-side isolation), exactly
    once, across a crash."""
    from arcon_spark.io import load_table

    parts = _KW_PARTS
    broker = MiniKafkaBroker(num_partitions=parts)
    try:
        bootstrap = broker.bootstrap
        register_kafka_wire_source(spark)
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type"
        )
        payload = ev.select(
            F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
            F.encode(
                F.concat_ws(",", "event_id", "user_id", "event_type"), "utf-8"
            ).alias("value"),
            F.pmod("user_id", F.lit(parts)).cast("int").alias("partition"),
        )
        produce_dataframe(payload, bootstrap, "in", parts)

        ck = scratch_dir("arcon_kwe2e_ck_")
        armed = {"live": True}

        def fail_once(epoch: int) -> bool:
            if armed.get("live"):
                armed["live"] = False
                return True
            return False

        def operator_and_sink(batch_df, batch_id):
            # the operator stage: uppercase the event_type inside the
            # CSV payload (a real record transform, reversed below so
            # the oracle stays on the raw table)
            csv = F.split(F.decode(F.col("value"), "utf-8"), ",")
            out = batch_df.select(
                "key",
                F.encode(
                    F.concat_ws(
                        ",",
                        csv.getItem(0),
                        csv.getItem(1),
                        F.upper(csv.getItem(2)),
                    ),
                    "utf-8",
                ).alias("value"),
                "partition",
            )
            append_stream_to_kafka_wire(
                out, batch_id, bootstrap, "out", parts,
                fail_before_commit=fail_once,
            )

        def run() -> Exception | None:
            q = (
                spark.readStream.format("arcon_kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "in")
                .option("maxRecordsPerTrigger", 4000)
                .load()
                .select("key", "value", "partition")
                .writeStream.foreachBatch(operator_and_sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                return None
            except Exception as exc:
                return exc

        first = run()  # ALWAYS crashes: the first epoch dies in its
        # produce->commit window, after the aborted rows hit topic B
        if first is None:  # pragma: no cover - injection guarantees it
            raise RuntimeError("expected the injected mid-pipeline crash")
        second = run()  # redelivery from the checkpointed source offsets
        if second is not None:
            raise second

        out_dir = scratch_dir("arcon_kwe2e_out_") + "/rows"
        read_committed_wire(spark, bootstrap, "out").select("value").write.parquet(
            out_dir
        )
    finally:
        broker.close()

    csv = F.split(F.decode(F.col("value"), "utf-8"), ",")
    dec = spark.read.parquet(out_dir).select(
        csv.getItem(1).cast("long").alias("user_id"),
        F.lower(csv.getItem(2)).alias("event_type"),  # undo the operator
    )
    from pyspark.sql.window import Window

    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("sum_user"),
    )
    return agg.withColumn(
        "total_rows", F.sum("n").over(Window.partitionBy())
    )
