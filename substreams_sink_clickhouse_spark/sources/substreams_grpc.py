"""Live Substreams gRPC source (SURVEY O1's missing transport leg).

The reference outsources its entire transport to the external
``substreams-sink`` Go library (/root/reference/cmd/substreams-sink-clickhouse/run.go:92-98,
sinker/sinker.go:92): connect to an endpoint, stream ``Response``
messages, decode each ``BlockScopedData``'s ``DatabaseChanges`` payload,
flush on cadence, persist the opaque cursor, reconnect on failure.

This module implements that client natively on the engine's own
dependency-free wire codec (``protobuf_wire``):

* ``encode_blocks_request`` / ``parse_response`` speak the public
  ``sf.substreams.rpc.v2`` wire format (streamingfast/substreams,
  proto/sf/substreams/rpc/v2/service.proto) directly — request and
  response framing are hand-encoded proto3, so NO generated stubs are
  needed;
* ``SubstreamsLiveSource`` drives a bytes-level ``grpc`` channel
  (identity serializers) and spools each block's payload to a parquet
  directory that ``ChangesIngestPipeline.start_protobuf`` tails — the
  same decoupling the reference has between its sink library and its
  flush kernel, and the natural Spark boundary (network I/O on one
  side, Structured Streaming on the other);
* reconnect-with-backoff resumes from the last spooled cursor, the
  policy ``run_with_retries`` applies on the processing side.

``grpcio`` is not in this container, so the network leg is
import-gated with an actionable error; everything up to the socket —
request encoding, response parsing, cursor resume, spooling — is pure
and unit-tested (tests/test_substreams_grpc.py).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
    _fields_of,
    _len_delim,
    _varint_field,
)

#: Fully-qualified method the reference's sink library calls.
BLOCKS_METHOD = "/sf.substreams.rpc.v2.Stream/Blocks"

#: Accepted output types (run.go:94: current + legacy name).
ACCEPTED_TYPE_URLS = (
    "type.googleapis.com/sf.substreams.sink.database.v1.DatabaseChanges",
    "type.googleapis.com/sf.substreams.database.v1.DatabaseChanges",
)

_U64 = (1 << 64) - 1


def parse_block_range(block_range: str) -> tuple[int, int | None]:
    """Parse the reference's positional ``[<start>:<stop>]`` argument
    (run.go:22,57-60).  ``""`` -> (0, None); ``"100:200"`` -> (100, 200);
    ``"100:"`` -> (100, None)."""
    if not block_range:
        return 0, None
    if ":" in block_range:
        start_s, stop_s = block_range.split(":", 1)
    else:
        start_s, stop_s = block_range, ""
    start = int(start_s) if start_s else 0
    stop = int(stop_s) if stop_s else None
    if stop is not None and stop <= start:
        raise ValueError(f"empty block range {block_range!r}")
    return start, stop


def encode_blocks_request(
    output_module: str,
    start_block: int = 0,
    stop_block: int | None = None,
    cursor: str | None = None,
    final_blocks_only: bool = True,
    production_mode: bool = True,
) -> bytes:
    """Wire-encode ``sf.substreams.rpc.v2.Request``.

    Field tags (service.proto): start_block_num=1 (int64; negative
    means head-relative, encoded two's-complement like any proto
    int64), start_cursor=2, stop_block_num=3, final_blocks_only=4,
    production_mode=5, output_module=6.  (The ``modules`` package
    payload, tag 7, is endpoint-resolved server-side when the module
    is registered; a full manifest push would attach it here.)
    """
    out = bytearray()
    if start_block:
        out += _varint_field(1, start_block & _U64)
    if cursor:
        out += _len_delim(2, cursor.encode("utf-8"))
    if stop_block is not None:
        out += _varint_field(3, stop_block)
    if final_blocks_only:
        out += _varint_field(4, 1)
    if production_mode:
        out += _varint_field(5, 1)
    out += _len_delim(6, output_module.encode("utf-8"))
    return bytes(out)


def parse_blocks_request(buf: bytes) -> dict:
    """Server-side decode of ``sf.substreams.rpc.v2.Request`` — the
    exact inverse of :func:`encode_blocks_request` (same field tags).
    Used by loopback servers (tests) to assert what a resuming client
    actually sent; negative head-relative start blocks come back
    signed."""
    out = {
        "start_block": 0,
        "cursor": None,
        "stop_block": None,
        "final_blocks_only": False,
        "production_mode": False,
        "output_module": None,
    }
    for tag, wire, val in _fields_of(buf):
        if tag == 1 and wire == 0:
            v = int(val)
            out["start_block"] = v - (1 << 64) if v >> 63 else v
        elif tag == 2 and wire == 2:
            out["cursor"] = bytes(val).decode("utf-8")
        elif tag == 3 and wire == 0:
            out["stop_block"] = int(val)
        elif tag == 4 and wire == 0:
            out["final_blocks_only"] = bool(val)
        elif tag == 5 and wire == 0:
            out["production_mode"] = bool(val)
        elif tag == 6 and wire == 2:
            out["output_module"] = bytes(val).decode("utf-8")
    return out


class RawSocketChannel:
    """Development/loopback transport: gRPC's 5-byte message framing
    (1-byte compressed flag + u32-BE length) over a plain TCP socket,
    with the method name sent as one utf-8 line up front.

    This is NOT HTTP/2 — production traffic goes through grpcio's
    channel (HTTP/2 + HPACK + TLS).  What it IS: a real socket the
    full client state machine runs against, so connect → stream →
    undo → abrupt-disconnect reconnect → cursor resume → spool are
    end-to-end testable in a grpcio-less environment
    (tests/test_substreams_loopback.py).  The message framing and all
    request/response bytes are the engine's own wire codec — identical
    on both transports.
    """

    def __init__(self, host: str, port: int, connect_timeout_s: float = 5.0):
        self.host = host
        self.port = port
        self.connect_timeout_s = connect_timeout_s

    def unary_stream(self, method, request_serializer, response_deserializer):
        import socket
        import struct

        def call(request: bytes, metadata=None):
            sock = socket.create_connection(
                (self.host, self.port), timeout=self.connect_timeout_s
            )
            try:
                sock.sendall(method.encode("utf-8") + b"\n")
                body = request_serializer(request)
                sock.sendall(b"\x00" + struct.pack(">I", len(body)) + body)

                def read_exact(n: int) -> bytes:
                    buf = b""
                    while len(buf) < n:
                        chunk = sock.recv(n - len(buf))
                        if not chunk:
                            if buf:
                                raise ConnectionError("mid-frame disconnect")
                            return b""  # clean end of stream
                        buf += chunk
                    return buf

                while True:
                    header = read_exact(5)
                    if not header:
                        return
                    flag = header[0]
                    if flag not in (0, 1):
                        raise ConnectionError(f"bad frame flag {flag}")
                    (length,) = struct.unpack(">I", header[1:])
                    payload = read_exact(length)
                    if len(payload) != length:
                        raise ConnectionError("truncated frame")
                    yield response_deserializer(payload)
            finally:
                sock.close()

        return call


@dataclass
class BlockScopedData:
    """One streamed block: identity + cursor + the module's payload."""

    block_id: str
    block_num: int
    cursor: str
    type_url: str
    payload: bytes


@dataclass
class BlockUndoSignal:
    """Reorg notice: everything after ``last_valid_block`` is invalid;
    resume from ``last_valid_cursor``."""

    last_valid_block: int
    last_valid_id: str
    last_valid_cursor: str


def _parse_clock(buf: bytes) -> tuple[str, int]:
    block_id, number = "", 0
    for tag, wire, val in _fields_of(buf):
        if tag == 1 and wire == 2:
            block_id = val.decode("utf-8")
        elif tag == 2 and wire == 0:
            number = val
    return block_id, number


def _parse_any(buf: bytes) -> tuple[str, bytes]:
    type_url, value = "", b""
    for tag, wire, val in _fields_of(buf):
        if tag == 1 and wire == 2:
            type_url = val.decode("utf-8")
        elif tag == 2 and wire == 2:
            value = val
    return type_url, value


def _parse_map_output(buf: bytes) -> tuple[str, bytes]:
    """MapModuleOutput: name=1, map_output=2 (google.protobuf.Any)."""
    for tag, wire, val in _fields_of(buf):
        if tag == 2 and wire == 2:
            return _parse_any(val)
    return "", b""


def _parse_block_scoped_data(buf: bytes) -> BlockScopedData:
    """BlockScopedData: output=1 (MapModuleOutput), clock=2, cursor=3."""
    type_url, payload = "", b""
    block_id, block_num, cursor = "", 0, ""
    for tag, wire, val in _fields_of(buf):
        if tag == 1 and wire == 2:
            type_url, payload = _parse_map_output(val)
        elif tag == 2 and wire == 2:
            block_id, block_num = _parse_clock(val)
        elif tag == 3 and wire == 2:
            cursor = val.decode("utf-8")
    return BlockScopedData(block_id, block_num, cursor, type_url, payload)


def _parse_block_ref(buf: bytes) -> tuple[str, int]:
    ref_id, number = "", 0
    for tag, wire, val in _fields_of(buf):
        if tag == 1 and wire == 2:
            ref_id = val.decode("utf-8")
        elif tag == 2 and wire == 0:
            number = val
    return ref_id, number


def parse_response(buf: bytes) -> BlockScopedData | BlockUndoSignal | None:
    """Parse one ``sf.substreams.rpc.v2.Response``.

    Oneof tags: session=1, progress=2, block_scoped_data=3,
    block_undo_signal=4.  Session/progress (and unknown tags) return
    ``None`` — they carry no data the sink acts on beyond logging.
    """
    for tag, wire, val in _fields_of(buf):
        if tag == 3 and wire == 2:
            return _parse_block_scoped_data(val)
        if tag == 4 and wire == 2:
            last_id, last_num, last_cursor = "", 0, ""
            for t2, w2, v2 in _fields_of(val):
                if t2 == 1 and w2 == 2:
                    last_id, last_num = _parse_block_ref(v2)
                elif t2 == 2 and w2 == 2:
                    last_cursor = v2.decode("utf-8")
            return BlockUndoSignal(last_num, last_id, last_cursor)
    return None


@dataclass
class SubstreamsLiveSource:
    """Connect → stream → spool loop with cursor resume.

    Writes each accepted ``BlockScopedData`` into ``spool_dir`` as
    parquet rows ``(block_num, block_id, value binary)`` — the exact
    schema ``ChangesIngestPipeline.start_protobuf`` tails — batching
    ``spool_batch`` blocks per file (the catch-up flush analog;
    sinker.go:189-193 flushes every 1000 blocks historically).
    """

    endpoint: str
    output_module: str
    spool_dir: str
    start_block: int = 0
    stop_block: int | None = None
    plaintext: bool = False
    auth_token: str | None = None
    spool_batch: int = 1000
    max_reconnects: int = 10
    backoff_s: float = 0.5
    backoff_cap_s: float = 30.0
    #: observed reorgs, surfaced so the pipeline can roll back
    undo_signals: list[BlockUndoSignal] = field(default_factory=list)
    #: Transport override: a zero-arg callable returning a channel-like
    #: object (``unary_stream(method, ser, deser) -> call``).  None =
    #: grpcio (production).  Loopback tests inject
    #: :class:`RawSocketChannel` here to run the full state machine
    #: over a real socket without grpcio.
    channel_factory: Callable[[], object] | None = None

    def _channel(self):
        if self.channel_factory is not None:
            return self.channel_factory()
        try:
            import grpc
        except ImportError as exc:
            raise NotImplementedError(
                "live Substreams ingest needs the grpcio package "
                "(pip install grpcio); this container ships without it. "
                "Use the JSONL / parquet-wire sources instead — "
                "request/response encoding, cursor resume, and spooling "
                "are all exercised without the socket in "
                "tests/test_substreams_grpc.py"
            ) from exc
        if self.plaintext:
            return grpc.insecure_channel(self.endpoint)
        return grpc.secure_channel(self.endpoint, grpc.ssl_channel_credentials())

    def _stream(self, channel, cursor: str | None) -> Iterator[bytes]:
        """Raw byte-level Blocks call: identity serializers, so the
        engine's wire codec does all encoding/decoding."""
        call = channel.unary_stream(
            BLOCKS_METHOD,
            request_serializer=lambda b: b,
            response_deserializer=lambda b: b,
        )
        request = encode_blocks_request(
            self.output_module,
            start_block=self.start_block,
            stop_block=self.stop_block,
            cursor=cursor,
        )
        metadata = []
        if self.auth_token:
            metadata.append(("authorization", f"bearer {self.auth_token}"))
        return call(request, metadata=metadata or None)

    def _spool(self, batch: list[BlockScopedData], seq: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.spool_dir, exist_ok=True)
        table = pa.table(
            {
                "block_num": pa.array([b.block_num for b in batch], pa.int64()),
                "block_id": pa.array([b.block_id for b in batch], pa.string()),
                "value": pa.array([b.payload for b in batch], pa.binary()),
            }
        )
        tmp = os.path.join(self.spool_dir, f".spool-{seq:08d}.parquet.tmp")
        pq.write_table(table, tmp)
        # atomic publish: the tailing file stream must never see a
        # half-written file
        os.rename(tmp, os.path.join(self.spool_dir, f"spool-{seq:08d}.parquet"))

    def _next_spool_seq(self) -> int:
        """First unused spool file number in ``spool_dir`` (0 for a
        fresh directory).  Only names this source itself writes
        (``spool-<digits>.parquet``) count — a stray user-copied
        ``spool-backup.parquet`` must not abort startup.  ``{seq:08d}``
        widens past 8 digits at seq ≥ 10^8, so the match accepts 8 OR
        MORE digits; requiring exactly 8 would hide those files after
        a restart and let os.rename overwrite them."""
        import re

        try:
            names = os.listdir(self.spool_dir)
        except OSError:
            return 0
        seqs = [
            int(m.group(1))
            for n in names
            if (m := re.fullmatch(r"spool-(\d{8,})\.parquet", n))
        ]
        return max(seqs) + 1 if seqs else 0

    def run(
        self,
        resume_cursor: str | None = None,
        on_cursor: Callable[[str, int], None] | None = None,
    ) -> str | None:
        """Stream until ``stop_block`` (or forever), spooling payloads.

        Returns the final cursor.  Reconnects with capped exponential
        backoff, resuming from the last spooled cursor — the policy
        the reference inherits from its sink library (run.go:92-98).

        Checkpoint semantics: ``on_cursor`` fires only AFTER a batch
        is durably spooled, with the cursor of that batch's last
        message — the reference commits its cursor atomically with the
        flushed data in one transaction (db/flush.go:52-56), and
        firing per accepted message would let a hard crash (kill/OOM)
        between durable cursor persistence and the spool permanently
        skip those blocks on resume.  The in-run ``cursor`` variable
        is resume-only state (what the next reconnect asks the server
        for); never persist it ahead of the spool.
        """
        cursor = resume_cursor
        reconnects = 0
        # resume into an existing spool_dir continues the sequence —
        # restarting at 0 would atomically os.rename OVER the earlier
        # files, losing blocks the cursor says were delivered
        seq = self._next_spool_seq()
        batch: list[BlockScopedData] = []

        def flush() -> None:
            """Spool the pending batch, then (and only then) report its
            last cursor as checkpointable."""
            nonlocal seq, batch
            if not batch:
                return
            last = batch[-1]
            self._spool(batch, seq)
            seq += 1
            batch = []
            if on_cursor is not None:
                on_cursor(last.cursor, last.block_num)

        while True:
            try:
                channel = self._channel()
                for raw in self._stream(channel, cursor):
                    msg = parse_response(raw)
                    if msg is None:
                        continue
                    if isinstance(msg, BlockUndoSignal):
                        # flush what's valid, record the reorg, resume
                        # from the fork point (pipeline rolls back via
                        # handle_block_undo_signal)
                        flush()
                        self.undo_signals.append(msg)
                        cursor = msg.last_valid_cursor
                        continue
                    if msg.type_url not in ACCEPTED_TYPE_URLS:
                        # flush accepted blocks first: the resume cursor
                        # already advanced past them, so raising with
                        # the batch unspooled would lose them exactly
                        # like the transport-error path used to
                        flush()
                        raise ValueError(
                            f"unexpected output type {msg.type_url!r}; "
                            f"expected one of {ACCEPTED_TYPE_URLS}"
                        )
                    batch.append(msg)
                    cursor = msg.cursor
                    if len(batch) >= self.spool_batch:
                        flush()
                return_cursor = cursor
                flush()
                return return_cursor
            except (NotImplementedError, ValueError):
                raise
            except Exception:  # noqa: BLE001 - transport errors retry
                # CRITICAL: flush the pending batch BEFORE reconnecting.
                # ``cursor`` has already advanced past these accepted
                # messages, so the resumed stream will never re-send
                # them — dropping the batch here would silently lose
                # blocks (found by the loopback e2e: a mid-stream
                # disconnect after an accepted-but-unspooled block).
                # If the SPOOL itself is what failed (disk full), keep
                # the batch in memory and let the backoff loop retry —
                # the resume cursor skips re-sent blocks, so nothing
                # duplicates and nothing is lost while retries remain.
                # (on_cursor stays unfired for an unspooled batch, so a
                # terminal raise here can never persist a cursor past
                # unspooled data.)
                try:
                    flush()
                except Exception:  # noqa: BLE001 - retried below
                    pass
                reconnects += 1
                if reconnects > self.max_reconnects:
                    raise
                time.sleep(
                    min(self.backoff_s * 2 ** (reconnects - 1), self.backoff_cap_s)
                )
