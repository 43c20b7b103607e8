"""MaxScale CDC wire-protocol client (the transport under the Spark source).

Implements the avrorouter CDC session protocol the reference library
speaks (behavioral spec, all cited from /root/reference):

* authenticate with ``hex(user + ":") + hex(sha1(password))``, expect a
  response starting ``OK`` (cdc_connector.cpp:65-77,366-403),
* register as a JSON-format consumer with
  ``REGISTER UUID=..., TYPE=JSON`` (cdc_connector.cpp:405-443),
* request one table's change stream, optionally from a GTID:
  ``REQUEST-DATA db.table [gtid]`` (cdc_connector.cpp:199-206),
* then consume newline-delimited JSON records — a schema record first,
  data records after; the schema can change mid-stream
  (cdc_connector.cpp:321-360,459-518),
* server errors arrive as ``ERR``-prefixed lines before the stream is
  established (cdc_connector.cpp:445-457,494-504),
* a read timeout is a normal condition, not an error — the stream is
  just idle (cdc_connector.cpp:487-491).

Design differences from the reference (deliberate, Spark-first):

* Timeouts surface as ``None`` from :meth:`CDCClient.read_raw_block`
  (and :meth:`CDCClient.read_record`) — the Structured Streaming reader
  maps the block read's ``None`` to the end of its micro-batch. The
  block read keeps one silence clock across calls, so a read is idle
  one timeout after its last byte, not one timeout after each call.
* A mid-stream schema record raises :class:`SchemaChangedError` carrying
  the new schema: a Spark streaming query has a fixed schema, so the
  query must stop and be restarted with the new schema (SURVEY.md §7
  hard-part 1). The initial schema record is consumed silently.
* JSON ``null`` stays ``None`` (true SQL NULL downstream), not ``""``.
"""

from __future__ import annotations

import hashlib
import json
import socket
import time
from typing import Any

REGISTER_MESSAGE = "REGISTER UUID=CDC_CONNECTOR-1.0.0, TYPE=JSON"
DEFAULT_TIMEOUT = 10.0  # seconds (reference default, cdc_connector.h:58)
MAX_LINE_BYTES = 16 * 1024 * 1024  # sanity bound on one JSON event line


class CDCProtocolError(RuntimeError):
    """Handshake failure or an ERR response from the server."""


class SchemaChangedError(RuntimeError):
    """The server pushed a new schema record mid-stream (ALTER TABLE).

    Carries the raw schema record; the caller restarts the stream with a
    schema built from it.
    """

    def __init__(self, schema_record: dict[str, Any]):
        super().__init__("CDC stream schema changed mid-stream; restart required")
        self.schema_record = schema_record


def auth_string(user: str, password: str) -> bytes:
    """``hex(user + ":") + hex(sha1(password))`` per the reference's
    credential format (cdc_connector.cpp:65-77)."""
    user_hex = (user + ":").encode("utf-8").hex()
    pw_hex = hashlib.sha1(password.encode("utf-8")).hexdigest()
    return (user_hex + pw_hex).encode("ascii")


def is_schema_record(obj: dict[str, Any]) -> bool:
    """Schema-record detection per is_schema (cdc_connector.cpp:237-248)."""
    fields = obj.get("fields")
    return (
        isinstance(fields, list)
        and len(fields) > 0
        and isinstance(fields[0], dict)
        and "name" in fields[0]
    )


class CDCClient:
    """One CDC session: one table's ordered change stream over one socket.

    The reference couples this 1:1 with the application thread; here
    each streaming read task on an executor opens one for its stream's
    micro-batch (a single-socket stream is inherently serial at the
    source — parallelism comes from more streams, exactly like the
    partitions of a Kafka topic).
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        password: str,
        table: str,
        gtid: str | None = None,
        timeout: float = DEFAULT_TIMEOUT,
        handshake_timeout: float | None = None,
    ) -> None:
        self.host = host
        self.port = port
        self.user = user
        self.password = password
        self.table = table
        self.start_gtid = gtid
        self.timeout = timeout
        # The handshake (dial, auth, REGISTER, REQUEST-DATA, leading
        # schema record) answers in milliseconds on a healthy server, so
        # its deadline is a FAILURE detector — the reference gives it the
        # full session timeout (cdc_connector.h:58). ``timeout`` doubles
        # as the micro-batch IDLE POLL in the streaming readers (0.1 s is
        # a reasonable poll), and conflating the two made every connect
        # race a hair-trigger deadline: 32+ executors dialing at once
        # blew the 100 ms budget on scheduling noise alone (r10 bench).
        # Default: never tighter than the reference's 10 s.
        self.handshake_timeout = (
            handshake_timeout
            if handshake_timeout is not None
            else max(timeout, DEFAULT_TIMEOUT)
        )
        self._sock: socket.socket | None = None
        self._buf = bytearray()
        self._pos = 0  # consumed prefix of _buf (compacted lazily)
        self.schema_record: dict[str, Any] | None = None
        self._streaming = False  # handshake done, data may flow
        # The idle clock of read_raw_block: seconds of silence observed
        # in recv since bytes last arrived (zero through connect(), whose
        # last bytes are the leading schema record; reset by every
        # non-empty recv). Idle is ``timeout`` of it, however many calls
        # it spans.
        self._quiet_s = 0.0

    # -- session ------------------------------------------------------------

    def connect(self) -> None:
        """Dial, authenticate, register, request the stream, and consume
        the leading schema record (connect() pre-reads it so callers see
        data records only — parity with cdc_connector.cpp:214)."""
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.handshake_timeout
        )
        # A replaying avrorouter can push hundreds of MB/s; a deep
        # receive buffer lets the server run ahead of decode stalls and
        # makes each recv() return near-MB chunks (fewer syscall
        # wakeups on the framing hot path). Best-effort — the kernel
        # clamps to net.core.rmem_max.
        try:
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 22)
        except OSError:
            pass
        self._send(auth_string(self.user, self.password))
        self._expect_ok("authentication")
        self._send(REGISTER_MESSAGE.encode("ascii"))
        self._expect_ok("registration")
        request = f"REQUEST-DATA {self.table}"
        if self.start_gtid:
            request += f" {self.start_gtid}"
        self._send(request.encode("utf-8"))
        first = self._read_json(allow_timeout=False)
        if not is_schema_record(first):
            raise CDCProtocolError(
                f"expected schema record as first message, got: {str(first)[:200]}"
            )
        self.schema_record = first
        self._streaming = True
        # Streaming reads use the idle-poll timeout: a quiet socket is a
        # normal condition there (timeout-as-idle, cdc_connector.cpp:
        # 487-491), not the failure the handshake deadline detects.
        self._sock.settimeout(self.timeout)

    def close(self) -> None:
        """Best-effort CLOSE + socket teardown; idempotent
        (cdc_connector.cpp:225-235)."""
        if self._sock is not None:
            try:
                self._send(b"CLOSE")
            except OSError:
                pass
            try:
                self._sock.close()
            finally:
                self._sock = None
        self._streaming = False

    def __enter__(self) -> CDCClient:
        self.connect()
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()

    # -- record loop --------------------------------------------------------

    def read_record(self) -> dict[str, Any] | None:
        """Next data record as a parsed dict, or ``None`` on idle timeout.

        Raises :class:`SchemaChangedError` when the server pushes a new
        schema record mid-stream.
        """
        assert self._sock is not None, "not connected"
        self._sock.settimeout(self.timeout)  # read_raw_block narrows it
        obj = self._read_json(allow_timeout=True)
        if obj is None:
            return None
        if is_schema_record(obj):
            raise SchemaChangedError(obj)
        return obj

    def read_raw_block(
        self, max_lines: int, max_seconds: float | None = None
    ) -> tuple[bytes, int] | None:
        """Up to ``max_lines`` complete newline-delimited event lines as
        ONE contiguous ``(block, n_lines)`` byte block (interior ``\\n``
        separators, no trailing newline), UNPARSED; ``None`` on idle
        timeout with nothing complete buffered. Framing only — the
        partitioned reader batch-decodes the block columnar
        (pyarrow.json is ~30× json.loads), and the block form keeps the
        hot path free of the O(lines) split/join that a list-of-lines
        API forces (measured ~25% of decode CPU at 600k ev). The cap is
        approximate (±one receive chunk) — any batch boundary is safe,
        the (gtid, event_number) cursor makes caps transaction-split
        tolerant. Disconnection with complete lines in hand returns
        them first; the NEXT call raises ``ConnectionError``.

        Idle is ``timeout`` of silence since bytes last arrived, not
        since this call began: each recv waits only what remains of it
        (``_quiet_s`` sums the silence recv has seen). A block that ended
        on silence has spent all of it, so the next call returns ``None``
        without a recv, and a read ends one ``timeout`` after its last
        byte. Time between calls is not counted: bytes may have arrived
        unread while the caller was busy.

        ``max_seconds`` bounds ACCUMULATION time: a steady trickle whose
        inter-event gaps stay below the socket timeout would otherwise
        keep this call collecting toward ``max_lines`` indefinitely
        (never idle, cap hours away at low rates). With lines in hand, a
        recv waits no longer than the budget's remainder.
        """
        assert self._sock is not None, "not connected"
        deadline = None if max_seconds is None else time.monotonic() + max_seconds
        parts: list[bytes] = []
        n = 0
        while n < max_lines:
            last_nl = self._buf.rfind(b"\n", self._pos)
            if last_nl >= self._pos:
                region = bytes(self._buf[self._pos : last_nl])
                self._pos = last_nl + 1
                if self._pos >= 1 << 20:  # drop ≥1 MiB of consumed prefix
                    del self._buf[: self._pos]
                    self._pos = 0
                if not region:
                    continue
                if (
                    region.startswith(b"\n")
                    or region.endswith(b"\n")
                    or b"\n\n" in region
                ):
                    # endswith matters: wire ``b"abc\n\n"`` leaves
                    # ``region == b"abc\n"`` (rfind consumed only the
                    # SECOND newline), which the other two checks miss —
                    # the stray trailing \n would both over-count n and
                    # re-enter the joined block as an empty line.
                    # Blank lines (not produced by avrorouter, but keep
                    # the framing total): normalize so counting by \n is
                    # exact. Rare path — pays the split only when seen.
                    region = b"\n".join(ln for ln in region.split(b"\n") if ln)
                    if not region:
                        continue
                parts.append(region)
                n += region.count(b"\n") + 1
                continue
            if len(self._buf) - self._pos > MAX_LINE_BYTES:
                raise CDCProtocolError("CDC event line exceeds 16 MiB bound")
            wait = self.timeout - self._quiet_s
            if parts and deadline is not None:
                wait = min(wait, deadline - time.monotonic())
            if wait <= 0:  # settimeout(0) would mean non-blocking
                break
            self._sock.settimeout(wait)
            try:
                chunk = self._sock.recv(1 << 20)
            except (TimeoutError, socket.timeout):
                self._quiet_s += wait
                break
            if not chunk:
                if parts:
                    break
                raise ConnectionError("CDC server closed the connection")
            self._quiet_s = 0.0
            self._buf.extend(chunk)
        if not parts:
            return None
        return b"\n".join(parts), n

    # -- wire helpers -------------------------------------------------------

    def _send(self, payload: bytes) -> None:
        assert self._sock is not None, "not connected"
        self._sock.sendall(payload)

    def _expect_ok(self, stage: str) -> None:
        line = self._read_line(allow_timeout=False)
        if line is None or not line.startswith(b"OK"):
            text = (line or b"<timeout>").decode("utf-8", "replace").strip()
            raise CDCProtocolError(f"{stage} failed: {text}")

    def _read_json(self, allow_timeout: bool) -> dict[str, Any] | None:
        line = self._read_line(allow_timeout=allow_timeout)
        if line is None:
            return None
        # Pre-stream, the server reports failures as ERR lines
        # (cdc_connector.cpp:449,494-504); once data flows, any line is
        # an event and must parse as JSON.
        if not self._streaming and line.startswith(b"ERR"):
            raise CDCProtocolError(line.decode("utf-8", "replace").strip())
        try:
            return json.loads(line)
        except json.JSONDecodeError as exc:
            raise CDCProtocolError(
                f"malformed CDC event line: {line[:200]!r}"
            ) from exc

    def _read_line(self, allow_timeout: bool) -> bytes | None:
        """One ``\\n``-delimited line; ``None`` on idle timeout (when
        allowed). Disconnection raises ``ConnectionError``.

        The consumed prefix is tracked by offset and compacted lazily
        (``del`` from the front per line is O(buffer) — quadratic per
        received chunk when the socket outruns the parser, which a
        loopback or datacenter link does)."""
        assert self._sock is not None, "not connected"
        while True:
            nl = self._buf.find(b"\n", self._pos)
            if nl >= 0:
                line = bytes(self._buf[self._pos : nl])
                self._pos = nl + 1
                if self._pos >= 1 << 20:  # drop ≥1 MiB of consumed prefix
                    del self._buf[: self._pos]
                    self._pos = 0
                return line
            if len(self._buf) - self._pos > MAX_LINE_BYTES:
                raise CDCProtocolError("CDC event line exceeds 16 MiB bound")
            try:
                chunk = self._sock.recv(64 * 1024)
            except (TimeoutError, socket.timeout):
                if self._pending_err():
                    return self._drain_buf()
                if allow_timeout:
                    return None
                raise CDCProtocolError("Request timed out") from None
            if not chunk:
                if self._pending_err():
                    return self._drain_buf()
                raise ConnectionError("CDC server closed the connection")
            self._buf.extend(chunk)

    def _pending_err(self) -> bool:
        """Pre-stream ERR responses may arrive WITHOUT a trailing newline
        (the reference works around exactly this, cdc_connector.cpp:
        494-504 is_error() on the raw chunk): surface the buffered
        partial line as the error instead of a generic timeout."""
        return not self._streaming and self._buf.startswith(b"ERR", self._pos)

    def _drain_buf(self) -> bytes:
        line = bytes(self._buf[self._pos :])
        self._buf.clear()
        self._pos = 0
        return line
