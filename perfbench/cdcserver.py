"""The benchmark's CDC server: serves pre-serialized change logs over the
MaxScale CDC handshake (auth → OK, REGISTER → OK, REQUEST-DATA →
schema record, then events), one log per table.

* Open-loop schedule: event ``i`` of a log becomes available at
  ``t0 + due[i]`` whether or not a reader is connected; a log without a
  schedule is all available at once (a backlog). Until
  ``start_schedule()`` sets ``t0``, only events with a negative due time
  (a log's opening backlog) are available.
* Resume: ``REQUEST-DATA db.t <domain-server-seq>`` replays from the
  first event whose sequence is at or past the requested one, the
  inclusive replay of the reference.
* Backpressure: sockets stay blocking with no send timeout, so a slow
  reader stalls the sender and is never disconnected by the server.
* Every dial is recorded: accept time, resume GTID, handshake time
  (accept → REQUEST-DATA received), bytes and events sent, end time.
"""

from __future__ import annotations

import select
import socket
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from maxscale_cdc_connector_spark.sources.protocol import auth_string


@dataclass
class ServedLog:
    blob: bytes
    offsets: np.ndarray
    sequence: np.ndarray
    due: np.ndarray | None = None  # seconds after t0; None: all due at t0
    repeat: int = 1  # a backlog may be the same log sent ``repeat`` times


@dataclass
class Dial:
    table: str
    t_accept: float
    resume_gtid: str = ""
    resume_sequence: int = -1
    t_request: float = 0.0
    t_end: float = 0.0
    bytes_sent: int = 0
    events_sent: int = 0
    error: str = ""

    @property
    def handshake_ms(self) -> float:
        return (self.t_request - self.t_accept) * 1000.0 if self.t_request else float("nan")


@dataclass
class Lateness:
    """How late the open-loop sender released due events (seconds)."""

    samples: list[float] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, late_s: float) -> None:
        with self.lock:
            self.samples.append(late_s)


def _recv_message(sock: socket.socket, buf: bytearray) -> bytes:
    """One client message. Messages carry no delimiter (the client waits
    for each reply before sending the next), so a message is whatever
    has arrived: the leftover bytes, else one recv."""
    if not buf:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("client closed during handshake")
        buf.extend(chunk)
    msg = bytes(buf).strip()
    buf.clear()
    return msg


class CDCServer:
    """Threaded server for the logs in ``logs`` (keyed by ``db.table``)."""

    POLL_S = 0.005  # wake-up granularity of the open-loop sender

    def __init__(self, logs: dict[str, ServedLog], schema_line: bytes, user: str, password: str):
        self.logs = logs
        self.schema_line = schema_line
        self.auth = auth_string(user, password)
        self.t0: float | None = None
        self.dials: list[Dial] = []
        self.lateness = Lateness()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._conns: list[socket.socket] = []
        self._listener = socket.create_server(("127.0.0.1", 0), backlog=64)
        self._listener.settimeout(0.2)  # lets the accept loop see stop()
        self.port = self._listener.getsockname()[1]
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()

    def start_schedule(self) -> None:
        """Restart the open-loop clock: due times count from now."""
        self.t0 = time.monotonic()

    def available(self, table: str, now: float | None = None) -> int:
        """Events of ``table`` due by ``now`` (monotonic clock)."""
        log = self.logs[table]
        if log.due is None:
            return len(log.sequence)
        if self.t0 is None:
            return int(np.searchsorted(log.due, 0.0, side="left"))
        t = (time.monotonic() if now is None else now) - self.t0
        return int(np.searchsorted(log.due, t, side="right"))

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._listener.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            conn.setblocking(True)  # no send timeout: backpressure, never a close
            dial = Dial(table="", t_accept=time.monotonic())
            t = threading.Thread(target=self._serve, args=(conn, dial), daemon=True)
            with self._lock:
                self.dials.append(dial)
                self._conns.append(conn)
                self._threads.append(t)
            t.start()

    def _serve(self, sock: socket.socket, dial: Dial) -> None:
        try:
            self._session(sock, dial)
        except OSError as exc:  # reader closed mid-send: its batch ended
            dial.error = type(exc).__name__
        except Exception as exc:  # noqa: BLE001 — recorded, the reader sees the close
            dial.error = f"{type(exc).__name__}: {exc}"
        finally:
            dial.t_end = time.monotonic()
            sock.close()

    def _session(self, sock: socket.socket, dial: Dial) -> None:
        buf = bytearray()
        while len(buf) < len(self.auth):
            chunk = sock.recv(len(self.auth) - len(buf))
            if not chunk:
                return
            buf.extend(chunk)
        if bytes(buf[: len(self.auth)]) != self.auth:
            sock.sendall(b"ERR authentication failed\n")
            return
        del buf[: len(self.auth)]
        sock.sendall(b"OK\n")
        _recv_message(sock, buf)  # REGISTER UUID=..., TYPE=JSON
        sock.sendall(b"OK\n")
        parts = _recv_message(sock, buf).decode().split()  # REQUEST-DATA db.t [gtid]
        dial.t_request = time.monotonic()
        dial.table = parts[1]
        log = self.logs.get(dial.table)
        if log is None:
            sock.sendall(f"ERR unknown table {dial.table}\n".encode())
            return
        pos = 0
        if len(parts) > 2:
            dial.resume_gtid = parts[2]
            dial.resume_sequence = int(parts[2].split("-")[2])
            pos = int(np.searchsorted(log.sequence, dial.resume_sequence, side="left"))
        sock.sendall(self.schema_line)
        n = len(log.sequence)
        view = memoryview(log.blob)
        if log.due is None:
            for _ in range(log.repeat):
                sock.sendall(view[log.offsets[pos]:])
                dial.bytes_sent += len(log.blob) - int(log.offsets[pos])
                dial.events_sent += n - pos
                pos = 0
        else:
            while pos < n and not self._stop.is_set():
                now = time.monotonic()
                avail = self.available(dial.table, now)
                if avail > pos:
                    due_first = (self.t0 or 0.0) + float(log.due[pos])
                    if self.t0 is not None and due_first > dial.t_request:
                        self.lateness.add(now - due_first)  # became due while connected
                    sock.sendall(view[log.offsets[pos]:log.offsets[avail]])
                    dial.bytes_sent += int(log.offsets[avail] - log.offsets[pos])
                    dial.events_sent += avail - pos
                    pos = avail
                    continue
                wait = self.POLL_S
                if self.t0 is not None:
                    wait = min(wait, max(0.0, self.t0 + float(log.due[pos]) - now))
                if select.select([sock], [], [], wait)[0] and not sock.recv(4096):
                    return  # reader closed: its batch ended
        # Everything sent: hold the connection (idle) until the reader closes.
        while not self._stop.is_set():
            if select.select([sock], [], [], 0.1)[0] and not sock.recv(4096):
                return

    def stop(self) -> None:
        """Close the listener and every connection, then join all threads."""
        self._stop.set()
        self._accept_thread.join()
        self._listener.close()
        with self._lock:
            conns, threads = list(self._conns), list(self._threads)
        for c in conns:
            try:
                c.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        for t in threads:
            t.join()
