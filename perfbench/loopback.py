"""Loopback ClickHouse HTTP endpoint, served from the benchmark process.

It speaks just enough of the ClickHouse HTTP interface for
``ClickHouseSink`` driven through the engine's real ``http_transport``:
the table-exists and has-``source`` probes, CREATE / ALTER / TRUNCATE, and
``INSERT ... FORMAT TSV``.  It stores INSERT payloads per table so the
benchmark can check what was loaded, and counts requests, rows and bytes.
At most ``max_connections`` requests are served at once.
"""

from __future__ import annotations

import re
import threading
import urllib.parse
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_EXISTS = re.compile(r"FROM system\.tables WHERE database = '([^']*)' AND name = '([^']*)'")
_HAS_SOURCE = re.compile(r"FROM system\.columns WHERE database = '([^']*)' AND table = '([^']*)' AND name = 'source'")
_CREATE = re.compile(r"^CREATE TABLE (\S+)\.(\S+) \(")
_ALTER = re.compile(r"^ALTER TABLE (\S+)\.(\S+) ADD COLUMN source ")
_TRUNCATE = re.compile(r"^TRUNCATE TABLE (\S+)\.(\S+)$")
_INSERT = re.compile(r"^INSERT INTO (\S+)\.(\S+) \(name, version, license, source\) .* FORMAT TSV$")


@dataclass
class Counters:
    requests: int = 0
    inserts: int = 0
    rows_acked: int = 0
    bytes_posted: int = 0
    failed_requests: int = 0


@dataclass
class _Table:
    has_source: bool = True
    payloads: list[bytes] = field(default_factory=list)


def _unescape(v: str) -> str:
    if "\\" not in v:
        return v
    return re.sub(r"\\(.)", lambda m: {"t": "\t", "n": "\n", "r": "\r"}.get(m.group(1), m.group(1)), v)


class LoopbackClickHouse:
    """Start with ``start()``; ``url`` is then the transport base URL."""

    def __init__(self, max_connections: int):
        self.counters = Counters()
        self._tables: dict[tuple[str, str], _Table] = {}
        self._lock = threading.Lock()
        self._slots = threading.BoundedSemaphore(max_connections)
        self._server = _BoundedServer(("127.0.0.1", 0), self._handler(), self._slots)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> LoopbackClickHouse:
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=30)

    def snapshot(self) -> Counters:
        with self._lock:
            return Counters(**vars(self.counters))

    def rows(self, database: str, table: str) -> list[tuple[str, ...]]:
        """Every row loaded into a table since it was created or truncated."""
        with self._lock:
            payloads = list(self._tables[(database, table)].payloads)
        return [
            tuple(_unescape(v) for v in line.split("\t"))
            for p in payloads
            for line in p.decode().split("\n")
            if line
        ]

    def _answer(self, query: str, body: bytes) -> tuple[int, bytes]:
        with self._lock:
            self.counters.requests += 1
            if m := _EXISTS.search(query):
                return 200, b"1\n" if (m[1], m[2]) in self._tables else b"0\n"
            if m := _HAS_SOURCE.search(query):
                t = self._tables.get((m[1], m[2]))
                return 200, b"1\n" if t is not None and t.has_source else b"0\n"
            if m := _CREATE.match(query):
                self._tables[(m[1], m[2])] = _Table()
                return 200, b""
            if (m := _ALTER.match(query)) and (m[1], m[2]) in self._tables:
                self._tables[(m[1], m[2])].has_source = True
                return 200, b""
            if (m := _TRUNCATE.match(query)) and (m[1], m[2]) in self._tables:
                self._tables[(m[1], m[2])].payloads.clear()
                return 200, b""
            if (m := _INSERT.match(query)) and (m[1], m[2]) in self._tables:
                self._tables[(m[1], m[2])].payloads.append(body)
                self.counters.inserts += 1
                self.counters.rows_acked += body.count(b"\n")
                self.counters.bytes_posted += len(body)
                return 200, b""
            self.counters.failed_requests += 1
            return 400, f"unsupported query: {query[:200]}".encode()

    def _handler(self):
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - http.server naming
                params = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query)
                body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
                status, out = owner._answer(params.get("query", [""])[0], body)
                self.send_response(status)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def log_message(self, *args):
                pass

        return Handler


class _BoundedServer(ThreadingHTTPServer):
    """Accepts the next connection only while fewer than the limit are served."""

    daemon_threads = False

    def __init__(self, address, handler, slots: threading.BoundedSemaphore):
        self._slots = slots
        super().__init__(address, handler)

    def process_request(self, request, client_address):
        self._slots.acquire()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()
