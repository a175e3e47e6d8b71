"""Loopback stand-in for the ClickHouse HTTP interface.

Single-threaded stdlib server: it accepts the sink's POSTed statements,
classifies and counts them, and executes nothing.  The counts let the
benchmark check the wire sink against the generator's model.
"""

from __future__ import annotations

import re
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, HTTPServer


def classify(sql: str) -> str:
    if sql.startswith("INSERT INTO"):
        return "INSERT"
    if sql.startswith('ALTER TABLE "cursors" UPDATE'):
        return "CURSOR"
    if sql.startswith("ALTER TABLE"):
        return "UPDATE"
    if sql.startswith("DELETE FROM"):
        return "DELETE"
    return "OTHER"


#: a quoted SQL string literal ('' and backslash escapes inside)
_QUOTED = re.compile(r"'(?:[^'\\]|\\.)*'", re.S)


def insert_rows(sql: str) -> int:
    """Row tuples in a multi-row ``INSERT ... VALUES (..),(..)``.  The
    sink renders plain literals, so once quoted strings (which may hold
    any character) are blanked, every parenthesis opens a row."""
    return _QUOTED.sub("", sql[sql.index(" VALUES ") + 8 :]).count("(")


class _Server(HTTPServer):
    # every executor core may post at once
    request_queue_size = 64


class StubClickHouse:
    """Counts statements by kind, INSERT rows and bytes posted."""

    def __init__(self) -> None:
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server naming)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                sql = body.decode("utf-8", "replace")
                kind = classify(sql)
                with stub._lock:
                    stub.counts["statements"] += 1
                    stub.counts["bytes"] += len(body)
                    stub.counts[kind] += 1
                    if kind == "INSERT":
                        stub.counts["INSERT_ROWS"] += insert_rows(sql)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):  # quiet
                pass

        self.server = _Server(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def dsn(self) -> str:
        return f"clickhouse://default:@127.0.0.1:{self.port}/default"

    def snapshot(self) -> Counter:
        with self._lock:
            return Counter(self.counts)

    def __enter__(self) -> "StubClickHouse":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)
