"""Observability (reference O16).

The reference exports three Prometheus series — flush count, flushed
entries, flush duration (/root/reference/sinker/metrics.go:13-15) —
and logs throughput every 15 s (sinker/stats.go:38-70).  The ingest
pipeline owns one :class:`SinkStats`, fed by every committed flush
(``ChangesIngestPipeline.process_batch``); this module renders it as
the same three series plus the last committed block, and as a rate
log line.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class SinkStats:
    """Counter parity with sinker/metrics.go:13-15, plus the last
    committed block and the seconds each flush phase took."""

    flush_count: int = 0
    flushed_entries: int = 0
    flush_duration_s: float = 0.0
    last_block: int = -1
    phase_seconds: dict[str, float] = field(default_factory=dict)
    _started: float = field(default_factory=time.time)

    def record_flush(self, entries: int, duration_s: float, last_block: int) -> None:
        self.flush_count += 1
        self.flushed_entries += entries
        self.flush_duration_s += duration_s
        self.last_block = max(self.last_block, last_block)

    def log_line(self) -> str:
        """Periodic stats line (sinker/stats.go:47-59 shape)."""
        elapsed = max(time.time() - self._started, 1e-9)
        return (
            f"flushes={self.flush_count} entries={self.flushed_entries} "
            f"rate={self.flushed_entries / elapsed:.1f}/s "
            f"avg_flush={self.flush_duration_s / max(self.flush_count, 1):.3f}s "
            f"last_block={self.last_block}"
        )


def render_prometheus(stats: SinkStats) -> str:
    """Prometheus text exposition of the reference's three series,
    name-for-name (/root/reference/sinker/metrics.go:13-15; duration
    there is nanoseconds — kept for scrape-config compatibility), plus
    the last committed block."""
    return (
        "# TYPE substreams_sink_clickhouse_store_flush_count counter\n"
        f"substreams_sink_clickhouse_store_flush_count {stats.flush_count}\n"
        "# TYPE substreams_sink_clickhouse_flushed_entries_count gauge\n"
        f"substreams_sink_clickhouse_flushed_entries_count {stats.flushed_entries}\n"
        "# TYPE substreams_sink_clickhouse_store_flush_duration counter\n"
        f"substreams_sink_clickhouse_store_flush_duration {int(stats.flush_duration_s * 1e9)}\n"
        "# TYPE substreams_sink_clickhouse_last_block gauge\n"
        f"substreams_sink_clickhouse_last_block {stats.last_block}\n"
    )


def render_thread_dump() -> str:
    """Driver thread dump — the engine's analog of the reference's
    ``--pprof-listen-addr`` goroutine profile (cmd/.../main.go:44-57).
    Executor-side profiling lives in the Spark UI / REST API; this
    covers the Python driver, where a stuck ingest loop would live."""
    import sys
    import threading
    import traceback

    frames = sys._current_frames()
    names = {t.ident: t.name for t in threading.enumerate()}
    out = []
    for ident, frame in frames.items():
        out.append(f"--- thread {names.get(ident, '?')} ({ident}) ---")
        out.extend(line.rstrip() for line in traceback.format_stack(frame))
    return "\n".join(out) + "\n"


def serve_metrics(stats, listen_addr: str):
    """Serve :func:`render_prometheus` over HTTP (reference
    ``--metrics-listen-addr``, cmd/.../main.go:28), plus
    ``/debug/threads`` — the pprof-style liveness probe (main.go:44-57
    serves Go pprof; here it's a Python driver thread dump).  ``stats``
    is a :class:`SinkStats` or a zero-arg callable returning one (so
    the scrape always sees the live counters).  Returns the
    daemon-threaded server; call ``.shutdown()`` to stop."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    host, _, port_s = listen_addr.rpartition(":")
    provider = stats if callable(stats) else (lambda: stats)

    class _Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path.startswith("/debug/threads"):
                body = render_thread_dump().encode()
            else:
                body = render_prometheus(provider()).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet
            pass

    server = HTTPServer((host or "localhost", int(port_s)), _Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
