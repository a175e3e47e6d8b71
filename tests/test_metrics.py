"""O16 observability: counter parity with the reference's Prometheus
series (flush count / flushed entries / flush duration,
/root/reference/sinker/metrics.go:13-15) and the periodic stats line
(/root/reference/sinker/stats.go:38-70)."""

from substreams_sink_clickhouse_spark.streaming.metrics import SinkStats


def test_sink_stats_counters():
    stats = SinkStats()
    stats.record_flush(entries=100, duration_s=0.5, last_block=10)
    stats.record_flush(entries=50, duration_s=0.3, last_block=12)
    assert stats.flush_count == 2
    assert stats.flushed_entries == 150
    assert abs(stats.flush_duration_s - 0.8) < 1e-9
    assert stats.last_block == 12


def test_sink_stats_last_block_monotonic():
    stats = SinkStats()
    stats.record_flush(entries=1, duration_s=0.1, last_block=20)
    stats.record_flush(entries=1, duration_s=0.1, last_block=5)  # replay
    assert stats.last_block == 20


def test_log_line_shape():
    stats = SinkStats()
    stats.record_flush(entries=10, duration_s=0.25, last_block=7)
    line = stats.log_line()
    for token in ("flushes=1", "entries=10", "rate=", "avg_flush=", "last_block=7"):
        assert token in line


def test_prometheus_exposition_names_match_reference():
    from substreams_sink_clickhouse_spark.streaming.metrics import render_prometheus

    stats = SinkStats()
    stats.record_flush(entries=7, duration_s=0.5, last_block=3)
    body = render_prometheus(stats)
    # name-for-name with /root/reference/sinker/metrics.go:13-15
    assert "substreams_sink_clickhouse_store_flush_count 1" in body
    assert "substreams_sink_clickhouse_flushed_entries_count 7" in body
    assert "substreams_sink_clickhouse_store_flush_duration 500000000" in body


def test_serve_metrics_http_scrape():
    import urllib.request

    from substreams_sink_clickhouse_spark.streaming.metrics import serve_metrics

    stats = SinkStats()
    stats.record_flush(entries=2, duration_s=0.1, last_block=1)
    server = serve_metrics(stats, "localhost:0")  # ephemeral port
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(f"http://localhost:{port}/metrics").read().decode()
        assert "substreams_sink_clickhouse_store_flush_count 1" in body
    finally:
        server.shutdown()


def test_debug_threads_endpoint():
    import urllib.request

    from substreams_sink_clickhouse_spark.streaming.metrics import (
        SinkStats,
        serve_metrics,
    )

    server = serve_metrics(SinkStats(), "localhost:0")
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(
            f"http://localhost:{port}/debug/threads", timeout=5
        ).read().decode()
        assert "--- thread" in body and "MainThread" in body
    finally:
        server.shutdown()
