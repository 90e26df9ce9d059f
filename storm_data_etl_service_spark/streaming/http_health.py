"""Health/readiness/metrics HTTP server.

The reference's operational surface (reference
internal/adapter/httpadapter/server.go, README.md endpoints table):

* ``GET /healthz`` — liveness, always 200;
* ``GET /readyz``  — 200 after the first processed batch, else 503;
* ``GET /metrics`` — Prometheus text exposition of the pipeline
  counters (reference internal/observability/metrics.go:20-66) and
  the processed batches' wall time.

Runs in a daemon thread next to the Spark driver — the driver is the
single coordinating process, exactly where the reference hosts it.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from storm_data_etl_service_spark.streaming.pipeline import PipelineMetrics


def render_metrics(m: PipelineMetrics) -> str:
    """Prometheus text format, same metric names as the reference,
    plus the wall time of the processed batches."""
    lines = [
        "# TYPE storm_etl_messages_consumed_total counter",
        f"storm_etl_messages_consumed_total {m.consumed}",
        "# TYPE storm_etl_messages_produced_total counter",
        f"storm_etl_messages_produced_total {m.produced}",
        "# TYPE storm_etl_transform_errors_total counter",
        f"storm_etl_transform_errors_total {m.transform_errors}",
        "# TYPE storm_etl_batches_total counter",
        f"storm_etl_batches_total {m.batches}",
        "# TYPE storm_etl_running gauge",
        f"storm_etl_running {1 if m.ready else 0}",
        "# TYPE storm_etl_batch_duration_seconds summary",
        f"storm_etl_batch_duration_seconds_sum {m.batch_seconds_sum}",
        f"storm_etl_batch_duration_seconds_count {m.batch_seconds_count}",
        "# TYPE storm_etl_last_batch_duration_seconds gauge",
        f"storm_etl_last_batch_duration_seconds {m.last_batch_seconds}",
    ]
    return "\n".join(lines) + "\n"


def start_health_server(metrics: PipelineMetrics, addr: str = ":8080"):
    """Serve the three endpoints; returns the server (call
    ``.shutdown()`` to stop).  ``addr`` uses the reference's
    ``HTTP_ADDR`` format ('[host]:port')."""
    host, _, port = addr.rpartition(":")

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API)
            if self.path == "/healthz":
                body, status = "ok\n", 200
            elif self.path == "/readyz":
                body, status = ("ready\n", 200) if metrics.ready else ("not ready\n", 503)
            elif self.path == "/metrics":
                body, status = render_metrics(metrics), 200
            else:
                body, status = "not found\n", 404
            data = body.encode()
            self.send_response(status)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # quiet
            pass

    server = ThreadingHTTPServer((host or "0.0.0.0", int(port)), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
