"""A seeded fake Prometheus serving ``/api/v1/query_range`` on localhost.

It runs in the benchmark process on an ephemeral port and counts the
requests it serves and the time it spends serving them.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from . import gen


class FakePrometheus:
    def __init__(self, data: gen.PromData):
        self.data = data
        self.requests = 0
        self.busy_s = 0.0
        self._lock = threading.Lock()
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - stdlib API name
                t0 = time.perf_counter()
                url = urlparse(self.path)
                if url.path != "/api/v1/query_range":
                    self.send_error(404)
                    return
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                body = gen.prom_response(
                    owner.data, q["query"], int(float(q["start"])),
                    int(float(q["end"])), int(float(q["step"])),
                )
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with owner._lock:
                    owner.requests += 1
                    owner.busy_s += time.perf_counter() - t0

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        # a short poll keeps close() from waiting half a second
        self._thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)
