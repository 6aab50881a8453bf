"""HTTP REST facade over the serving layer + graceful shutdown.

Mirrors the reference's Fiber app (reference: main.go:74-95 routes,
controllers/controllers.go:24-119 status codes) on the Python stdlib
(``http.server``) — no framework dependency, same surface:

    POST   /api/v1/sinners/create        201 | 400 (bad body/duplicate)
    GET    /api/v1/sinners/read          200
    GET    /api/v1/sinners/read/:code    200 | 400 | 404
    PUT    /api/v1/sinners/update/:code  200 | 400 | 404
    DELETE /api/v1/sinners/delete/:code  200 | 400 | 404

No route touches Spark: every one is served from the service's
maintained materialized view + cache-aside KV, so the HTTP layer stays
driver-thread-cheap. Handlers hold no lock (the service owns its own),
so an unread ``GET /read`` stalls only its own connection.

Shutdown follows the reference's signal choreography (main.go:21-68):
SIGINT/SIGTERM → stop accepting HTTP (bounded 5 s) → wait for the
consumers/streaming queries with a bounded 5 s timeout → report which
stopped gracefully.
"""

from __future__ import annotations

import json
import os
import re
import signal
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from cdc_cascade_spark.serving import CdcTableService, NotFound

_ROUTE = re.compile(r"^/api/v1/sinners/(create|read|update|delete)(?:/([^/]+))?$")

SHUTDOWN_TIMEOUT_SECS = 5.0  # main.go:52 ShutdownWithTimeout(5s), :66 After(5s)


class CdcApiServer:
    """Threaded HTTP server over a :class:`CdcTableService`.

    ``port=0`` binds an ephemeral port (tests); ``API_PORT`` is the
    reference's env contract (README.md:71).
    """

    def __init__(
        self, service: CdcTableService, host: str = "127.0.0.1", port: int | None = None
    ) -> None:
        if port is None:
            port = int(os.environ.get("API_PORT", "8080"))
        self.service = service
        # perfbench's api_cache_aside consumer holds this around each
        # cycle; it is the service's own re-entrant lock.
        self._lock = service._lock
        api = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 enables chunked transfer for the streamed full
            # scan; every other response carries Content-Length.
            protocol_version = "HTTP/1.1"

            def log_message(self, fmt, *args):  # B7 logging stays opt-in
                pass

            def _send_json_stream(self, row_iter) -> None:
                """Chunked-transfer JSON array, sent 32 KiB at a time: the
                full-table body is never built in memory. The byte
                stream is identical to ``json.dumps(list(rows))``."""
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

                def chunk(data: bytes) -> None:
                    if data:
                        self.wfile.write(
                            f"{len(data):X}\r\n".encode() + data + b"\r\n"
                        )

                buf = b"["
                first = True
                for d in row_iter:
                    piece = ("" if first else ", ") + json.dumps(d)
                    first = False
                    buf += piece.encode()
                    if len(buf) >= 32768:
                        chunk(buf)
                        buf = b""
                chunk(buf + b"]")
                self.wfile.write(b"0\r\n\r\n")

            def _send(self, status: int, payload) -> None:
                body = (
                    payload.encode()
                    if isinstance(payload, str)
                    else json.dumps(payload).encode()
                )
                self.send_response(status)
                self.send_header(
                    "Content-Type",
                    "text/plain" if isinstance(payload, str) else "application/json",
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(body, dict):
                    raise ValueError("body must be a JSON object")
                return body

            def _dispatch(self, method: str) -> None:
                m = _ROUTE.match(self.path)
                if not m:
                    self._send(404, "Not Found")
                    return
                action, code = m.groups()
                try:
                    if method == "POST" and action == "create" and code is None:
                        self._send(201, api.service.create(self._body()))
                    elif method == "GET" and action == "read" and code is None:
                        self._send_json_stream(api.service.read_all())
                    elif method == "GET" and action == "read":
                        self._send(200, api.service.read_one(code))
                    elif method == "PUT" and action == "update" and code:
                        self._send(200, api.service.update(code, self._body()))
                    elif method == "DELETE" and action == "delete" and code:
                        self._send(200, api.service.delete(code))
                    else:
                        self._send(404, "Not Found")
                except NotFound:
                    self._send(404, "Not Found")  # controllers.go:64
                except (ValueError, KeyError, TypeError) as e:  # TypeError: a null key
                    self._send(400, str(e))  # controllers.go:27,53,80

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_PUT(self):
                self._dispatch("PUT")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "CdcApiServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def shutdown_with_timeout(self, timeout: float = SHUTDOWN_TIMEOUT_SECS) -> bool:
        """Stop serving; True if the serve loop exited within timeout."""
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout)
            return not self._thread.is_alive()
        return True


def graceful_shutdown(
    server: CdcApiServer | None,
    queries=(),
    timeout: float = SHUTDOWN_TIMEOUT_SECS,
) -> dict:
    """The reference's shutdown choreography (main.go:48-68): bounded
    HTTP shutdown, then bounded wait for each consumer query. Returns a
    report of what stopped in time — callers log it, tests assert it.
    """
    report = {"http_stopped": True, "queries_stopped": True}
    if server is not None:
        report["http_stopped"] = server.shutdown_with_timeout(timeout)
    for q in queries:
        try:
            # StreamingQuery.stop() is synchronous; awaitTermination
            # bounds the drain the way the reference bounds wg.Wait.
            q.stop()
            q.awaitTermination(int(timeout * 1000))
        except Exception:
            report["queries_stopped"] = False
    return report


def install_signal_handlers(
    server: CdcApiServer | None,
    queries=(),
    timeout: float = SHUTDOWN_TIMEOUT_SECS,
):
    """Trap SIGINT/SIGTERM → graceful_shutdown (main.go:21-23,48).

    Returns the handler so tests can invoke it directly (sending real
    signals through pytest is fragile). The first signal runs the
    graceful shutdown; later signals chain to the previously installed
    disposition: a callable handler is invoked (a second Ctrl-C still
    raises KeyboardInterrupt); SIG_DFL is *restored and re-delivered*
    via ``os.kill`` — so after graceful shutdown a hung process remains
    killable by a further SIGTERM instead of swallowing it; SIG_IGN
    stays ignored.
    """
    done = threading.Event()
    previous: dict[int, object] = {}

    def handler(signum, frame):
        if not done.is_set():  # idempotent under signal storms
            done.set()
            graceful_shutdown(server, queries, timeout)
            return
        prev = previous.get(signum)
        if callable(prev):
            prev(signum, frame)
        elif prev == signal.SIG_DFL:
            signal.signal(signum, signal.SIG_DFL)
            os.kill(os.getpid(), signum)

    for sig in (signal.SIGINT, signal.SIGTERM):
        previous[sig] = signal.signal(sig, handler)
    return handler
