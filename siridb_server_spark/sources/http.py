"""Real HTTP transport for the API contract.

The reference serves the same routes over libuv + http_parser
(src/siri/api.c:233-241); here the stdlib ThreadingHTTPServer mounts
``sources.api.handle_request`` on a socket — no third-party deps.
Bodies are JSON or qpack (``sources/qpack.py``), negotiated by
Content-Type exactly as the reference does (api.c:351-368), and the
response is encoded in the request's content type (api.c:858).
The cluster/service admin
routes on the service port (new-pool/new-replica/new-account,
src/siri/service/) are N/A per SURVEY §2.7 — Spark owns distribution.

Engine calls are serialized behind the engine's own lock
(``engine.lock``), shared with the qpack transport: SiriEngine is not
thread-safe (``_seq``, session caches), and the reference's event
loop is likewise single-threaded per database.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .. import __version__
from .api import handle_request


def _make_handler(engine, lock):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _creds(self):
            h = self.headers.get("Authorization", "")
            if h.startswith("Basic "):
                # not base64 (binascii.Error), not UTF-8
                # (UnicodeDecodeError) or no colon: all ValueError
                try:
                    u, p = base64.b64decode(h[6:]).decode() \
                        .split(":", 1)
                    return u, p
                except ValueError:
                    return None, None
            return None, None

        def _send(self, status: int, payload,
                  ct: str = "application/json"):
            # answer in the request's content type (ref api.c:858)
            if ct == "application/qpack":
                from .qpack import packb
                body = packb(payload)
            else:
                body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            if self.close_connection:
                self.send_header("Connection", "close")
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            # ref api.c: GET /get-version → [version, ...]
            if self.path.rstrip("/") == "/get-version":
                self._send(200, [__version__])
            else:
                self._send(404, "NOT FOUND")

        def do_POST(self):
            # one bad request must yield a JSON response, never an
            # aborted/hung connection (ref api.c always responds)
            try:
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    # malformed Content-Length is the client's fault
                    # (ref maps bad requests to E400, api.c:915-925);
                    # the body is unreadable, so drop the connection
                    self.close_connection = True
                    self._send(400, "BAD REQUEST")
                    return
                body = self.rfile.read(n) if n else b""
                user, password = self._creds()
                ct = self.headers.get(
                    "Content-Type", "application/json")
                resp_ct = ("application/qpack" if "qpack" in ct
                           else "application/json")
                with lock:
                    status, payload = handle_request(
                        engine, "POST", self.path, body,
                        user, password, ct)
                self._send(status, payload, resp_ct)
            except Exception as exc:  # noqa: BLE001
                # unknown failure point: body bytes may be stuck in
                # the socket, so a keep-alive follow-up would misparse
                # them as the next request line — close instead
                self.close_connection = True
                try:
                    self._send(500, {"error_msg": str(exc)})
                except Exception:
                    pass

    return Handler


class ApiServer:
    """``ApiServer(engine).start()`` → serving on ``self.port``
    (port=0 picks a free one). ``stop()`` shuts the socket down."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.httpd = ThreadingHTTPServer(
            (host, port), _make_handler(engine, engine.lock))
        self.host = host
        self.port = self.httpd.server_address[1]
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True)

    def start(self) -> "ApiServer":
        self._thread.start()
        return self

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()
