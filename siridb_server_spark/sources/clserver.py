"""qpack TCP client protocol — the reference's primary client
interface, served over a stdlib threading socket server.

Wire format (ref include/siri/net/pkg.h:37-44, little-endian):

    uint32 len   -- payload length, header NOT included
    uint16 pid   -- client-chosen request id, echoed in the response
    uint8  tp    -- package type (CPROTO_*)
    uint8  checkbit -- tp ^ 255, validated on receive

followed by ``len`` bytes of qpack-encoded payload. A checkbit
mismatch or an oversize package closes the connection
(src/siri/net/stream.c:182-199); responses set checkbit on send
(src/siri/net/pkg.c:212).

Request dispatch mirrors src/siri/net/clserver.c:266-302 ``on_data``:

    CPROTO_REQ_QUERY(0)  [query, time_precision?] -> RES_QUERY(0)
    CPROTO_REQ_INSERT(1) {series: points} / map   -> RES_INSERT(1)
    CPROTO_REQ_AUTH(2)   [user, password, dbname] -> AUTH_SUCCESS(2)
    CPROTO_REQ_PING(3)   (empty)                  -> RES_ACK(3)

Query/insert before a successful AUTH answer
CPROTO_ERR_NOT_AUTHENTICATED (clserver.c CHECK_SIRIDB macro); bad
credentials / unknown database answer the dedicated empty error
types (db/auth.c:17-64); query errors carry {"error_msg": ...} as
CPROTO_ERR_QUERY, access violations as CPROTO_ERR_USER_ACCESS, and
insert errors as CPROTO_ERR_INSERT (db/insert.c:395-427). The
optional time_precision integer converts select/calc timestamps to
the client's precision, exactly like the HTTP route's ``t`` option
(clserver.c:489-498 computes the factor; both transports convert
through sources/api.py ``convert_precision``). Unknown request types
get no response, like the reference's switch without a default.

Engine calls serialize behind the engine's own lock (``engine.lock``),
the one the HTTP transport takes too: SiriEngine is not thread-safe,
and the reference's event loop is single-threaded per database, so an
engine served on both ports still runs one request at a time.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

from .. import access as ACL
from ..errors import InsertError, ParseError, QueryError
from .api import DBNAME, convert_precision
from .qpack import packb, unpackb

PKG_HEADER = struct.Struct("<IHBB")

# ref include/siri/net/protocol.h:10-55
CPROTO_REQ_QUERY = 0
CPROTO_REQ_INSERT = 1
CPROTO_REQ_AUTH = 2
CPROTO_REQ_PING = 3
CPROTO_RES_QUERY = 0
CPROTO_RES_INSERT = 1
CPROTO_RES_AUTH_SUCCESS = 2
CPROTO_RES_ACK = 3
CPROTO_ERR_MSG = 64
CPROTO_ERR_QUERY = 65
CPROTO_ERR_INSERT = 66
CPROTO_ERR_USER_ACCESS = 69
CPROTO_ERR_NOT_AUTHENTICATED = 71
CPROTO_ERR_AUTH_CREDENTIALS = 72
CPROTO_ERR_AUTH_UNKNOWN_DB = 73

#: ref src/siri/net/clserver.c:41
MAX_QUERY_PKG_SIZE = 65535
#: ref src/siri/net/stream.c:16
MAX_ALLOWED_PKG_SIZE = 41943040

#: time-precision enum indices (ref include/siri/db/time.h:9-24)
_PRECISIONS = ("s", "ms", "us", "ns")


def pack_pkg(pid: int, tp: int, payload=None) -> bytes:
    """Frame one package; ``payload=None`` -> empty body."""
    data = b"" if payload is None else packb(payload)
    return PKG_HEADER.pack(len(data), pid, tp, tp ^ 255) + data


def read_pkg(sock: socket.socket):
    """Read one framed package from a blocking socket. Returns
    (pid, tp, data bytes) or None on clean EOF; raises ValueError on
    a checkbit/size violation (caller closes the connection, like
    stream.c:182-199)."""
    head = _read_exact(sock, PKG_HEADER.size)
    if head is None:
        return None
    length, pid, tp, checkbit = PKG_HEADER.unpack(head)
    if checkbit != tp ^ 255 or length > MAX_ALLOWED_PKG_SIZE:
        raise ValueError("illegal package or size too large")
    data = _read_exact(sock, length) if length else b""
    if length and data is None:
        return None
    return pid, tp, data


def _read_exact(sock: socket.socket, n: int):
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def _as_str(v) -> str:
    return v.decode() if isinstance(v, (bytes, bytearray)) else str(v)


class _Handler(socketserver.BaseRequestHandler):
    def handle(self):
        engine = self.server.engine
        lock = engine.lock
        authed = None  # per-connection, like client->siridb
        while True:
            try:
                pkg = read_pkg(self.request)
            except (ValueError, OSError):
                return  # stream.c: QUIT_STREAM on illegal package
            if pkg is None:
                return
            pid, tp, data = pkg
            try:
                if tp == CPROTO_REQ_PING:
                    resp = pack_pkg(pid, CPROTO_RES_ACK)
                elif tp == CPROTO_REQ_AUTH:
                    # auth.c siridb_auth_user_request: credentials
                    # are replaced only on SUCCESS — a failed re-auth
                    # answers with the error but leaves the existing
                    # session authentication intact
                    new_auth, resp = self._auth(engine, pid, data)
                    if new_auth is not None:
                        authed = new_auth
                elif tp == CPROTO_REQ_QUERY:
                    if authed is None:
                        resp = pack_pkg(
                            pid, CPROTO_ERR_NOT_AUTHENTICATED)
                    else:
                        with lock:
                            resp = self._query(
                                engine, authed, pid, data)
                elif tp == CPROTO_REQ_INSERT:
                    if authed is None:
                        resp = pack_pkg(
                            pid, CPROTO_ERR_NOT_AUTHENTICATED)
                    else:
                        with lock:
                            resp = self._insert(
                                engine, authed, pid, data)
                else:
                    continue  # clserver.c on_data: no default case
            except Exception as exc:  # noqa: BLE001 -- always answer
                resp = pack_pkg(pid, CPROTO_ERR_MSG,
                                {"error_msg": str(exc)})
            try:
                self.request.sendall(resp)
            except OSError:
                return

    @staticmethod
    def _auth(engine, pid: int, data: bytes):
        try:
            req = unpackb(data)
        except (ValueError, TypeError):
            return None, pack_pkg(pid, CPROTO_ERR_AUTH_CREDENTIALS)
        if not isinstance(req, (list, tuple)) or len(req) < 3:
            return None, pack_pkg(pid, CPROTO_ERR_AUTH_CREDENTIALS)
        user, password, dbname = (_as_str(x) for x in req[:3])
        if dbname != DBNAME:
            return None, pack_pkg(pid, CPROTO_ERR_AUTH_UNKNOWN_DB)
        u = engine.users.get(user)
        if u is None or u["password"] != password:
            return None, pack_pkg(pid, CPROTO_ERR_AUTH_CREDENTIALS)
        return user, pack_pkg(pid, CPROTO_RES_AUTH_SUCCESS)

    @staticmethod
    def _query(engine, authed: str, pid: int, data: bytes):
        if len(data) > MAX_QUERY_PKG_SIZE:
            return pack_pkg(pid, CPROTO_ERR_QUERY,
                            {"error_msg": "Query too long."})
        try:
            req = unpackb(data)
        except (ValueError, TypeError):
            return pack_pkg(pid, CPROTO_ERR_QUERY,
                            {"error_msg": "invalid query package"})
        if not isinstance(req, (list, tuple)) or not req:
            return pack_pkg(pid, CPROTO_ERR_QUERY,
                            {"error_msg": "invalid query package"})
        q = _as_str(req[0])
        t = None
        if len(req) > 1 and isinstance(req[1], int) \
                and 0 <= req[1] < len(_PRECISIONS):
            t = _PRECISIONS[req[1]]
        prev = engine.session_user
        engine.session_user = authed
        try:
            stmt, res = engine.query_kinded(q)
            if t is not None:
                res = convert_precision(engine, stmt, res, t)
            return pack_pkg(pid, CPROTO_RES_QUERY, res)
        except (QueryError, ParseError) as e:
            msg = str(e)
            etp = (CPROTO_ERR_USER_ACCESS
                   if msg.startswith("Access denied")
                   else CPROTO_ERR_QUERY)
            return pack_pkg(pid, etp, {"error_msg": msg})
        finally:
            engine.session_user = prev

    @staticmethod
    def _insert(engine, authed: str, pid: int, data: bytes):
        # the reference pre-checks the insert bit before parsing
        # (clserver.c:516-540)
        have = engine.users[authed]["access"]
        if have & ACL.INSERT != ACL.INSERT:
            try:
                ACL.check_access(authed, have, ACL.INSERT)
            except QueryError as e:
                return pack_pkg(pid, CPROTO_ERR_USER_ACCESS,
                                {"error_msg": str(e)})
        try:
            body = unpackb(data)
        except (ValueError, TypeError):
            return pack_pkg(pid, CPROTO_ERR_INSERT,
                            {"error_msg": "invalid insert package"})
        prev = engine.session_user
        engine.session_user = authed
        try:
            return pack_pkg(pid, CPROTO_RES_INSERT,
                            engine.insert(body))
        except (InsertError, QueryError) as e:
            return pack_pkg(pid, CPROTO_ERR_INSERT,
                            {"error_msg": str(e)})
        finally:
            engine.session_user = prev


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class _UnixServer(socketserver.ThreadingUnixStreamServer):
    daemon_threads = True


class ClientServer:
    """``ClientServer(engine).start()`` -> serving the qpack client
    protocol on ``self.port`` (port=0 picks a free one), or — with
    ``pipe_path`` — on an AF_UNIX socket, the reference's pipe
    support (src/siri/net/pipe.c, enable_pipe_support: same framed
    protocol, different stream type). ``stop()`` shuts the socket
    down. Mirrors sources/http.py's ApiServer lifecycle so
    tests/deployments treat the transports alike."""

    def __init__(self, engine, host: str = "127.0.0.1",
                 port: int = 0, pipe_path: str | None = None):
        if pipe_path is not None:
            import os

            try:
                os.unlink(pipe_path)
            except FileNotFoundError:
                pass
            self._server = _UnixServer(pipe_path, _Handler)
            self.host, self.port = pipe_path, None
            self.pipe_path = pipe_path
        else:
            self._server = _Server((host, port), _Handler)
            self.host = host
            self.port = self._server.server_address[1]
            self.pipe_path = None
        self._server.engine = engine
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)

    def start(self) -> "ClientServer":
        self._thread.start()
        return self

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
        if self.pipe_path is not None:
            import os

            try:
                os.unlink(self.pipe_path)
            except FileNotFoundError:
                pass


class SiriClient:
    """Minimal synchronous client for the framed qpack protocol —
    the same handshake/insert/query flow the reference's itest
    client library drives (itest/testing/client.py via
    python-siridb-connector). Test utility and reference
    implementation of the client side of the framing."""

    def __init__(self, host: str, port: int | None,
                 timeout: float = 30.0):
        if port is None:  # AF_UNIX pipe (host is the socket path)
            self._sock = socket.socket(socket.AF_UNIX,
                                       socket.SOCK_STREAM)
            self._sock.settimeout(timeout)
            self._sock.connect(host)
        else:
            self._sock = socket.create_connection((host, port),
                                                  timeout=timeout)
        self._pid = 0

    def _call(self, tp: int, payload=None):
        self._pid = (self._pid + 1) & 0xFFFF
        self._sock.sendall(pack_pkg(self._pid, tp, payload))
        got = read_pkg(self._sock)
        if got is None:
            raise ConnectionError("connection closed")
        pid, rtp, data = got
        if pid != self._pid:
            raise ConnectionError(f"pid mismatch: {pid}")
        body = unpackb(data) if data else None
        return rtp, body

    def auth(self, user: str, password: str, dbname: str):
        return self._call(CPROTO_REQ_AUTH, [user, password, dbname])

    def query(self, q: str, time_precision: int | None = None):
        payload = [q] if time_precision is None \
            else [q, time_precision]
        return self._call(CPROTO_REQ_QUERY, payload)

    def insert(self, data):
        return self._call(CPROTO_REQ_INSERT, data)

    def ping(self):
        return self._call(CPROTO_REQ_PING)

    def send_raw(self, raw: bytes):
        self._sock.sendall(raw)

    def close(self):
        try:
            self._sock.close()
        except OSError:
            pass
