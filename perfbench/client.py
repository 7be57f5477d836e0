"""Blocking clients for the two transports, with reply validation.

The qpack client frames packages itself (the SiriDB header: uint32
length, uint16 pid, uint8 type, uint8 type ^ 255) and encodes the
payload with the program's qpack codec. The codec functions are bound
here at import, before a traced run patches the program's module, so
client-side encoding never shows up as a server-side span.
"""

from __future__ import annotations

import base64
import http.client
import json
import socket
import struct

from siridb_server_spark.sources.qpack import packb as _packb
from siridb_server_spark.sources.qpack import unpackb as _unpackb

HEADER = struct.Struct("<IHBB")
REQ_QUERY, REQ_INSERT, REQ_AUTH = 0, 1, 2
RES_QUERY, RES_INSERT, RES_AUTH_SUCCESS = 0, 1, 2
DBNAME = "sparksiri"
USER, PASSWORD = "iris", "siri"


class Reply:
    """One answer: ``ok`` when the type code (qpack) or status (HTTP)
    is the success one, ``code`` that code, ``body`` the payload."""

    __slots__ = ("ok", "code", "body")

    def __init__(self, ok: bool, code: int, body):
        self.ok, self.code, self.body = ok, code, body


class QpackClient:
    def __init__(self, port: int, timeout: float = 150.0):
        self._sock = socket.create_connection(("127.0.0.1", port),
                                              timeout=timeout)
        self._pid = 0
        r = self._call(REQ_AUTH, [USER, PASSWORD, DBNAME],
                       RES_AUTH_SUCCESS)
        if not r.ok:
            raise ConnectionError(f"qpack auth refused: type {r.code}")

    def _recv(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("connection closed")
            buf += chunk
        return bytes(buf)

    def _call(self, tp: int, payload, want: int) -> Reply:
        self._pid = (self._pid + 1) & 0xFFFF
        data = _packb(payload)
        self._sock.sendall(
            HEADER.pack(len(data), self._pid, tp, tp ^ 255) + data)
        length, pid, rtp, check = HEADER.unpack(self._recv(HEADER.size))
        body = self._recv(length) if length else b""
        if pid != self._pid or check != rtp ^ 255:
            raise ConnectionError("malformed reply header")
        return Reply(rtp == want, rtp, _unpackb(body) if body else None)

    def query(self, q: str) -> Reply:
        return self._call(REQ_QUERY, [q], RES_QUERY)

    def insert(self, points: dict) -> Reply:
        return self._call(REQ_INSERT, points, RES_INSERT)

    def close(self):
        self._sock.close()


class HttpClient:
    """JSON over one keep-alive HTTP/1.1 connection."""

    def __init__(self, port: int, timeout: float = 150.0):
        self._conn = http.client.HTTPConnection("127.0.0.1", port,
                                                timeout=timeout)
        token = base64.b64encode(f"{USER}:{PASSWORD}".encode()).decode()
        self._headers = {"Content-Type": "application/json",
                         "Authorization": f"Basic {token}"}

    def _post(self, route: str, payload) -> Reply:
        self._conn.request("POST", f"/{route}/{DBNAME}",
                           json.dumps(payload), self._headers)
        resp = self._conn.getresponse()
        raw = resp.read()
        try:
            body = json.loads(raw) if raw else None
        except ValueError:
            body = None
        return Reply(resp.status == 200, resp.status, body)

    def query(self, q: str) -> Reply:
        return self._post("query", {"q": q})

    def close(self):
        self._conn.close()
