"""HTTP API surface, transport-free.

The reference serves POST /query/<db> and POST /insert/<db> with
JSON bodies (src/siri/api.c:233-241, JSON→qpack conversion at
:651-728, status codes E400..E503, error payloads as
{"error_msg": ...} — api.c:915-925). This module implements the
same request contract as a plain function so any WSGI/ASGI server
(or test) can mount it; the container has no HTTP stack, and the
transport is not where the semantics live.

`handle_request` returns (status_code, payload): payload is a dict
(JSON-ready) or a plain string for bare errors.

The reference also serves a SERVICE API on the same listener
(src/siri/api.c:242-291): /new-account /change-password
/drop-account /new-database /new-pool /new-replica /drop-database
/get-version /get-accounts /get-databases, authenticated against
service accounts (default sa/siri, service/account.c:16-17) with the
request/validation shapes of src/siri/service/request.c. This engine
is single-logical-database by design (Spark owns distribution), so
the account CRUD and get-* endpoints are fully functional while the
database/pool/replica mutations answer with the reference's own
reject messages (max databases reached / not supported).
"""

from __future__ import annotations

import json

from .. import access as ACL
from ..errors import InsertError, ParseError, QueryError

DBNAME = "sparksiri"

#: service-API routes (api.c:242-291)
SERVICE_ROUTES = frozenset({
    "new-account", "change-password", "drop-account", "new-database",
    "new-pool", "new-replica", "drop-database", "get-version",
    "get-accounts", "get-databases"})

#: database-name rule, exact regex from service/request.c:200
DBNAME_RE = r"^[a-zA-Z][a-zA-Z0-9-_]{0,18}[a-zA-Z0-9]$"


def _service_accounts(engine) -> dict:
    """Lazily-created service-account store with the reference's
    default account (service/account.c:16-17)."""
    if not hasattr(engine, "service_accounts"):
        engine.service_accounts = {"sa": "siri"}
    return engine.service_accounts


def _auth(engine, user: str | None, password: str | None):
    if user is None:
        return None
    u = engine.users.get(user)
    if u is None or u["password"] != password:
        return None
    return user


def handle_request(engine, method: str, path: str, body,
                   user: str | None = None,
                   password: str | None = None,
                   content_type: str = "application/json"):
    parts = [p for p in path.split("/") if p]
    if len(parts) == 1 and parts[0] in SERVICE_ROUTES:
        return _handle_service(engine, method, parts[0], body,
                               user, password, content_type)
    if len(parts) != 2 or parts[0] not in ("query", "insert"):
        return 404, "NOT FOUND"
    route, db = parts
    if method.upper() != "POST":
        return 405, "METHOD NOT ALLOWED"
    if db != DBNAME:
        return 404, "NOT FOUND"
    authed = _auth(engine, user, password)
    if authed is None:
        return 401, "UNAUTHORIZED"
    # the reference accepts application/json and application/[x-]qpack
    # and answers in the request's content type (api.c:351-368,
    # :671-728)
    err, body = _decode_body(body, content_type)
    if err is not None:
        return err

    have = engine.users[authed]["access"]
    needed = ACL.SELECT if route == "query" else ACL.INSERT
    # the reference pre-checks only the insert bit at the HTTP layer
    # (api.c:662) and lets the query path do per-statement checks;
    # we do both through the engine's dispatcher
    if route == "insert" and have & needed != needed:
        return 403, "FORBIDDEN"

    prev = engine.session_user
    engine.session_user = authed
    try:
        if route == "query":
            if not isinstance(body, dict) or "q" not in body:
                return 400, "BAD REQUEST"
            try:
                stmt, res = engine.query_kinded(body["q"])
                # optional 't': convert result timestamps to the
                # requested precision (ref api.c + itest
                # test_http_api.py: {'q': ..., 't': 'ms'})
                t = body.get("t")
                if t is not None:
                    from ..plans import timeexpr as TE
                    if t not in TE.PRECISIONS:
                        return 400, {"error_msg":
                                     f"invalid time precision: '{t}'"}
                    res = convert_precision(engine, stmt, res, t)
                return 200, res
            except (QueryError, ParseError) as e:
                return 400, {"error_msg": str(e)}
        try:
            return 200, engine.insert(body)
        except (InsertError, QueryError) as e:
            return 400, {"error_msg": str(e)}
    finally:
        engine.session_user = prev


def convert_precision(engine, stmt, res, t: str):
    """Convert result timestamps to the client's precision ``t`` —
    the HTTP route's 't' option and the qpack protocol's
    time_precision (clserver.py). The reference converts select
    point timestamps (listener.c:6712, 6795) and calc values
    (listener.c:2148-2157, query.c:573-580) — never list/show/count
    rows, so this branches on the statement kind, not the result
    shape."""
    from ..plans import nodes as N
    from ..plans import timeexpr as TE

    tf, ef = TE.factor(t), engine.factor
    if tf == ef or not isinstance(res, dict):
        return res
    if isinstance(stmt, N.SelectStmt):
        # '__timeit__' rides alongside series lists (a list of
        # dicts) — convert only real point lists
        return {k: [[p[0] * tf // ef, p[1]] for p in v]
                if isinstance(v, list) and not k.startswith("__")
                else v
                for k, v in res.items()}
    if isinstance(stmt, N.CalcStmt) and isinstance(res.get("calc"),
                                                   int):
        res = dict(res)
        res["calc"] = res["calc"] * tf // ef
    return res


def _decode_body(body, content_type: str):
    """JSON/qpack body negotiation of every route; returns (error,
    value). A bytes/str body is decoded by its content type, any
    other body passes through; ``error`` is the (status, payload)
    answer to an undecodable body or another content type, else
    None."""
    if "qpack" in content_type:
        if isinstance(body, (bytes, bytearray)):
            from . import qpack
            try:
                return None, qpack.unpackb(bytes(body))
            except (ValueError, TypeError):
                return (400, "BAD REQUEST"), None
    elif "json" in content_type:
        if isinstance(body, (bytes, str)):
            try:
                return None, json.loads(body)
            except (ValueError, TypeError):
                return (400, "BAD REQUEST"), None
    else:
        return (415, "UNSUPPORTED MEDIA TYPE"), None
    return None, body


def _handle_service(engine, method: str, route: str, body,
                    account: str | None, password: str | None,
                    content_type: str):
    """Service-API parity handlers (api.c:242-291 dispatch,
    service/request.c + service/account.c semantics and verbatim
    error messages) over the single logical database."""
    import re

    if method.upper() != "POST":
        return 405, "METHOD NOT ALLOWED"
    accounts = _service_accounts(engine)
    if account is None or accounts.get(account) != password:
        # api.c authenticates service requests against the service
        # accounts, not database users
        return 401, "UNAUTHORIZED"
    err, req = (None, {}) if body is None \
        else _decode_body(body, content_type)
    if err is not None:
        return 400, "BAD REQUEST"
    req = req if isinstance(req, dict) else {}

    def err(msg):
        return 400, {"error_msg": msg}

    if route == "get-version":
        from .. import __version__
        return 200, [__version__]
    if route == "get-accounts":
        return 200, sorted(accounts)
    if route == "get-databases":
        return 200, [DBNAME]

    if route == "new-account":
        name, pw = req.get("account"), req.get("password")
        if not isinstance(name, str) or not isinstance(pw, str):
            return 400, "BAD REQUEST"
        if len(name) < 2:
            return err("service account name should have at least"
                       " 2 characters")
        if len(pw) < 2:
            return err("service account password should have at"
                       " least 2 characters")
        if name in accounts:
            return err(f"service account '{name}' already exists")
        accounts[name] = pw
        return 200, {"success_msg": "OK"}

    if route == "change-password":
        name, pw = req.get("account"), req.get("password")
        if not isinstance(name, str) or not isinstance(pw, str):
            return 400, "BAD REQUEST"
        if name not in accounts:
            return err(f"cannot find service account '{name}'")
        if len(pw) < 2:
            return err("service account password should have at"
                       " least 2 characters")
        accounts[name] = pw
        return 200, {"success_msg": "OK"}

    if route == "drop-account":
        name = req.get("account")
        if not isinstance(name, str):
            return 400, "BAD REQUEST"
        if name not in accounts:
            return err(f"cannot find service account '{name}'")
        if len(accounts) == 1:
            return err("at least one service account is required, "
                       "cannot drop the last service account")
        del accounts[name]
        return 200, {"success_msg": "OK"}

    if route == "new-database":
        dbname = req.get("dbname")
        if not isinstance(dbname, str):
            return 400, "BAD REQUEST"
        if not re.match(DBNAME_RE, dbname):
            return err(f"invalid database name: '{dbname}'")
        tp = req.get("time_precision")
        if tp is not None and tp not in ("s", "ms", "us", "ns"):
            return err(f"invalid time precision: '{tp}'"
                       " (expecting s, ms, us or ns)")
        if dbname == DBNAME:
            return err(f"database name already exists: '{dbname}'")
        # one logical database per engine by design: the reference's
        # own at-capacity answer (request.c:570-572)
        return err("maximum number of databases is reached (1)")

    if route == "drop-database":
        dbname = req.get("dbname")
        if not isinstance(dbname, str):
            return 400, "BAD REQUEST"
        if dbname != DBNAME:
            return err(f"cannot find database: '{dbname}'")
        return err("dropping the active database is not supported"
                   " by this engine (single logical database;"
                   " use snapshot/restore for lifecycle)")

    # pool/replica topology is Spark's job (SURVEY §2.7: replication
    # declared N/A by design); answer like an at-capacity service
    return err(f"'{route}' is not supported by this engine:"
               " Spark owns pool/replica topology")
