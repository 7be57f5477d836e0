"""End-to-end qpack TCP protocol tests: a real socket server driven
by the framed client, porting the handshake/insert/query flow the
reference's itest client library exercises (itest/testing/client.py
via the connector protocol; frame format pkg.h:37-44, dispatch
clserver.c:266-302)."""

import socket
import struct

import pytest

from siridb_server_spark import SiriEngine
from siridb_server_spark.sources import clserver as CL


@pytest.fixture(scope="module")
def served(spark):
    eng = SiriEngine(spark, precision="s")
    eng.insert({"data": [[1579521271, 10], [1579521573, 20]]})
    eng.query("create user 'ro' set password 'pw123456'")
    eng.query("grant read to user 'ro'")
    srv = CL.ClientServer(eng).start()
    yield srv
    srv.stop()


@pytest.fixture()
def client(served):
    c = CL.SiriClient(served.host, served.port)
    yield c
    c.close()


def _authed(served, user="iris", password="siri"):
    c = CL.SiriClient(served.host, served.port)
    tp, _ = c.auth(user, password, "sparksiri")
    assert tp == CL.CPROTO_RES_AUTH_SUCCESS
    return c


def test_ping(client):
    tp, body = client.ping()
    assert tp == CL.CPROTO_RES_ACK
    assert body is None


def test_query_insert_require_auth(client):
    tp, _ = client.query("select * from 'data'")
    assert tp == CL.CPROTO_ERR_NOT_AUTHENTICATED
    tp, _ = client.insert({"x": [[1, 1.0]]})
    assert tp == CL.CPROTO_ERR_NOT_AUTHENTICATED


def test_auth_unknown_db(client):
    tp, _ = client.auth("iris", "siri", "nosuchdb")
    assert tp == CL.CPROTO_ERR_AUTH_UNKNOWN_DB


def test_auth_bad_credentials(client):
    tp, _ = client.auth("iris", "wrong", "sparksiri")
    assert tp == CL.CPROTO_ERR_AUTH_CREDENTIALS
    tp, _ = client.auth("nobody", "siri", "sparksiri")
    assert tp == CL.CPROTO_ERR_AUTH_CREDENTIALS


def test_handshake_insert_query_roundtrip(served):
    c = _authed(served)
    try:
        tp, body = c.insert({"tcp_series": [[1579521271, 1.5]]})
        assert tp == CL.CPROTO_RES_INSERT
        assert body == {
            "success_msg": "Successfully inserted 1 point(s)."}
        tp, body = c.query("select * from 'tcp_series'")
        assert tp == CL.CPROTO_RES_QUERY
        assert body == {"tcp_series": [[1579521271, 1.5]]}
        # several requests on ONE connection, pids tracked per call
        tp, body = c.query("select count() from 'data'")
        assert tp == CL.CPROTO_RES_QUERY
        assert body == {"data": [[1579521573, 2]]}
    finally:
        c.close()


def test_query_time_precision_conversion(served):
    # clserver.c:489-498: an int64 time_precision converts result
    # timestamps; ms on an s-precision db scales by 1000
    c = _authed(served)
    try:
        tp, body = c.query("select * from 'data'", time_precision=1)
        assert tp == CL.CPROTO_RES_QUERY
        assert body["data"][0][0] == 1579521271000
        # db's own precision index -> no conversion
        tp, body = c.query("select * from 'data'", time_precision=0)
        assert body["data"][0][0] == 1579521271
    finally:
        c.close()


def test_query_error_payload(served):
    c = _authed(served)
    try:
        tp, body = c.query("select nonsense!! from")
        assert tp == CL.CPROTO_ERR_QUERY
        assert "error_msg" in body
    finally:
        c.close()


def test_insert_error_payload(served):
    c = _authed(served)
    try:
        tp, body = c.insert({"bad": [["not-a-ts", 1.0]]})
        assert tp == CL.CPROTO_ERR_INSERT
        assert "error_msg" in body
    finally:
        c.close()


def test_insert_access_denied(served):
    # 'ro' has read only: insert pre-checks the ACL bit
    # (clserver.c:516-540) and answers CPROTO_ERR_USER_ACCESS
    c = _authed(served, "ro", "pw123456")
    try:
        tp, body = c.insert({"x": [[1, 1.0]]})
        assert tp == CL.CPROTO_ERR_USER_ACCESS
        assert body["error_msg"].startswith("Access denied")
    finally:
        c.close()


def test_query_access_denied(served):
    # 'ro' (read = select+show+...) may select but not e.g. create
    c = _authed(served, "ro", "pw123456")
    try:
        tp, body = c.query("create user 'x2' set password 'pw123456'")
        assert tp == CL.CPROTO_ERR_USER_ACCESS
        assert body["error_msg"].startswith("Access denied")
    finally:
        c.close()


def test_query_too_long(served):
    c = _authed(served)
    try:
        tp, body = c.query("select * from " + "'x'," * 30000)
        assert tp == CL.CPROTO_ERR_QUERY
        assert body == {"error_msg": "Query too long."}
    finally:
        c.close()


def test_checkbit_violation_closes_connection(served):
    # stream.c:182-199: an illegal checkbit drops the connection
    s = socket.create_connection((served.host, served.port),
                                 timeout=10)
    try:
        s.sendall(struct.pack("<IHBB", 0, 1, CL.CPROTO_REQ_PING, 0))
        assert s.recv(1) == b""  # server closed, no response
    finally:
        s.close()


def test_pipe_transport_same_protocol(spark, tmp_path):
    """The reference's pipe support (src/siri/net/pipe.c,
    itest/test_pipe_support.py): the identical framed protocol over
    an AF_UNIX socket — auth, insert, query round-trip."""
    eng = SiriEngine(spark, precision="s")
    srv = CL.ClientServer(
        eng, pipe_path=str(tmp_path / "siridb_client.sock")).start()
    try:
        c = CL.SiriClient(srv.host, srv.port)
        try:
            tp, _ = c.auth("iris", "siri", "sparksiri")
            assert tp == CL.CPROTO_RES_AUTH_SUCCESS
            tp, body = c.insert({"pipe_series": [[100, 1.0]]})
            assert tp == CL.CPROTO_RES_INSERT
            tp, body = c.query("select * from 'pipe_series'")
            assert tp == CL.CPROTO_RES_QUERY
            assert body == {"pipe_series": [[100, 1.0]]}
        finally:
            c.close()
    finally:
        srv.stop()
    import os
    assert not os.path.exists(srv.pipe_path)


def test_pid_echo(served):
    # responses echo the request pid (pkg.h pid field)
    c = _authed(served)
    try:
        pid_before = c._pid
        tp, _ = c.ping()
        assert tp == CL.CPROTO_RES_ACK
        assert c._pid == pid_before + 1  # _call asserts the echo
    finally:
        c.close()


def test_failed_reauth_keeps_session(served):
    """auth.c siridb_auth_user_request: a failed AUTH on an already-
    authenticated connection answers with the credential error but
    does NOT de-authenticate the session (credentials are only
    replaced on success)."""
    c = _authed(served)
    try:
        tp, _ = c.auth("iris", "wrong", "sparksiri")
        assert tp == CL.CPROTO_ERR_AUTH_CREDENTIALS
        # the original session auth must still hold
        tp, body = c.query("select count() from 'data'")
        assert tp == CL.CPROTO_RES_QUERY
        assert body == {"data": [[1579521573, 2]]}
        # a successful re-auth DOES replace credentials (to a
        # read-only user), so inserts start failing with the
        # access error — proving the swap happened
        tp, _ = c.auth("ro", "pw123456", "sparksiri")
        assert tp == CL.CPROTO_RES_AUTH_SUCCESS
        tp, body = c.insert({"na": [[1, 1.0]]})
        assert tp == CL.CPROTO_ERR_USER_ACCESS
    finally:
        c.close()


def test_protocol_fast_path_zero_jobs_and_low_latency(spark,
                                                      tmp_path):
    """The qpack TCP path must inherit the engine's driver-side
    catalog fast path: on a warm store-backed engine, `count series`
    and skip-points selects answer over the SOCKET without launching
    a single Spark job, and the measured round-trip sits in the
    reference's interactive class (<5 ms median; the Spark job floor
    is ~200 ms, so this also guards the snapshot path from silently
    regressing to a Spark job)."""
    import time

    eng = SiriEngine.open(spark, str(tmp_path / "db"), precision="s")
    eng.insert({"fp-a": [[10, 1], [20, 2]],
                "fp-b": [[15, 2.5]]})
    srv = CL.ClientServer(eng).start()
    c = CL.SiriClient(srv.host, srv.port)
    try:
        tp, _ = c.auth("iris", "siri", "sparksiri")
        assert tp == CL.CPROTO_RES_AUTH_SUCCESS
        # warm both statements once (parser/catalog caches)
        for q in ("count series", "select count() from /fp.*/"):
            tp, _ = c.query(q)
            assert tp == CL.CPROTO_RES_QUERY

        def jobs():
            return len(spark.sparkContext.statusTracker()
                       .getJobIdsForGroup(None))

        lats = {}
        before = jobs()
        for q in ("count series", "select count() from /fp.*/",
                  "list series limit 3"):
            samples = []
            for _ in range(20):
                t0 = time.perf_counter()
                tp, body = c.query(q)
                samples.append(time.perf_counter() - t0)
                assert tp == CL.CPROTO_RES_QUERY
            samples.sort()
            lats[q] = samples[len(samples) // 2]
        assert jobs() == before, "fast path took a Spark job"
        for q, med in lats.items():
            assert med < 0.005, (q, med)
        # answers equal references computed from Spark frames
        tp, body = c.query("count series")
        assert body == {"series": eng.catalog_df().count()}
        q = "select count() from /fp.*/"
        tp, body = c.query(q)
        assert body == eng._collect(eng.select_df(q))
    finally:
        c.close()
        srv.stop()
