"""A malformed ``Authorization: Basic`` header is an unauthenticated
request (401), whatever is wrong with it — never a server error."""

import base64
import json
import urllib.error
import urllib.request

import pytest

from siridb_server_spark import SiriEngine
from siridb_server_spark.sources.http import ApiServer


@pytest.fixture(scope="module")
def served(spark):
    srv = ApiServer(SiriEngine(spark, precision="s")).start()
    yield srv
    srv.stop()


def _status(srv, authorization: str) -> int:
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/query/sparksiri",
        data=json.dumps({"q": "show"}).encode(), method="POST")
    req.add_header("Content-Type", "application/json")
    req.add_header("Authorization", authorization)
    try:
        with urllib.request.urlopen(req) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


@pytest.mark.parametrize("token", [
    "abc",                                       # not base64
    base64.b64encode(b"\xff\xfe:siri").decode(),  # not UTF-8
    base64.b64encode(b"irissiri").decode(),       # no colon
])
def test_malformed_basic_credentials_are_401(served, token):
    assert _status(served, f"Basic {token}") == 401


def test_well_formed_basic_credentials_pass(served):
    token = base64.b64encode(b"iris:siri").decode()
    assert _status(served, f"Basic {token}") == 200
