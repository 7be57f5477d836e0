"""Plan build cost of a select: py4j round trips, plan identity, and the
reuse of pipeline expressions and of the rollup frame across selects.

A warm select's pipeline Columns come from the memo in
``functions/memo.py`` and its rollup scan from the store's
per-generation frame (``PointsStore._rollup_partials``). These tests pin:

- the round trips a warm single-pipeline select makes while it plans
  (``GatewayClient.send_command`` calls during ``_select_plan``);
- the optimized logical plan of each serve-read template, expression
  IDs stripped, against goldens (``plan_golden.json``) recorded from
  the previous revision of the engine, whose pipeline code rebuilt every
  Column on every select (``python tests/test_plan_build.py --record
  tests/plan_golden.json`` with that revision on ``PYTHONPATH``). The
  ``between`` and ``stale:`` entries were re-recorded when live points
  began to enter the rollup compose as one-row partials: their plans
  hold one ``Aggregate`` where they held two;
- that the reused rollup frame follows every change of the store;
- that the memo never serves a handle of a JVM that is gone;
- the transports' shared engine lock and the exact ``arrow_df``.
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys
import textwrap
import threading
import time

import pytest

from siridb_server_spark import SiriEngine

# these tests compare Spark plans and paths: keep selects off the
# driver-side Arrow executor
pytestmark = pytest.mark.usefixtures("spark_selects")

GOLDEN = os.path.join(os.path.dirname(__file__), "plan_golden.json")

#: serve-read templates (perfbench/gen.py's read mix on this store)
TEMPLATES = [
    "select sum(1h) from /click\\|1.*/",
    "select mean(1d) from /error.*/ between '2024-01-06' and "
    "'2024-01-19'",
    "select max(1h) from 'click|7'",
    "select count(1d) from /error\\|3.*/",
    "select median(1d) from /click\\|2.*/",
    "select mean(1h) from /error\\|1.*/ merge as 'm' using mean(1h)",
    "select limit(20, mean) from /click\\|2.*/",
    "select derivative() from 'error|7'",
    "select filter(> 50) => difference() from /click\\|2.*/",
]
#: a read after an insert made rollup shards stale (ingest_mixed)
STALE = "select max(1h) from 'click|7'"
#: the round-trip budget of planning one warm single-pipeline select
MAX_ROUND_TRIPS = 300

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
DAY = 86_400


def _events(rng: random.Random, n: int) -> dict:
    """``n`` points over 5 event types x 40 users, 30 days."""
    out: dict = {}
    for _ in range(n):
        name = f"{rng.choice(('click', 'error', 'view', 'buy', 'up'))}" \
               f"|{rng.randrange(40)}"
        out.setdefault(name, []).append(
            [T0 + rng.randrange(30 * DAY), round(rng.uniform(1, 99), 2)])
    return out


def build_store(spark, path: str) -> SiriEngine:
    eng = SiriEngine.open(spark, path, precision="s")
    eng.insert(_events(random.Random(7), 3000))
    eng.maintain()
    eng.enable_rollup(3600)
    return eng


def stale_insert(eng: SiriEngine):
    eng.insert(_events(random.Random(8), 200))


def _normalize(plan: str, path: str) -> str:
    """Expression IDs, plan ids and the store path stripped; IN-lists
    sorted (their order follows the shard directory listing)."""
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"plan_id=\d+", "", plan)
    plan = plan.replace(path, "<store>")
    return re.sub(r" IN \(([^()]*)\)",
                  lambda m: " IN (" + ",".join(
                      sorted(m.group(1).split(","))) + ")", plan)


def plan_of(eng: SiriEngine, q: str):
    from siridb_server_spark.plans.parser import Parser

    stmt = Parser(q, eng.precision).parse().stmt
    df, _seeds = eng._select_plan(stmt)
    return df


def optimized(eng: SiriEngine, q: str, path: str) -> str:
    df = plan_of(eng, q)
    return _normalize(
        df._jdf.queryExecution().optimizedPlan().toString(), path)


def record(spark, path: str) -> dict:
    eng = build_store(spark, path)
    out = {q: optimized(eng, q, path) for q in TEMPLATES}
    stale_insert(eng)
    out["stale: " + STALE] = optimized(eng, STALE, path)
    return out


# ------------------------------------------------------------ fixtures
@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("planbuild") / "db")
    return build_store(spark, path), path


@pytest.fixture()
def py4j_calls(monkeypatch):
    """Counts the test thread's ``GatewayClient.send_command`` calls:
    ``calls[0]``. The release messages py4j sends for garbage-collected
    JVM references (from whichever thread collects them) are
    housekeeping of earlier work, not planning, and are not counted."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    calls = [0]
    real = GatewayClient.send_command
    owner = threading.get_ident()
    release = (protocol.MEMORY_COMMAND_NAME
               + protocol.MEMORY_DEL_SUBCOMMAND_NAME)

    def counting(self, command, *args, **kw):
        if threading.get_ident() == owner \
                and not command.startswith(release):
            calls[0] += 1
        return real(self, command, *args, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    return calls


def _round_trips(eng, q, calls) -> int:
    plan_of(eng, q)  # warm: memo and rollup frame filled
    before = calls[0]
    plan_of(eng, q)
    return calls[0] - before


# --------------------------------------------------------------- tests
@pytest.mark.parametrize("q", [q for q in TEMPLATES if "limit(" not in q])
def test_warm_select_plans_in_few_round_trips(store, py4j_calls, q):
    eng, _path = store
    n = _round_trips(eng, q, py4j_calls)
    assert n <= MAX_ROUND_TRIPS, (q, n)


def test_stale_rollup_select_plans_in_few_round_trips(spark, tmp_path,
                                                      py4j_calls):
    eng = build_store(spark, str(tmp_path / "db"))
    stale_insert(eng)
    assert eng.store.read_rollup(spark)["stale"]
    n = _round_trips(eng, STALE, py4j_calls)
    assert n <= MAX_ROUND_TRIPS, n


def test_rollup_build_prepares_the_stale_select_projection(
        spark, tmp_path, monkeypatch, py4j_calls):
    """The rollup build leaves the one-row projection of its bucket
    (``P.point_partials_cols``) in the memo, so the first select of a
    process that reads stale shards does not build it (~1,300 round
    trips cold)."""
    from siridb_server_spark.functions import memo
    from siridb_server_spark.functions import pipeline as P

    monkeypatch.setattr(memo, "MEMO", memo.ColumnMemo())
    build_store(spark, str(tmp_path / "db"))
    before = py4j_calls[0]
    P.point_partials_cols(3600)
    assert py4j_calls[0] == before


def test_optimized_plans_match_the_unmemoized_plans(spark, tmp_path):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    path = str(tmp_path / "db")
    eng = build_store(spark, path)
    for q in TEMPLATES:
        # the cold build (memo and frame filled) and the warm one
        assert optimized(eng, q, path) == want[q], q
        assert optimized(eng, q, path) == want[q], q
    stale_insert(eng)
    assert optimized(eng, STALE, path) == want["stale: " + STALE]


ROLLUP_QUERIES = [
    "select sum(1h) from /.*/",
    "select count(1d) from /a.*/",
    "select max(1h) from 'b' between now - 3w and now",
]


def _assert_rollup_matches_points(eng):
    for q in ROLLUP_QUERIES:
        got = eng.query(q)
        eng.rollup_enabled = False
        try:
            want = eng.query(q)
        finally:
            eng.rollup_enabled = True
        assert got == want, q


def test_reused_rollup_frame_follows_every_store_change(spark, tmp_path):
    """Each step changes the store under a warm rollup frame; the
    rollup answer must still equal the points answer."""
    now = int(time.time())
    week = 7 * DAY
    eng = SiriEngine.open(spark, str(tmp_path / "db"), precision="s")
    eng.insert({
        "a": [[now - 6 * week, 1], [now - 4 * week, 2],
              [now - 2 * week, 3], [now - DAY, 4]],
        "a2": [[now - 4 * week + 5, 10], [now - DAY + 5, 20]],
        "b": [[now - 6 * week, 1.5], [now - 2 * week, 2.5],
              [now - 3600, 3.5]],
        "gone": [[now - 2 * week, 7]],
    })
    eng.enable_rollup(3600)
    steps = [
        ("insert", lambda: eng.insert(
            {"a": [[now - 2 * week + 60, 9]], "b": [[now - 60, 0.5]]})),
        ("maintain", eng.maintain),
        ("insert again", lambda: eng.insert({"a": [[now - 30, 5]]})),
        ("enable_rollup", lambda: eng.enable_rollup(3600)),
        ("drop series", lambda: eng.query(
            "drop series 'gone' set ignore_threshold true")),
        ("drop shards", lambda: eng.query(
            f"drop shards where sid < {now - 5 * week} "
            "set ignore_threshold true")),
        ("expiration", lambda: eng.query(
            f"alter database set expiration_num {3 * week} "
            "set ignore_threshold true")),
    ]
    _assert_rollup_matches_points(eng)
    assert eng.store.read_rollup(spark)["partials"] is not None
    for name, step in steps:
        step()
        try:
            _assert_rollup_matches_points(eng)
        except AssertionError as exc:
            raise AssertionError(f"after {name}: {exc}") from None
    # the steps really removed data
    left = eng.query("select * from /.*/")
    assert "gone" not in left
    assert min(ts for ts, _v in left["a"]) == now - 2 * week


def test_memo_drops_entries_of_a_replaced_gateway(monkeypatch):
    from pyspark import SparkContext

    from siridb_server_spark.functions.memo import ColumnMemo

    memo = ColumnMemo(size=2)
    built = []

    def build(v):
        return lambda: built.append(v) or v

    assert memo.get("a", build(1)) == 1
    assert memo.get("a", build(2)) == 1  # served, not rebuilt
    memo.get("b", build(3))
    memo.get("c", build(4))  # fixed LRU: "a" is evicted
    assert len(memo) == 2
    assert memo.get("a", build(5)) == 5
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert memo.get("a", build(6)) == 6  # a new JVM: rebuilt
    assert built == [1, 3, 4, 5, 6]


def test_memo_stress_keeps_its_bound_and_values():
    """Threads racing over more keys than the LRU holds: every get
    returns its key's value and the LRU never outgrows its bound."""
    from siridb_server_spark.functions.memo import ColumnMemo

    memo = ColumnMemo(size=16)
    bad = []

    def worker(seed):
        rng = random.Random(seed)
        for _ in range(3000):
            k = rng.randrange(50)
            if memo.get(k, lambda k=k: ("v", k)) != ("v", k):
                bad.append(k)
            if len(memo) > 16:
                bad.append("size")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == []


_RESTART = textwrap.dedent("""
    import shutil, sys, tempfile
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from siridb_server_spark import SiriEngine

    def session():
        return (SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "1")
                .config("spark.driver.memory", "512m")
                .getOrCreate())

    path = tempfile.mkdtemp()
    qs = ["select sum(600) from /.*/", "select derivative() from 'a'",
          "select filter(> 1) => difference() from /.*/"]
    answers = []
    for new_jvm in (False, False, True):
        spark = session()
        eng = SiriEngine.open(spark, path, precision="s")
        if not answers:
            eng.insert({"a": [[100, 1], [700, 3], [1300, 8]],
                        "b": [[50, 2.5], [650, 4.0]]})
            eng.enable_rollup(600)
        answers.append([eng.query(q) for q in qs])
        gw = SparkContext._gateway
        spark.stop()
        if new_jvm:
            # shut the JVM down: the next session launches a new one
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
    spark = session()
    eng = SiriEngine.open(spark, path, precision="s")
    answers.append([eng.query(q) for q in qs])
    spark.stop()
    shutil.rmtree(path, ignore_errors=True)
    assert all(a == answers[0] for a in answers), answers
    print("OK", answers[0])
""")


def test_session_restart_in_one_process_still_answers(tmp_path):
    """A stopped and restarted session — on the same JVM, then on a
    new one — answers the same selects: no memoized Column or cached
    frame outlives its session or its JVM."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep
               + os.environ.get("PYTHONPATH", ""))
    r = subprocess.run([sys.executable, "-c", _RESTART], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-3000:]


def test_one_engine_lock_for_both_transports(spark):
    """qpack and HTTP serve one engine one request at a time."""
    import base64
    import urllib.request

    from siridb_server_spark.sources import clserver as CL
    from siridb_server_spark.sources.http import ApiServer

    eng = SiriEngine(spark, precision="s")
    eng.insert({"x": [[10, 1]]})
    state = {"active": 0, "max": 0}
    guard = threading.Lock()
    real = eng.query_kinded

    def slow(q):
        with guard:
            state["active"] += 1
            state["max"] = max(state["max"], state["active"])
        time.sleep(0.5)
        with guard:
            state["active"] -= 1
        return real(q)

    eng.query_kinded = slow
    qs = CL.ClientServer(eng).start()
    hs = ApiServer(eng).start()
    go = threading.Barrier(2)
    out = {}

    def via_qpack():
        c = CL.SiriClient(qs.host, qs.port)
        try:
            c.auth("iris", "siri", "sparksiri")
            go.wait()
            out["qpack"] = c.query("count series")
        finally:
            c.close()

    def via_http():
        req = urllib.request.Request(
            f"http://127.0.0.1:{hs.port}/query/sparksiri",
            data=json.dumps({"q": "count series"}).encode(),
            method="POST")
        req.add_header("Content-Type", "application/json")
        req.add_header("Authorization", "Basic " + base64.b64encode(
            b"iris:siri").decode())
        go.wait()
        with urllib.request.urlopen(req) as r:
            out["http"] = json.loads(r.read())

    try:
        threads = [threading.Thread(target=via_qpack),
                   threading.Thread(target=via_http)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        qs.stop()
        hs.stop()
    assert out["http"] == {"series": 1}
    assert out["qpack"][0] == CL.CPROTO_RES_QUERY
    assert state["max"] == 1


def test_arrow_df_is_exact_and_sets_no_conf(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    from siridb_server_spark.localdf import arrow_df

    rows = [(2 ** 53 + 1, "a"), (None, "b")]
    # a nullable long column: a pandas detour would turn it into
    # float64 and 2**53+1 into 2**53
    df = arrow_df(spark, rows, "v long, s string")
    assert [tuple(r) for r in df.orderBy("s").collect()] == rows

    def no_set(self, *args, **kw):
        raise AssertionError("arrow_df set a session conf")

    monkeypatch.setattr(RuntimeConfig, "set", no_set)
    df = arrow_df(spark, rows, "v long, s string")
    assert [tuple(r) for r in df.orderBy("s").collect()] == rows


if __name__ == "__main__":
    # python tests/test_plan_build.py --record <out.json>
    import tempfile

    from pyspark.sql import SparkSession

    out = sys.argv[sys.argv.index("--record") + 1]
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    with tempfile.TemporaryDirectory() as d:
        plans = record(spark, os.path.join(d, "db"))
    spark.stop()
    with open(out, "w") as fh:
        json.dump(plans, fh, indent=1, sort_keys=True)
        fh.write("\n")
