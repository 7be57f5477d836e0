"""Metadata-surface tests: groups/tags (semantics from
/root/reference/itest/test_group.py and test_tags.py), list/count/show
result shapes, alter/drop lifecycle, calc/timeit."""

import pytest

from siridb_server_spark import QueryError, SiriEngine

DATA = {
    "a1": [[100, 1], [200, 2]],
    "a2": [[100, 1.5]],
    "b2": [[100, 3]],
    "c2": [[100, "x"]],
}


@pytest.fixture()
def eng(spark):
    e = SiriEngine(spark, precision="s")
    e.insert(DATA)
    return e


def test_groups_set_ops(eng):
    eng.query("create group `a` for /a.*/")
    eng.query("create group `two` for /.*2/")
    assert sorted(eng.query("list series `a` & `two`")["series"]) == [
        ["a2"]]
    assert sorted(eng.query("list series `a` | `two`")["series"]) == [
        ["a1"], ["a2"], ["b2"], ["c2"]]
    assert sorted(eng.query("list series `a` ^ `two`")["series"]) == [
        ["a1"], ["b2"], ["c2"]]
    assert sorted(eng.query("list series `a` - `two`")["series"]) == [
        ["a1"]]
    assert sorted(
        eng.query('list series `a`, `two` - "c2"')["series"]) == [
        ["a1"], ["a2"], ["b2"]]
    assert sorted(
        eng.query('list series `a`, `two` & "c2"')["series"]) == [
        ["c2"]]
    assert eng.query("count groups") == {"groups": 2}
    assert eng.query("count series `a`") == {"series": 2}
    assert eng.query("drop group `a`") == {
        "success_msg": "Successfully dropped group 'a'."}
    with pytest.raises(QueryError, match="Cannot find group or tag"):
        eng.query("list series `a`")


def test_tags_lifecycle(eng):
    eng.query("alter series /a.*/ tag `mytag`")
    assert eng.query("count series `mytag`") == {"series": 2}
    assert sorted(eng.query("list series `mytag`")["series"]) == [
        ["a1"], ["a2"]]
    assert eng.query("count tags") == {"tags": 1}
    r = eng.query("list tags")
    assert r["columns"] == ["name", "series"]
    assert r["tags"] == [["mytag", 2]]
    eng.query('alter series "a1" untag `mytag`')
    assert eng.query("count series `mytag`") == {"series": 1}
    eng.query("alter tag `mytag` set name `renamed`")
    assert eng.query("count series `renamed`") == {"series": 1}
    eng.query("drop tag `renamed`")
    assert eng.query("count tags") == {"tags": 0}


def test_group_overlap_tag_precedence(eng):
    # group is looked up before tag (listener.c:884-1004)
    eng.query("alter series /b.*/ tag `x`")
    eng.query("create group `x` for /a.*/")
    assert eng.query("count series `x`") == {"series": 2}  # the group


def test_list_series_columns(eng):
    r = eng.query('list series name, type, length, start, end "a1"')
    assert r["columns"] == ["name", "type", "length", "start", "end"]
    assert r["series"] == [["a1", "integer", 2, 100, 200]]


def test_list_where_type(eng):
    r = eng.query("list series where type == string")
    assert r["series"] == [["c2"]]
    r = eng.query("list series where type != string and length > 1")
    assert sorted(r["series"]) == [["a1"]]


def test_list_where_name_contains(eng):
    r = eng.query('list series where name ~ "a"')
    assert sorted(r["series"]) == [["a1"], ["a2"]]
    r = eng.query('list series where name !~ "a" and name != "c2"')
    assert sorted(r["series"]) == [["b2"]]


def test_count_series_length(eng):
    assert eng.query("count series length") == {"series_length": 5}
    assert eng.query("count series length /a.*/") == {"series_length": 3}


def test_count_shards_and_pools(eng):
    assert eng.query("count pools") == {"pools": 1}
    r = eng.query("count shards")
    assert r["shards"] >= 1
    r = eng.query("count shards size")
    assert r["shards_size"] > 0


def test_list_shards_and_servers(eng):
    r = eng.query("list shards")
    assert r["columns"] == ["sid", "pool", "server", "size", "start",
                            "end"]
    r = eng.query("list servers")
    assert r["servers"][0][0] == "sparksiri:0"
    r = eng.query("list pools")
    assert r["pools"] == [[0, 1, 4]]


def test_show(eng):
    r = eng.query("show time_precision, dbname, version")
    kv = {d["name"]: d["value"] for d in r["data"]}
    assert kv["time_precision"] == "s"
    assert kv["dbname"] == "sparksiri"
    r_all = eng.query("show")
    assert len(r_all["data"]) >= 30


def test_users_lifecycle(eng):
    assert eng.query('create user "sasha" set password "secret"') == {
        "success_msg": "Successfully created user 'sasha'."}
    assert eng.query('grant read, write to user "sasha"') == {
        "success_msg":
        "Successfully granted permissions to user 'sasha'."}
    r = eng.query("list users")
    # read ⊂ write (access.h:29-32): greedy decomposition prints the
    # containing profile, exactly as siridb_access_to_str does
    assert ["sasha", "write"] in r["users"]
    eng.query('revoke insert from user "sasha"')
    r = eng.query("list users")
    assert ["sasha", "read and create"] in r["users"]
    eng.query('alter user "sasha" set password "newpw"')
    assert eng.query('drop user "sasha"') == {
        "success_msg": "Successfully dropped user 'sasha'."}
    assert eng.query("count users") == {"users": 1}


def test_calc_and_timeit(eng):
    assert eng.query("2 + 3 * 3") == {"calc": 11}
    assert eng.query("(2 + 3) * 3") == {"calc": 15}
    assert eng.query("10 / 4") == {"calc": 2}  # C truncation
    assert eng.query("-7 % 3") == {"calc": -1}  # C sign semantics
    r = eng.query("timeit count series")
    assert r["series"] == 4
    assert r["__timeit__"][0]["server"] == "sparksiri:0"


def test_timeit_select(eng):
    r = eng.query('timeit select * from "a1"')
    assert r["a1"] == [[100, 1], [200, 2]]
    assert "__timeit__" in r


def test_drop_series_updates_catalog(eng):
    eng.query('drop series "a1" set ignore_threshold true')
    assert eng.query("count series") == {"series": 3}
    assert eng.query("count series length") == {"series_length": 3}


def test_drop_shards(eng):
    r = eng.query("drop shards set ignore_threshold true")
    assert "Successfully dropped" in r["success_msg"]
    assert eng.query("count series") == {"series": 0}


def test_expiration(eng, spark):
    import time
    now = int(time.time())
    e2 = SiriEngine(spark, precision="s")
    e2.insert({"old": [[now - 40 * 86400, 1]],
               "new": [[now - 60, 2]]})
    e2.query("alter database set expiration_num 2w set ignore_threshold true")
    left = e2.query("list series")["series"]
    assert ["new"] in left
    assert ["old"] not in left


def test_alter_group_expression(eng):
    eng.query("create group `g` for /a.*/")
    assert eng.query("count series `g`") == {"series": 2}
    eng.query("alter group `g` set expression /b.*/")
    assert eng.query("count series `g`") == {"series": 1}


# ---------------------------------------------------------------- access
def test_access_enforcement(spark):
    """Privilege bits/profiles (access.h:8-42), denial message
    (user.c:197-218), enforcement per statement (listener.c:433)."""
    import pytest

    from siridb_server_spark.errors import QueryError

    e = SiriEngine(spark, precision="s")
    e.insert({"x": [[1, 1]]})
    e.query("create user 'bob' set password 'pw123456'")
    e.session_user = "bob"
    with pytest.raises(QueryError,
                       match=r"Access denied. User 'bob' has no "
                             r"'select' privileges."):
        e.query("select * from 'x'")
    with pytest.raises(QueryError, match="no 'insert' privileges"):
        e.insert({"x": [[2, 2]]})
    with pytest.raises(QueryError, match="no 'grant' privileges"):
        e.query("grant full to user 'bob'")
    e.session_user = "iris"
    e.query("grant read to user 'bob'")
    e.session_user = "bob"
    assert e.query("select * from 'x'") == {"x": [[1, 1]]}
    assert e.query("count series") == {"series": 1}
    with pytest.raises(QueryError, match="no 'drop' privileges"):
        e.query("drop series 'x'")
    e.session_user = "iris"
    e.query("revoke read from user 'bob'")
    r = e.query("list users")
    assert ["bob", "no access"] in r["users"]
    assert ["iris", "full"] in r["users"]


def test_access_profile_composition():
    from siridb_server_spark import access as A

    assert A.access_to_str(A.PROFILE_READ) == "read"
    assert A.access_to_str(A.SHOW | A.COUNT | A.LIST) == \
        "count, list and show"
    assert A.access_to_str(0) == "no access"
    assert A.access_from_names(["write"]) == A.PROFILE_WRITE
    # revoking 'insert' from write leaves read | create
    left = A.PROFILE_WRITE & ~A.INSERT
    assert A.access_to_str(left) == "read and create"


def test_help_topics(eng):
    r = eng.query("help")
    assert "select" in r["help"] and "functions" in r["help"]
    assert "right-closed" in eng.query("help functions")["help"]
    assert "merge as" in eng.query("help select")["help"]
    import pytest

    from siridb_server_spark.errors import QueryError
    with pytest.raises(QueryError, match="Cannot find help"):
        eng.query("help nonsense")


def test_alter_server(eng):
    r = eng.query("alter server 'sparksiri:0' set log_level debug")
    assert r == {"success_msg":
                 "Successfully set log level to 'debug' on "
                 "'sparksiri:0'."}
    assert eng.query("list servers log_level")["servers"] == [["debug"]]
    kv = {d["name"]: d["value"]
          for d in eng.query("show log_level")["data"]}
    assert kv["log_level"] == "debug"
    r = eng.query("alter servers set log_level warning")
    assert r["success_msg"] == \
        "Successfully set log level to 'warning' on 1 servers."
    eng.query("alter server 'sparksiri:0' set backup_mode true")
    assert eng.query("list servers status")["servers"] == [
        ["running (backup mode)"]]
    with pytest.raises(QueryError, match="Cannot find server"):
        eng.query("alter server 'other:0' set log_level info")
    # golden expectation list (itest/test_server.py:79-83)
    from siridb_server_spark.errors import ParseError
    with pytest.raises(ParseError,
                       match="debug, info, warning, error or critical"):
        eng.query("alter server 'sparksiri:0' set log_level unknown")


def test_http_api_contract(spark):
    """Transport-free replay of the reference's HTTP contract
    (api.c:233-241, 651-728): routes, auth, status codes, error
    payload shape (itest/test_http_api.py is the reference model)."""
    from siridb_server_spark.sources.api import handle_request

    e = SiriEngine(spark, precision="s")
    ins = '{"hx": [[100, 1.5], [160, 2.5]]}'
    st, r = handle_request(e, "POST", "/insert/sparksiri", ins,
                           user="iris", password="siri")
    assert st == 200 and r["success_msg"] == \
        "Successfully inserted 2 point(s)."
    st, r = handle_request(e, "POST", "/query/sparksiri",
                           '{"q": "select sum(60) from \'hx\'"}',
                           user="iris", password="siri")
    assert st == 200 and r == {"hx": [[120, 1.5], [180, 2.5]]}
    # error payload shape
    st, r = handle_request(e, "POST", "/query/sparksiri",
                           '{"q": "select nope() from \'hx\'"}',
                           user="iris", password="siri")
    assert st == 400 and "error_msg" in r
    # auth / routing / method / media-type codes
    assert handle_request(e, "POST", "/query/sparksiri",
                          '{"q": "show"}', user="iris",
                          password="wrong")[0] == 401
    assert handle_request(e, "POST", "/query/otherdb", "{}",
                          user="iris", password="siri")[0] == 404
    assert handle_request(e, "GET", "/query/sparksiri", "{}",
                          user="iris", password="siri")[0] == 405
    assert handle_request(e, "POST", "/query/sparksiri", "{}",
                          user="iris", password="siri",
                          content_type="text/csv")[0] == 415
    assert handle_request(e, "POST", "/query/sparksiri", "not json",
                          user="iris", password="siri")[0] == 400
    # insert privilege enforced at the HTTP layer (api.c:662)
    e.query("create user 'ro' set password 'pw123456'")
    e.query("grant read to user 'ro'")
    assert handle_request(e, "POST", "/insert/sparksiri", ins,
                          user="ro", password="pw123456")[0] == 403
    st, r = handle_request(e, "POST", "/query/sparksiri",
                           '{"q": "count series"}',
                           user="ro", password="pw123456")
    assert st == 200 and r == {"series": 1}


def test_ten_thousand_series_envelope(spark):
    """Reference envelope: a database holds ≥10k listable series
    (itest/testing/helpers.py:78-79 generates 10,000). Exercises the
    derived catalog, list_limit cap, and set algebra at that width."""
    from siridb_server_spark import SiriEngine
    eng = SiriEngine(spark, precision="s")
    names = [f"m-{i:05d}" for i in range(10_000)]
    eng.insert({n: [[1 + (i % 7), i]] for i, n in enumerate(names)})
    assert eng.query("count series") == {"series": 10_000}
    assert eng.query("count series /m-00.*/") == {"series": 1_000}
    # default list_limit caps at 10k rows (db.h:17)
    assert len(eng.query("list series")["series"]) == 10_000
    got = eng.query("count series length /m-.*/ - /m-000.*/")
    assert got == {"series_length": 10_000 - 100}


def test_register_views_sql_surface(eng):
    """register_views exposes points/catalog to plain Spark SQL; the
    SQL surface and the engine surface read the same data."""
    eng.register_views()
    spark = eng.spark
    n_sql = spark.sql(
        "SELECT count(*) AS n FROM siri_points").first()["n"]
    total = sum(len(v) for v in eng.query(
        "select * from /.*/").values())
    assert n_sql == total
    cat = spark.sql(
        "SELECT name, length FROM siri_series ORDER BY name").collect()
    listed = eng.query("list series name, length")["series"]
    assert [(r["name"], r["length"]) for r in cat] == \
        sorted([tuple(r) for r in listed])


def _n_jobs(spark):
    return len(spark.sparkContext._jsc.sc().statusTracker()
               .getJobIdsForGroup(None))


def test_catalog_fastpath_zero_jobs_and_agreement(spark, tmp_path):
    """list/count/skip-points answers come from the driver catalog
    snapshot with ZERO Spark jobs (ref: in-memory series structs,
    listener.c:5351-5586), and agree exactly with references computed
    here: the selected names with the Catalyst compilers over
    ``catalog_df()``, a ``from_points`` engine over the same points,
    and ``select_df`` for the selects."""
    from pyspark.sql import functions as F

    from siridb_server_spark import SiriEngine
    from siridb_server_spark.operators.selection import compile_match
    from siridb_server_spark.operators.where import compile_where
    from siridb_server_spark.plans.parser import Parser

    eng = SiriEngine.open(spark, str(tmp_path / "fdb"), precision="s")
    eng.insert({"cpu-a": [[100, 1], [200, 2]],
                "cpu-b": [[150, 1.5]],
                "log-x": [[100, "hello"]]})
    eng.query("create group `cpu` for /cpu.*/")
    eng.query("alter series 'log-x' tag `txt`")

    queries = [
        "list series",
        "list series name, length, type, start, end /cpu.*/",
        "list series `cpu` & /.*a/",
        "list series where length > 1",
        "list series limit 2",
        "count series",
        "count series /cpu.*/ - 'cpu-b'",
        "count series length where type == float",
        "select count() from /.*/",
        "select count() prefix 'n_' from `cpu` where end >= 150",
        "select count() from `txt`",
        # skip-points first()/last(): typed values straight from the
        # catalog snapshot (int, double, and string series)
        "select first() from /.*/",
        "select last() from /.*/",
        "select first() suffix '_f' from `txt`",
        "select last() from 'cpu-b'",
        # non-series entities are driver-held structures: zero jobs
        "list groups",
        "list tags",
        "list users",
        "list servers",
        "list pools",
        "count groups",
        "count users where access >= full",
        "count tags",
        "count servers",
        "count pools",
        # shards from parquet footers (store-backed, no data read)
        "list shards",
        "count shards",
        "count shards size",
    ]
    # bucketed selects plan from the snapshot's seeds (names, types,
    # points bound); select_df plans the same statement from the
    # Spark catalog frame
    selects = [
        "select mean(100) from /cpu.*/",
        "select sum(100) prefix 's_' from `cpu` where length > 1",
        "select count(100) from /.*/ where type == float",
        "select max(50) from `cpu` - 'cpu-b' where end >= 150",
    ]
    # warm the snapshot (first call may read catalog parquet but must
    # not launch a job either way), write through it with one insert,
    # then assert zero jobs per query
    eng.query("count series")
    eng.insert({"cpu-a": [[300, 3]], "cpu-c": [[250, 4.5]]})
    answers = {}
    for q in queries + selects:
        before = _n_jobs(spark)
        answers[q] = eng.query(q)
        if q not in selects:
            assert _n_jobs(spark) == before, f"{q} launched a Spark job"

    # the snapshot's FROM/where evaluators (plans/fastpath.py) select
    # exactly the names the Catalyst compilers select
    for q in queries:
        stmt = Parser(q, "s").parse().stmt
        if getattr(stmt, "entity", None) != "series":
            continue
        cat = eng.catalog_df()
        if stmt.match is not None:
            cat = cat.where(compile_match(stmt.match, eng.groups,
                                          eng.tags, col=F.col("name")))
        if stmt.where is not None:
            cat = cat.where(compile_where(stmt.where))
        want = {r["name"]: r["length"] for r in cat.collect()}
        got = answers[q]
        if q.startswith("count") and stmt.variant == "length":
            assert got == {"series_length": sum(want.values())}, q
        elif q.startswith("count"):
            assert got == {"series": len(want)}, q
        elif "limit" in q:
            assert {r[0] for r in got["series"]} <= set(want), q
        else:
            assert sorted(r[0] for r in got["series"]) == \
                sorted(want), q

    # a from_points engine over the same points answers alike: its
    # snapshot is folded from one aggregate of the points, not read
    # from the store's catalog files or shard footers
    ref = SiriEngine.from_points(spark, eng.points_df(), precision="s")
    ref.groups = dict(eng.groups)
    ref.tags = {k: set(v) for k, v in eng.tags.items()}
    for q in queries + selects:
        fast, slow = answers[q], ref.query(q)
        if q.split()[0] == "list":
            # row order (and WHICH rows under a limit) is engine-
            # internal, as in the reference; compare as sets, and
            # for limited lists only the count + membership
            ent = q.split()[1]
            assert fast["columns"] == slow["columns"], q
            if "limit" in q:
                assert len(fast[ent]) == len(slow[ent]), q
                full = {r[0] for r in
                        eng.query(f"list {ent}")[ent]}
                assert {r[0] for r in fast[ent]} <= full, q
            else:
                assert sorted(map(tuple, fast[ent])) == \
                    sorted(map(tuple, slow[ent])), q
        else:
            assert fast == slow, q

    # the distributed API plans every select from Spark frames
    for q in selects + [q for q in queries if q.startswith("select")]:
        assert eng._collect(eng.select_df(q)) == answers[q], q
    # unknown group/tag raises identically on the snapshot path
    import pytest as _pytest

    from siridb_server_spark.errors import QueryError
    with _pytest.raises(QueryError, match="Cannot find group or tag"):
        eng.query("count series `nope`")


def test_fresh_store_metadata_zero_jobs(spark, tmp_path):
    """A store with no points yet has an empty catalog snapshot:
    count/list statements and the first insert's type pre-flight
    answer from it without a Spark job."""
    from siridb_server_spark import SiriEngine

    eng = SiriEngine.open(spark, str(tmp_path / "empty"), precision="s")
    for q, want in (("count series", {"series": 0}),
                    ("count pools", {"pools": 0}),
                    ("list shards", {"columns": [
                        "sid", "pool", "server", "size", "start", "end"],
                        "shards": []}),
                    ("list series", {"columns": ["name"],
                                     "series": []})):
        before = _n_jobs(spark)
        assert eng.query(q) == want, q
        assert _n_jobs(spark) == before, f"{q} launched a Spark job"
    before = _n_jobs(spark)
    eng.insert({"a": [[100, 1]], "b": [[100, "x"]]})
    assert _n_jobs(spark) == before, "first insert launched a Spark job"
    assert eng.query("count series") == {"series": 2}
    assert eng.query("count pools") == {"pools": 1}


def test_stale_marker_repaired_before_catalog_reads(spark, tmp_path,
                                                    monkeypatch):
    """An append that fails after its points landed abandons its
    pending marker, so the catalog misses those points. The next
    catalog read runs the store's repair first: count/list answer
    from the points on disk."""
    from siridb_server_spark import SiriEngine
    from siridb_server_spark.sources import store as S

    eng = SiriEngine.open(spark, str(tmp_path / "sdb"), precision="s")
    eng.insert({"a": [[100, 1], [200, 2]], "b": [[100, 1.5]]})
    assert eng.query("count series") == {"series": 2}

    def crash(*_a, **_k):
        raise OSError("disk full")

    monkeypatch.setattr(S, "write_arrow_delta", crash)
    with pytest.raises(OSError):
        eng.insert({"a": [[300, 3]], "c": [[100, "x"]]})
    monkeypatch.undo()
    assert eng.store.catalog_files() is None  # stale marker

    assert eng.query("count series") == {"series": 3}
    assert eng.query("count series length") == {"series_length": 5}
    assert sorted(eng.query("list series name, length")["series"]) == \
        [["a", 3], ["b", 1], ["c", 1]]
    assert eng.store.catalog_files() is not None  # marker cleared
    ref = SiriEngine.from_points(spark, eng.points_df(), precision="s")
    assert eng._catalog_local() == ref._catalog_local()


def test_drop_shards_crash_repaired_before_catalog_reads(spark, tmp_path,
                                                         monkeypatch):
    """`drop shards` that dies after removing its first shard leaves
    a stale pending marker: the next catalog read rebuilds, so the
    series lengths match a fresh rebuild from the points on disk."""
    import shutil

    from siridb_server_spark import SiriEngine

    eng = SiriEngine.open(spark, str(tmp_path / "sdb"), precision="s")
    week = 604800
    eng.insert({"a": [[100, 1], [week + 100, 2], [2 * week + 100, 3]],
                "b": [[week + 200, 1.5], [2 * week + 200, 2.5]]})
    assert eng.query("count shards") == {"shards": 3}
    real_rmtree = shutil.rmtree
    calls = []

    def crash_after_first(path, *a, **k):
        calls.append(path)
        if len(calls) > 1:
            raise OSError("disk error")
        real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", crash_after_first)
    with pytest.raises(OSError):
        eng.query("drop shards")
    monkeypatch.undo()
    assert eng.query("count shards") == {"shards": 2}

    got = sorted(eng.query("list series name, length")["series"])
    eng.store.rebuild_catalog(spark)
    fresh = SiriEngine.open(spark, eng.store.path, precision="s")
    assert got == sorted(
        fresh.query("list series name, length")["series"])
    assert sum(n for _, n in got) == eng.points_df().count()


def test_timezone_validated_and_applied(spark):
    """ISO dates in a query are read in the database timezone; an
    unknown zone is rejected and leaves the old one in place."""
    from siridb_server_spark import SiriEngine

    eng = SiriEngine(spark, precision="s")
    # 2016-08-15 10:00:00 UTC, and one hour later
    eng.insert({"t": [[1471255200, 1], [1471258800, 2]]})
    q = "select * from 't' between '2016-08-15 12:00' and " \
        "'2016-08-15 12:30'"
    assert eng.query(q) == {"t": []}
    assert eng.query("alter database set timezone 'Europe/Amsterdam'") \
        == {"success_msg": "Successfully changed timezone from 'NAIVE' "
            "to 'Europe/Amsterdam'."}
    # CEST is UTC+2: 12:00 local is the first point
    assert eng.query(q) == {"t": [[1471255200, 1]]}
    for bad in ("Mars/Olympus", "Europe", "../etc/passwd"):
        with pytest.raises(QueryError, match="Unknown time zone"):
            eng.query(f"alter database set timezone '{bad}'")
        assert eng.timezone == "Europe/Amsterdam"
        assert eng.query(q) == {"t": [[1471255200, 1]]}
    eng.query("alter database set timezone 'NAIVE'")
    assert eng.query(q) == {"t": []}


def test_group_tag_name_validation(spark):
    """Transliterated from itest/test_group.py:40-55 + the tag twin
    (group.c:81-93, tag.c:57-69, set_name cross-namespace checks):
    empty / >255-char names reject with the verbatim messages;
    renames reject collisions in BOTH the tag and group namespaces."""
    from siridb_server_spark import SiriEngine
    from siridb_server_spark.errors import QueryError

    eng = SiriEngine(spark, precision="s")
    eng.insert({"a1": [[100, 1]], "b1": [[100, 2]]})

    def err(q):
        with pytest.raises(QueryError) as e:
            eng.query(q)
        return str(e.value)

    assert err("create group `` for /c.*/") == \
        "Group name should be at least 1 characters."
    assert err(f"create group `{'a' * 300}` for /c.*/") == \
        "Group name should be at most 255 characters."
    eng.query("create group `a` for /a.*/")
    assert err("create group `a` for /a.*/") == \
        "Group 'a' already exists."
    eng.query("create group `b` for /b.*/")
    # rename validation + collision (group.c siridb_group_set_name)
    assert err('alter group `b` set name ""') == \
        "Group name should be at least 1 characters."
    assert err('alter group `b` set name "a"') == \
        "Group 'a' already exists."
    assert eng.query('alter group `b` set name "bb"') == \
        {"success_msg": "Successfully updated group 'bb'."}
    # tag twin: length checks + both-namespace collision on rename
    eng.query("alter series 'a1' tag `t1`")
    eng.query("alter series 'b1' tag `t2`")
    assert err('alter tag `t2` set name "t1"') == \
        "Tag 't1' already exists."
    assert err('alter tag `t2` set name "a"') == \
        "Group 'a' already exists."
    assert err(f"alter tag `t2` set name \"{'x' * 300}\"") == \
        "Tag name should be at most 255 characters."
    assert eng.query('alter tag `t2` set name "t3"') == \
        {"success_msg": "Successfully updated tag 't3'."}
    # membership carried over the rename
    assert eng.query("count series `t3`") == {"series": 1}
