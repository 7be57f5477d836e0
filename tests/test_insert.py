"""Insert validation goldens (semantics from
/root/reference/itest/test_insert.py and src/siri/db/insert.c:93-126)."""

import os

import pytest

from siridb_server_spark import InsertError, SiriEngine


@pytest.fixture()
def eng(spark):
    return SiriEngine(spark, precision="s")


def test_both_insert_shapes(eng):
    assert eng.insert({"m": [[1, 1], [2, 2]]})["success_msg"] == \
        "Successfully inserted 2 point(s)."
    assert eng.insert([{"name": "m2", "points": [[1, 5.5]]}]) == {
        "success_msg": "Successfully inserted 1 point(s)."}


@pytest.mark.parametrize("payload", [
    [{}],                                # missing name/points
    {"None": [[1, None]]},               # null value
    {"no points": []},                   # empty points
    {"no points": [[]]},                 # empty point
    {"invalid ts": [[0.5, 6]]},          # float timestamp
    {"invalid ts": [[-1, 6]]},           # negative timestamp
    {"": [[1, 0]]},                      # empty series name
    {"b": [[1, True]]},                  # bool value unsupported
])
def test_invalid_payloads(eng, payload):
    with pytest.raises(InsertError):
        eng.insert(payload)


def test_list_shape_empty_name(eng):
    with pytest.raises(InsertError):
        eng.insert([{"name": "", "points": [[1, 0]]}])


def test_type_coercion_second_insert(eng):
    """Mismatched types are COERCED into the series' first-insert type,
    never rejected (siridb_series_ensure_type, series.c:1141-1219;
    golden itest/test_series.py:26-77 — string expectations there use
    the server's locale decimal comma; ours is C-locale)."""
    r = eng.insert({
        "string": [
            [1538660000, "some string value"],
            [1538660010, -123456789],
            [1538660020, -0.5],
        ],
        "integer": [
            [1538660000, 1],
            [1538660010, 35.6],
            [1538660020, "-50%"],
            [1538660030, ""],
            [1538660035, "garbage"],
            [1538660040, "18446744073709551616"],    # strtoll clamps
            [1538660050, "-18446744073709551616"],
        ],
        "double": [
            [1538660000, 1.0],
            [1538660010, -35],
            [1538660020, "-50%"],
            [1538660030, ""],
            [1538660035, "garbage"],
        ],
    })
    assert r["success_msg"] == "Successfully inserted 15 point(s)."
    assert eng.query(
        'select * from "string", "integer", "double"') == {
        "string": [
            [1538660000, "some string value"],
            [1538660010, "-123456789"],
            [1538660020, "-0.500000"],
        ],
        "integer": [
            [1538660000, 1],
            [1538660010, 35],
            [1538660020, -50],
            [1538660030, 0],
            [1538660035, 0],
            [1538660040, 9223372036854775807],
            [1538660050, -9223372036854775808],
        ],
        "double": [
            [1538660000, 1.0],
            [1538660010, -35.0],
            [1538660020, -50.0],
            [1538660030, 0.0],
            [1538660035, 0.0],
        ],
    }
    # same type appends fine, out of order, duplicates kept
    eng.insert({"t": [[1, 1]]})
    eng.insert({"t": [[1, 7], [0, 5]]})
    assert eng.query("select * from 't'") == {
        "t": [[0, 5], [1, 1], [1, 7]]}


def test_unicode_names_and_missing_series(eng):
    """Unicode series names round-trip; selecting a non-existent name
    is silently empty, not an error (itest/test_series.py:96-113)."""
    pi, klingon = "ԉ π", "qajunpaQHeylIjmo' batlh"
    eng.insert({pi: [[1, 5], [2, 6]], klingon: [[1, 1.5]]})
    assert eng.query(f'select * from "{pi}", "nexist"') == {
        pi: [[1, 5], [2, 6]]}
    assert eng.query('select * from "nexist"') == {}
    assert eng.query(f'select * from "{klingon}"') == {
        klingon: [[1, 1.5]]}


def test_series_name_too_long(eng):
    with pytest.raises(InsertError):
        eng.insert({"x" * 65535: [[1, 1]]})


def test_from_points_engine_survives_mutations(eng, spark):
    """Mutating a from_points()-wrapped engine must not discard the
    wrapped frame: inserts union with it, drops filter it."""
    from siridb_server_spark.model import POINTS_SCHEMA
    base = spark.createDataFrame(
        [("w", 100, 0, None, 1.0, None, 1),
         ("w", 200, 1, None, 2.0, None, 1),
         ("x", 150, 2, None, 9.0, None, 1)], POINTS_SCHEMA)
    e2 = SiriEngine.from_points(spark, base, precision="s")
    # insert on top of the wrapped data
    e2.insert({"w": [[300, 3.0]], "y": [[50, 0.5]]})
    assert e2.query("select * from 'w'") == {
        "w": [[100, 1.0], [200, 2.0], [300, 3.0]]}
    assert e2.query("select * from 'y'") == {"y": [[50, 0.5]]}
    # drop one wrapped series: the other wrapped series stays
    e2.query('drop series "x" set ignore_threshold true')
    got = e2.query("list series")
    assert sorted(s[0] for s in got["series"]) == ["w", "y"]
    assert e2.query("select * from 'w'") == {
        "w": [[100, 1.0], [200, 2.0], [300, 3.0]]}


def _private_dirs() -> set:
    import glob
    import tempfile
    return set(glob.glob(os.path.join(tempfile.gettempdir(),
                                      "sparksiri-*")))


def test_private_store_removed_at_exit(tmp_path):
    """A store-less engine keeps its points in a private store; the
    directory is gone once the process exits. Inserting needs no
    JVM: the store writes with pyarrow."""
    import subprocess
    import sys

    code = ("import os\n"
            "from siridb_server_spark import SiriEngine\n"
            "eng = SiriEngine(None)\n"
            "eng.insert({'a': [[1, 1], [2, 2.5]]})\n"
            "assert os.path.isdir(eng.store.path)\n"
            "print(eng.store.path)\n")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)}, timeout=120)
    assert out.returncode == 0, out.stderr
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)


def test_select_df_outlives_its_engine(spark):
    """The private store stays until exit, so a frame that reads it
    lazily still collects after its engine is collected."""
    import gc

    eng = SiriEngine(spark, precision="s")
    eng.insert({"a": [[1, 1], [2, 2]], "b": [[1, 5]]})
    df = eng.select_df("select * from 'a'")
    path = eng.store.path
    del eng
    gc.collect()
    assert os.path.isdir(path)
    assert sorted((r["ts"], r["val_int"]) for r in df.collect()) == \
        [(1, 1), (2, 2)]


def test_open_and_from_points_make_no_private_store(spark, tmp_path):
    """open() uses its own store, and an unmutated from_points engine
    reads its frame: neither writes a private store, not even for
    queries and select_df() (the driver-contract entries' path)."""
    from siridb_server_spark import QueryError

    before = _private_dirs()
    eng = SiriEngine.open(spark, str(tmp_path / "db"), precision="s")
    eng.insert({"a": [[1, 1], [2, 2]]})
    e2 = SiriEngine.from_points(spark, eng.points_df(), precision="s")
    assert e2.store is None
    assert e2.query("select sum(2) from 'a'") == {"a": [[2, 3]]}
    assert e2.query("count series") == {"series": 1}
    assert e2.select_df("select * from 'a'").count() == 2
    with pytest.raises(QueryError):
        e2.enable_rollup(1)
    assert e2.store is None
    assert _private_dirs() == before


def test_log_series_roundtrip(spark):
    """Transliterated from itest/test_log.py DATA: string series
    round-trip exactly — empty strings, surrogate-pair emoji/astral
    chars, and multi-KB log lines; head/tail/first/last/count work on
    string series (filter-less select parity)."""
    from siridb_server_spark import SiriEngine

    long_line = ("time series is a series of data points indexed in "
                 "time order. " * 80)  # multi-KB payload
    data = {
        "empty": [[1471254710, ""], [1471254712, ""],
                  [1471254714, ""]],
        "log": [[1471254710, "log line one"],
                [1471254712, "log line two"],
                [1471254714, "another line (three)"]],
        "utf16": [[1471254710, "\U0001F600\U0001F680"],
                  [1471254712, "҉"],
                  [1471254714, "\U0001D11E clef"]],
        "long_log": [[1471254710, long_line]],
    }
    eng = SiriEngine(spark, precision="s")
    assert eng.insert(data) == {
        "success_msg": "Successfully inserted 10 point(s)."}
    for name, pts in data.items():
        assert eng.query(f'select * from "{name}"') == {name: pts}, name
    # string series support count/first/last and head/tail
    assert eng.query('select count() from "utf16"') == {
        "utf16": [[1471254714, 3]]}
    assert eng.query('select first() from "utf16"') == {
        "utf16": [[1471254710, "\U0001F600\U0001F680"]]}
    assert eng.query('select last() from "long_log"') == {
        "long_log": [[1471254710, long_line]]}
    assert eng.query('select * from "log" head 2') == {
        "log": [[1471254710, "log line one"],
                [1471254712, "log line two"]]}
    # selecting unknown names alongside known ones silently ignores
    # the unknown (itest/test_series.py:109-112)
    assert eng.query('select * from "nexist", "empty", "x"') == {
        "empty": data["empty"]}
