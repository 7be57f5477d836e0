"""The store's reads declare its parquet layout instead of inferring it.

``spark.read.parquet`` without a schema runs a Spark job that reads a
footer before the read's own work starts. The store defines its own
layout (``STORE_SCHEMA`` for points, the partials schema recorded in
the rollup meta), so every read declares it and launches no job. The
tests pin both halves of that: every writer lands files in exactly the
declared layout, and the reads run no job.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from siridb_server_spark import SiriEngine
from siridb_server_spark.model import POINTS_SCHEMA
from siridb_server_spark.sources import store as store_mod
from siridb_server_spark.sources.datasource import register
from siridb_server_spark.sources.store import (
    STORE_SCHEMA,
    PointsStore,
    _pa_points_schema,
)

#: ms-precision shard width: sid values exceed int32, so Spark's own
#: partition inference types ``sid`` as long, like the declared layout
HOUR_MS = 3_600_000
T0 = 1_471_254_705_000 - 1_471_254_705_000 % HOUR_MS


def _n_jobs(spark):
    return len(spark.sparkContext._jsc.sc().statusTracker()
               .getJobIdsForGroup(None))


def _shape(schema):
    """(name, type) per field, nullability aside: Spark reads every
    parquet column as nullable whatever the writer declared."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _point_files(path):
    return [os.path.join(root, f)
            for root, dirs, files in os.walk(path)
            if "/kind=" in root
            for f in files
            if f.endswith(".parquet") and not f.startswith(".")]


def _odd_frame(spark, rows):
    """``rows`` as a frame a caller might hand ``append_df``: ``tp``
    as long, an extra column, columns out of layout order."""
    return (spark.createDataFrame(rows, POINTS_SCHEMA)
            .withColumn("tp", F.col("tp").cast("long"))
            .withColumn("note", F.lit("x"))
            .select("note", "tp", "val_str", "val_dbl", "val_int",
                    "seq", "ts", "series"))


def _assert_points_layout(spark, store):
    want = _pa_points_schema()
    files = _point_files(store.path)
    assert files
    for f in files:
        got = pq.read_schema(f)
        assert got.names == want.names, f
        assert got.types == want.types, f
    # what Spark infers from every footer (mergeSchema reads them
    # all) is exactly the declared layout
    inferred = (spark.read.option("mergeSchema", "true")
                .parquet(store.path).schema)
    assert _shape(inferred) == _shape(STORE_SCHEMA)


def test_every_writer_lands_the_declared_layout(spark, tmp_path,
                                                monkeypatch):
    """A store written by every writer: ``append_local``,
    ``append_df`` on both sides of ``ARROW_STATS_MAX_BYTES``, the
    ``format("siridb")`` sink, ``optimize``, ``delete_series`` and
    ``build_rollup``. After each step the points files hold exactly
    the declared layout, and the rollup partials schema recorded in
    the meta is exactly what Spark infers from the partials files."""
    register(spark)
    store = PointsStore(str(tmp_path / "db"), HOUR_MS, HOUR_MS)
    store.append_local(spark, [
        ("a", T0 + 10, 0, 1, None, None, 0),
        ("a", T0 + 20, 1, 2, None, None, 0),
        ("s", T0 + 15, 2, None, None, "x", 2)])
    _assert_points_layout(spark, store)

    store.append_df(spark.createDataFrame(
        [("b", T0 + HOUR_MS + 5, 3, None, 1.5, None, 1),
         ("b", T0 + 30, 4, None, 2.5, None, 1)], POINTS_SCHEMA))
    _assert_points_layout(spark, store)

    monkeypatch.setattr(store_mod, "ARROW_STATS_MAX_BYTES", 0)
    store.append_df(_odd_frame(spark, [
        ("c", T0 + 2 * HOUR_MS + 1, 5, 7, None, None, 0),
        ("c", T0 + 40, 6, 8, None, None, 0)]))
    monkeypatch.undo()
    _assert_points_layout(spark, store)

    (spark.createDataFrame(
        [("d", T0 + 3 * HOUR_MS + 2, 7, 9, None, None, 0),
         ("d", T0 + 50, 8, 10, None, None, 0),
         ("s", T0 + 60, 9, None, None, "y", 2)], POINTS_SCHEMA)
     .write.format("siridb")
     .option("duration_num", str(HOUR_MS))
     .option("duration_log", str(HOUR_MS))
     .mode("append").save(store.path))
    _assert_points_layout(spark, store)

    n_files = len(_point_files(store.path))
    store.optimize(spark)
    assert len(_point_files(store.path)) < n_files
    _assert_points_layout(spark, store)

    store.delete_series(spark, ["b"])
    _assert_points_layout(spark, store)
    assert store.read(spark).where(F.col("series") == "b").count() == 0

    meta = store.build_rollup(spark, 60_000)
    assert meta["v"] == 3
    declared = T.StructType.fromJson(meta["schema"])
    data = store._rollup_data_path(meta["gen"])
    assert _shape(declared) == \
        _shape(spark.read.option("mergeSchema", "true")
               .parquet(data).schema)


def test_append_df_conforms_its_input(spark, tmp_path):
    """``append_df`` of a frame with ``tp`` as long, an extra column
    and out-of-order columns lands the canonical layout and answers
    like the canonical frame does."""
    rows = [("cpu", 100, 0, 5, None, None, 0),
            ("cpu", 200, 1, 7, None, None, 0),
            ("mem", 150, 2, None, 2.5, None, 1),
            ("log", 120, 3, None, None, "up", 2)]
    canon = PointsStore(str(tmp_path / "canon"), 3600, 3600)
    odd = PointsStore(str(tmp_path / "odd"), 3600, 3600)
    canon.append_df(spark.createDataFrame(rows, POINTS_SCHEMA))
    odd.append_df(_odd_frame(spark, rows))

    want = _pa_points_schema()
    for f in _point_files(odd.path):
        got = pq.read_schema(f)
        assert (got.names, got.types) == (want.names, want.types), f
    a = SiriEngine.open(spark, canon.path, precision="s")
    b = SiriEngine.open(spark, odd.path, precision="s")
    for q in ["count series", "list series name, length, type",
              "select sum(100) from /cpu|mem/",
              "select count(100) from /.*/",
              "select last() from /.*/"]:
        assert b.query(q) == a.query(q), q


def _rollup_engine(spark, root):
    eng = SiriEngine.open(spark, root, precision="s")
    eng.insert({"cpu-int": [[100, 5], [40, 2], [3700, 11], [7300, 4]],
                "alt-int": [[30, 1], [630, 2], [3630, 3]]})
    eng.enable_rollup(600)
    return eng


def _rollup_plan(eng, q):
    """The engine's rollup-served plan for ``q``, or None when the
    select reads points."""
    import siridb_server_spark.plans.nodes as N
    from siridb_server_spark.functions.pipeline import TypeSet
    from siridb_server_spark.model import TP_INT
    from siridb_server_spark.plans.parser import Parser

    stmt = Parser(q, "s").parse().stmt
    assert isinstance(stmt, N.SelectStmt)
    return eng._rollup_pipeline(
        stmt.pipelines[0], stmt, TypeSet(frozenset({TP_INT})), {})


def test_v2_rollup_meta_reads_points_until_maintain(spark, tmp_path):
    """A rollup meta from before the schema record (``"v": 2``) is
    refused: the select answers from points, identically, and
    ``maintain()`` rebuilds a v3 rollup that serves again."""
    eng = _rollup_engine(spark, str(tmp_path / "db"))
    q = "select sum(3600) from /.*-int/"
    eng.rollup_enabled = False
    want = eng.query(q)
    eng.rollup_enabled = True
    assert _rollup_plan(eng, q) is not None

    meta_path = eng.store._rollup_meta_path
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["v"] = 2
    del meta["schema"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    assert eng.store.read_rollup(spark) is None
    assert _rollup_plan(eng, q) is None
    assert eng.query(q) == want

    eng.maintain()
    assert eng.store.rollup_info()["v"] == 3
    assert eng.store.read_rollup(spark) is not None
    assert _rollup_plan(eng, q) is not None
    assert eng.query(q) == want


@pytest.mark.parametrize("stale", [False, True])
def test_store_reads_launch_no_spark_job(spark, tmp_path, stale):
    """``store.read``, ``read_rollup`` and ``read_points_of`` plan
    their scans from the declared layout: zero Spark jobs."""
    eng = _rollup_engine(spark, str(tmp_path / "db"))
    st = eng.store
    if stale:
        eng.insert({"cpu-int": [[50, 9]]})
    keys = sorted(st._rollup_listing())
    before = _n_jobs(spark)
    pts = st.read(spark)
    roll = st.read_rollup(spark)
    live = st.read_points_of(spark, keys)
    assert _n_jobs(spark) == before
    assert roll is not None and roll["partials"] is not None
    assert bool(roll["stale"]) == stale
    # and the declared reads see every point
    n = spark.read.parquet(st.path).count()
    assert pts.count() == live.count() == n
