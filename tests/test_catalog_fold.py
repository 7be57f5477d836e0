"""One catalog fold: every writer of the store catalog (driver append,
Spark append on both sides of its size gate, the ``siridb`` sink) and
every rewrite of it (compaction, drop, retention) must leave catalog
files that fold on the driver to exactly the per-series aggregate of
the points."""

import math
import os
import random

from siridb_server_spark import SiriEngine
from siridb_server_spark.model import POINTS_SCHEMA
from siridb_server_spark.sources import store as S
from siridb_server_spark.sources.datasource import register
from siridb_server_spark.sources.store import (
    PointsStore,
    catalog_stats,
    merge_stats,
)


def _write(df, path):
    (df.write.format("siridb")
     .option("duration_num", "1000").option("duration_log", "1000")
     .mode("append").save(path))


def _canon(cat):
    """Catalog dict with NaN values made comparable (NaN != NaN)."""
    def val(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return {n: (*st[:4], tuple(map(val, st[4])), tuple(map(val, st[5])))
            for n, st in cat.items()}


def _truth(spark, st):
    """The catalog recomputed from the points (``_batch_stats``)."""
    agg = PointsStore._batch_stats(st.read(spark)).toArrow()
    return merge_stats({}, catalog_stats(agg.to_pydict()))


BIG = 2 ** 53 + 1  # the first int64 a float64 cannot hold


def test_sink_fold_exact_for_int64_and_nan(spark, tmp_path):
    """The sink's per-task fold keeps int64 values exact next to a
    null int lane (a double series in the same task) and keeps a NaN
    first value a NaN, not a null: it folds exactly like
    ``append_local`` of the same rows."""
    rows = [("i", 10, 0, BIG, None, None, 0),
            ("i", 20, 1, BIG + 2, None, None, 0),
            ("d", 10, 2, None, float("nan"), None, 1),
            ("d", 30, 3, None, 2.5, None, 1)]
    register(spark)
    sink_path = str(tmp_path / "sink")
    local_path = str(tmp_path / "local")
    # one task: both series share the null-bearing val_int lane
    _write(spark.createDataFrame(rows, POINTS_SCHEMA).coalesce(1),
           sink_path)
    PointsStore(local_path, 1000, 1000).append_local(spark, rows)
    got = PointsStore(sink_path, 1000, 1000).read_catalog_local()
    want = PointsStore(local_path, 1000, 1000).read_catalog_local()
    assert _canon(got) == _canon(want)
    assert (got["i"][4][1], got["i"][5][1]) == (BIG, BIG + 2)
    eng = SiriEngine.open(spark, sink_path, precision="s")
    assert eng.query("select first() from 'i'") == {"i": [[10, BIG]]}
    assert eng.query("select last() from 'i'") == {"i": [[20, BIG + 2]]}
    (ts, first), = eng.query("select first() from 'd'")["d"]
    assert ts == 10 and math.isnan(first)
    assert eng.query("select last() from 'd'") == {"d": [[30, 2.5]]}


def test_catalog_writers_fold_to_points_truth(spark, tmp_path,
                                              monkeypatch):
    """Seeded interleaving of every catalog writer and rewrite: after
    every step the driver fold of the catalog files equals the fold
    of ``_batch_stats`` over the points, and no catalog path is
    bucketed."""
    rng = random.Random(4)
    register(spark)
    path = str(tmp_path / "db")
    st = PointsStore(path, 1000, 1000)
    names = [f"n{i}" for i in range(6)]
    seqs = iter(range(10 ** 6))
    gen = {0: lambda: rng.randint(-2 ** 62, 2 ** 62),
           1: lambda: rng.uniform(-5, 5),
           2: lambda: rng.choice(["a", "bb", "ccc"])}

    def batch(k):
        out = []
        for _ in range(k):
            i = rng.randrange(len(names))
            tp = i % 3
            v = gen[tp]()
            out.append((names[i], rng.randrange(6000), next(seqs),
                        v if tp == 0 else None,
                        v if tp == 1 else None,
                        v if tp == 2 else None, tp))
        return out

    big_side = []
    real_batch_stats = PointsStore._batch_stats

    def counted_batch_stats(df):
        big_side.append(1)
        return real_batch_stats(df)

    def append_df_large():
        with monkeypatch.context() as m:
            m.setattr(S, "ARROW_STATS_MAX_BYTES", 0)
            m.setattr(PointsStore, "_batch_stats",
                      staticmethod(counted_batch_stats))
            st.append_df(spark.createDataFrame(batch(15), POINTS_SCHEMA))
        assert big_side

    steps = {
        "append_local": lambda: st.append_local(spark, batch(12)),
        "append_df": lambda: st.append_df(
            spark.createDataFrame(batch(15), POINTS_SCHEMA)),
        "append_df_large": append_df_large,
        "sink": lambda: _write(
            spark.createDataFrame(batch(15), POINTS_SCHEMA), path),
        "compact": lambda: st._compact_catalog(spark),
        "delete": lambda: st.delete_series(
            spark, rng.sample(names, 2)),
        "expire": lambda: st.expire(spark, 2000, rng.random() < 0.5),
    }
    order = (["append_local"] * 3 + ["append_df", "append_df_large",
                                     "sink", "sink", "compact",
                                     "compact", "delete", "expire"])
    rng.shuffle(order)
    for step, name in enumerate(["append_local"] + order + ["compact"]):
        steps[name]()
        assert st.read_catalog_local() == _truth(spark, st), (step, name)
        for root, dirs, _files in os.walk(path):
            assert not any(d.startswith("bucket=") for d in dirs), root
