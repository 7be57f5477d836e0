"""The driver-side select executor (plans/arrowpath.py): which selects
it serves, that they start no Spark job, and that every answer is the
Spark path's, byte for byte in qpack (``query_both`` runs each select
with the executor's bound at 0 and at its value)."""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from siridb_server_spark import QueryError, SiriEngine
from siridb_server_spark.plans import arrowpath as AP
from siridb_server_spark.plans.parser import Parser

I64 = 2**63 - 1
H_NS = 3600 * 10**9


def _path(eng, q):
    return eng.query(f"timeit {q}")["__timeit__"][0]["path"]


def _arrow(eng, q):
    """The executor's answer to ``q``, None where it refuses."""
    return AP.select(eng, Parser(q, eng.precision).parse().stmt)


def _jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, set(tracker.getJobIdsForGroup()) - before


# ------------------------------------------------- the double-sum proof
def _spark_decimal_terms(spark, tmp_path, x: np.ndarray) -> list:
    """Spark's CAST(x AS DECIMAL(38,18)) of each double, scaled by
    10**18, as Python ints."""
    src = str(tmp_path / f"x{len(os.listdir(tmp_path))}.parquet")
    pq.write_table(pa.table({"i": np.arange(len(x)), "x": x}), src)
    tbl = (spark.read.parquet(src).orderBy("i")
           .select(F.col("x").cast("decimal(38,18)").cast("string")
                   .alias("d"))
           .toArrow())
    out = []
    for d in tbl["d"].to_pylist():
        neg = d.startswith("-")
        whole, _, frac = d.lstrip("-").partition(".")
        v = int(whole) * 10**18 + int(frac.ljust(18, "0"))
        out.append(-v if neg else v)
    return out


def _driver_terms(x: np.ndarray) -> list:
    # every value its own group: the group sums are the terms
    return AP._decimal_sums(x, np.arange(len(x)))


def _decimals(rng, n):
    d = rng.integers(2, 7, n)
    return np.array([round(v, int(k)) for v, k in
                     zip(rng.uniform(-1e6, 1e6, n), d)])


def _random_bits(rng, n):
    out = np.empty(0)
    while len(out) < n:
        raw = rng.integers(0, 2**64, 4 * n, dtype=np.uint64)
        x = raw.view(np.float64)
        out = np.r_[out, x[np.isfinite(x) & (np.abs(x) < 2.0**53)]]
    return out[:n]


def _near_2_53(rng, n):
    k = np.arange(1, n // 2 + 1, dtype=np.float64)
    x = np.r_[2.0**53 - k, -(2.0**53 - k)]
    rng.shuffle(x)
    return x


@pytest.mark.parametrize("make", [_decimals, _random_bits, _near_2_53],
                         ids=["2-6-decimals", "random-bits", "near-2**53"])
def test_driver_decimal_term_equals_spark_cast(spark, tmp_path, make):
    """The term the driver folds for each double of |x| < 2**53 is the
    decimal(38,18) Spark's cast gives (Double.toString on the JVM, the
    shortest repr rounded half-up at 18 places here), over 10**5
    values of the class."""
    x = make(np.random.default_rng(11), 100_000)
    assert len(x) == 100_000 and np.all(np.abs(x) < 2.0**53)
    got = _driver_terms(x)
    # the numpy resolution agrees with the per-value Decimal(repr(x))
    # reference it stands in for
    assert got == [AP._decimal_term(v) for v in x.tolist()]
    assert got == _spark_decimal_terms(spark, tmp_path, x)


def test_decimal_to_double_matches_spark(spark, tmp_path):
    """The last step of the double sum: Spark's decimal(38,18) → double
    cast equals Python's correctly rounded ``n / 10**18``."""
    rng = np.random.default_rng(5)
    n = 100_000
    scaled = [int(a) * 10**18 // 10**int(e) + int(b)
              for a, b, e in zip(rng.integers(-2**62, 2**62, n),
                                 rng.integers(-10**17, 10**17, n),
                                 rng.integers(0, 20, n))]
    strs = [("-" if v < 0 else "") + f"{abs(v) // 10**18}."
            f"{abs(v) % 10**18:018d}" for v in scaled]
    src = str(tmp_path / "d.parquet")
    pq.write_table(pa.table({"i": np.arange(n), "s": strs}), src)
    got = (spark.read.parquet(src).orderBy("i")
           .select(F.col("s").cast("decimal(38,18)").cast("double")
                   .alias("d")).toArrow()["d"].to_pylist())
    want = [v / 10**18 for v in scaled]
    assert [struct.pack("<d", v) for v in got] == \
        [struct.pack("<d", v) for v in want]


# ------------------------------------------------- edge cases both ways
@pytest.fixture(scope="module")
def edge_eng(spark):
    eng = SiriEngine(spark, precision="s")
    eng.insert({
        "i": [[10, 5], [12, -3], [12, 7], [25, 1], [31, 4], [40, 9]],
        "big": [[11, I64], [12, I64], [25, I64 - 1], [26, 1]],
        "flip": [[11, I64], [12, 1], [13, -1]],
        "d": [[10, 1.5], [11, float("nan")], [12, 2.0],
              [21, float("inf")], [22, float("-inf")],
              [31, float("inf")], [32, 1.0], [41, float("-inf")],
              [51, -0.0], [61, 0.1], [62, 0.2]],
        "z": [[10, -0.0], [11, 0.0], [30, 0.0], [31, -0.0]],
        "s": [[10, "a"], [10, "b"], [20, "c"]],
        "late": [[500, 1.0], [501, 2.0]],
    })
    # equal timestamps keep insert order
    eng.insert({"i": [[12, 11]], "d": [[62, 0.3]], "s": [[10, "x"]]})
    # negative timestamps land with Spark's trunc-mod shard ids
    store = eng.store
    store.append_local(spark, [
        ("neg", ts, 1000 + i, v, None, None, 0)
        for i, (ts, v) in enumerate([(-25, 1), (-20, 2), (-11, 3),
                                     (-10, 4), (-1, 5), (0, 6), (3, 7)])])
    eng._invalidate()
    return eng


EDGE_SELECTS = [
    "select * from /.*/",
    "select * from /.*/ between 11 and 31",
    "select count() from /.*/ between 11 and 31",
    "select first() from /.*/",
    "select last() from /.*/",
    "select first(10) from /.*/",
    "select last(10) from /.*/",
    "select count(10) from /.*/",
    "select sum(10) from /i|d|z|neg/",
    "select mean(10) from /i|d|z|neg/",
    "select min(10) from /i|d|neg/",
    "select max(10) from /i|d|neg/",
    "select sum() from 'i', 'd', 'neg'",
    "select mean() from 'i', 'd', 'neg'",
    "select max() from 'd'",
    "select min() from 'd'",
    "select sum(7) from /i|d|neg/ between 12 and 41",
    "select mean(7) from /i|d|neg/ after 12",
    "select max(7) from /i|d|neg/ before 31",
    "select sum(4) from 'neg'",
    "select max(4), min(4) prefix 'lo-' from 'neg'",
    "select count(10) prefix 'c-', sum(10) suffix '-s', * prefix 'p-' "
    "from /i|d/",
    "select sum(1h) from 'late' between 0 and 100",
    "select * from /.*/ where length > 3",
    "select sum(10) from 'big'",
    "select sum() from 'big' after 21",
    "select sum(10) from 'flip'",
]


@pytest.mark.parametrize("q", EDGE_SELECTS)
def test_edge_selects_identical_both_ways(edge_eng, query_both, q):
    try:
        query_both(edge_eng, q)    # compares errors too
    except QueryError as exc:
        # int64 overflow: 'big' on both paths; 'flip' only in some fold
        # orders, so the executor leaves it to Spark
        assert "overflow" in str(exc).lower() and ("'big'" in q
                                                   or "'flip'" in q), exc


def test_edge_paths(edge_eng):
    """Which path answers the edge shapes."""
    arrow = ["select sum(10) from /i|d|z|neg/",
             "select sum(1h) from 'late' between 0 and 100",
             "select sum() from 'big' after 21"]
    spark = [
        # int64 fold may overflow depending on order
        "select sum(10) from 'flip'",
        # shapes outside the served subset
        "select sum(10) => difference() from 'i'",
        "select * from 'i' merge as 'm'",
        "select max(10) from 'i' head 3",
        "select sum(10) => offset(3) from 'i'",
        "select median(10) from 'i'",
    ]
    for q in arrow:
        assert _path(edge_eng, q) == "arrow", q
    for q in spark:
        assert _arrow(edge_eng, q) is None, q
    assert _path(edge_eng, "select count() from 'i'") == "catalog"


def test_int_sum_overflow_raises_the_spark_error(edge_eng):
    for answer in (edge_eng.query, lambda q: _arrow(edge_eng, q)):
        with pytest.raises(QueryError, match=r"^Overflow detected while "
                                             r"using sum\(\)\.$"):
            answer("select sum(10) from 'big'")


def test_empty_series_kept_as_seeds(edge_eng, query_both):
    out = query_both(edge_eng,
                     "select max(10) from /i|late/ between 11 and 26")
    assert out == {"i": [[20, 11], [30, 1]], "late": []}


def test_equal_ts_ties_in_seq_order(edge_eng, query_both):
    out = query_both(edge_eng, "select * from 'i', 's' before 13")
    assert out == {"i": [[10, 5], [12, -3], [12, 7], [12, 11]],
                   "s": [[10, "a"], [10, "b"], [10, "x"]]}
    assert query_both(edge_eng, "select last(10) from 's'") == \
        {"s": [[10, "x"], [20, "c"]]}


def test_negative_ts_trunc_mod_labels(edge_eng, query_both):
    """Spark's bucket ``(ts + g - 1) - (ts + g - 1) % g`` takes ``%``
    with the dividend's sign: at g = 10, ts -28..-19 label -10 and
    -18..0 label 0 (a floor-mod would give -20 and -10)."""
    out = query_both(edge_eng, "select sum(10) from 'neg'")
    assert out == {"neg": [[-10, 3], [0, 18], [10, 7]]}


def test_negative_shard_ids_pick_the_right_directories(spark, tmp_path,
                                                      query_both):
    """With 10-wide shards, points from -35 to 34 spread over sids -30..30
    (trunc-mod: -9..9 all land in sid 0); ranged selects read exactly
    the directories their series can occupy."""
    from siridb_server_spark.sources.store import PointsStore

    store = PointsStore(str(tmp_path / "n"), 10, 10)
    eng = SiriEngine(spark, precision="s", store=store)
    store.append_local(spark, [
        ("n", ts, i, ts * 3, None, None, 0)
        for i, ts in enumerate(range(-35, 35, 3))]
        + [("m", 100 + ts, 100 + i, None, ts / 4, None, 1)
           for i, ts in enumerate(range(0, 40, 7))])
    eng._invalidate()
    assert sorted(sid for _k, sid, _p in store._sid_dirs()) == \
        [-30, -20, -10, 0, 10, 20, 30, 100, 110, 120, 130]
    for q in ("select sum(7) from /n|m/",
              "select sum(7) from /n|m/ between -23 and 15",
              "select max(4) from /n|m/ after -6",
              "select * from /n|m/ before 120",
              "select * from 'n' before -6",
              "select count() from 'n' between -9 and 9"):
        query_both(eng, q)
        assert _path(eng, q) == "arrow", q


def test_nonfinite_classes(edge_eng, query_both):
    out = query_both(edge_eng, "select sum(10) from 'd'")["d"]
    assert [ts for ts, _ in out] == [10, 20, 30, 40, 50, 60, 70]
    v = [x for _, x in out]
    # NaN wins; +inf with -inf is NaN; one sign alone is that infinity;
    # -0.0 folds to +0.0 through the decimal sum, which is exact
    assert v[0] == 1.5 and math.isnan(v[1]) and math.isnan(v[2])
    assert v[3] == math.inf and v[4] == -math.inf
    assert v[5] == 0.0 and math.copysign(1, v[5]) == 1
    assert v[6] == 0.6
    # NaN orders above +inf: min skips it, max returns it
    mn = [x for _, x in query_both(edge_eng, "select min(10) from 'd'")["d"]]
    mx = [x for _, x in query_both(edge_eng, "select max(10) from 'd'")["d"]]
    assert mn[1] == 2.0 and math.isnan(mx[1])
    assert math.copysign(1, mn[5]) == math.copysign(1, mx[5]) == -1


def test_signed_zero_ties_are_order_dependent_in_spark(edge_eng):
    """A bucket holding both -0.0 and 0.0: Spark's min/max keep
    whichever operand its fold meets first, so the sign depends on
    scan and merge order; the driver folds in (ts, seq) order. Both
    answer a zero: only the value is compared."""
    for q in ("select min(20) from 'z'", "select max(20) from 'z'"):
        arrow = edge_eng.query(q)["z"]
        AP_bound = AP.ARROW_SELECT_MAX_POINTS
        AP.ARROW_SELECT_MAX_POINTS = 0
        try:
            spark_out = edge_eng.query(q)["z"]
        finally:
            AP.ARROW_SELECT_MAX_POINTS = AP_bound
        assert [p[0] for p in arrow] == [p[0] for p in spark_out]
        assert [p[1] for p in arrow] == [p[1] for p in spark_out]


def test_double_terms_beyond_2_53_go_to_spark(spark, query_both):
    eng = SiriEngine(spark, precision="s")
    eng.insert({"h": [[1, 2.0**53], [2, 1.5]], "ok": [[1, 2.0**53 - 1]]})
    assert _path(eng, "select sum(10) from 'h'") == "spark"
    assert _path(eng, "select mean() from 'h'") == "spark"
    assert _path(eng, "select max(10) from 'h'") == "arrow"
    assert _path(eng, "select sum(10) from 'ok'") == "arrow"
    query_both(eng, "select sum(10) from 'h', 'ok'")


def test_bound_and_counters(edge_eng, monkeypatch):
    before = dict(edge_eng.select_paths)
    edge_eng.query("select max(10) from 'i'")
    monkeypatch.setattr(AP, "ARROW_SELECT_MAX_POINTS", 5)
    edge_eng.query("select max(10) from 'i'")      # 7 points > 5
    edge_eng.query("select max(10) from 'late'")   # 2 points
    edge_eng.query("select count() from 'i'")
    after = edge_eng.select_paths
    assert {k: after[k] - before[k] for k in after} == \
        {"catalog": 1, "arrow": 2, "spark": 1}
    r = edge_eng.query("timeit select max(10) from 'i'")["__timeit__"][0]
    assert set(r) == {"server", "time", "path"} and r["path"] == "spark"
    assert "path" not in edge_eng.query("timeit count series")[
        "__timeit__"][0]


def test_store_less_from_points_engine_stays_on_spark(spark, edge_eng):
    eng = SiriEngine.from_points(spark, edge_eng.points_df())
    assert _path(eng, "select max(10) from 'i'") == "spark"


# ------------------------------------------------- no Spark job
def _ingest_like_store(spark, path):
    """A perfbench-shaped store: ns precision, bulk load, maintain,
    1h rollup, then fragmenting inserts that leave shards stale."""
    import random

    rng = random.Random(3)
    t0 = 1_704_067_200 * 10**9
    eng = SiriEngine.open(spark, path, precision="ns")
    types = ("signup", "click", "view")
    bulk = {}
    for t in types:
        for u in range(40):
            bulk[f"{t}|{u}"] = [[t0 + rng.randrange(30 * 24 * H_NS),
                                 round(rng.expovariate(0.02), 2) + 0.01]
                                for _ in range(rng.randint(1, 6))]
    eng.insert(bulk)
    eng.maintain()
    eng.enable_rollup(H_NS)
    for _ in range(3):
        eng.insert({f"{rng.choice(types)}|{rng.randrange(60)}": [
            [t0 + rng.randrange(30 * 24 * H_NS), 1.5 + i]
            for i in range(5)] for _ in range(10)})
    return eng


def test_served_shapes_start_no_spark_job(spark, tmp_path, query_both):
    """The ingest_mixed select (``max(1h)`` of one series right after
    inserts) and serve_read's ``max(1h)``, ``count(1d)``, ``sum(1h)``
    and ranged ``mean(1d)`` are answered on the driver: no Spark job
    starts (statusTracker job ids before/after)."""
    eng = _ingest_like_store(spark, str(tmp_path / "db"))
    qs = ["select max(1h) from 'click|7'",
          "select count(1d) from /view\\|1.*/",
          "select sum(1h) from /signup\\|1.*/",
          "select mean(1d) from /click.*/ between '2024-01-05' and "
          "'2024-01-17'"]
    for q in qs:
        eng.query(q)    # warm the snapshot
        _, jobs = _jobs(spark, lambda: eng.query(q))
        assert not jobs, q
        assert eng._select_path == "arrow", q
        query_both(eng, q)


def test_select_df_on_a_store_engine_plans_without_a_job(spark, tmp_path):
    """select_df() takes the type set, points bound and series count of
    a store engine from the driver snapshot: building the frame runs
    no Spark job (a where keeps its names frame)."""
    eng = _ingest_like_store(spark, str(tmp_path / "db"))
    for q in ("select max(1h) from /click.*/",
              "select mean(1d) from /view.*/ where length > 3"):
        eng.select_df(q)
        df, jobs = _jobs(spark, lambda: eng.select_df(q))
        assert not jobs, q
        ref = SiriEngine.from_points(spark, eng.points_df(),
                                     precision="ns")
        assert sorted(df.collect()) == sorted(ref.select_df(q).collect())
