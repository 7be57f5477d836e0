"""ns-precision replay of the operator corpus (the reference's
itest/test_select_ns.py strategy: same data, timestamps ×10⁹ —
validates int64-exact bucket/lag arithmetic far beyond double's 2^53
integer range)."""

import math

import pytest

from siridb_server_spark import SiriEngine
from tests import pyoracle as O
from tests.golden_data import DATA

NS = 10 ** 9
H_NS = 3600 * NS


def scale(pts):
    return [[ts * NS, v] for ts, v in pts]


@pytest.fixture(scope="module")
def eng(spark, both_ways):
    e = SiriEngine(spark, precision="ns")
    e.insert({name: scale(pts) for name, pts in DATA.items()
              if name != "huge"})
    return both_ways(e)


def check(got, expected, key):
    assert len(got) == len(expected), key
    for g, e in zip(got, expected):
        assert g[0] == e[0], (key, g, e)
        if isinstance(e[1], float) and not math.isnan(e[1]):
            assert g[1] == pytest.approx(e[1], rel=1e-12), (key, g, e)
        else:
            assert g[1] == e[1], (key, g, e)


AGGR = sorted(scale(DATA["aggr"]))


def test_sum_1h_ns(eng):
    got = eng.query('select sum(1h) from "aggr"')["aggr"]
    check(got, O.bucketed("sum", AGGR, H_NS), "sum")
    # label is an exact int64 multiple of 1h in ns — off-by-one here
    # means double math crept into the bucket formula
    assert got[0][0] == 1447250400 * NS


def test_count_mean_1h_ns(eng):
    check(eng.query('select count(1h) from "aggr"')["aggr"],
          O.bucketed("count", AGGR, H_NS), "count")
    check(eng.query('select mean(1h) from "aggr"')["aggr"],
          O.bucketed("mean", AGGR, H_NS), "mean")


def test_median_variants_ns(eng):
    for fn in ("median", "median_low", "median_high"):
        check(eng.query(f'select {fn}(1h) from "aggr"')["aggr"],
              O.bucketed(fn, AGGR, H_NS), fn)


def test_difference_interval_ns(eng):
    s = sorted(scale(DATA["series-001 integer"]))
    check(eng.query('select difference() from "series-001 integer"')
          ["series-001 integer"], O.difference_points(s), "difference")
    check(eng.query('select interval() from "series-001 integer"')
          ["series-001 integer"], O.interval_points(s), "interval")


def test_derivative_1s_ns(eng):
    # derivative(1s) at ns precision: slope per ns × 10⁹ — must equal
    # the seconds-precision derivative(1) of the unscaled data
    s = sorted(DATA["series-001 integer"])
    expected = [[ts * NS, v]
                for ts, v in O.derivative_points(s, 1.0)]
    check(eng.query('select derivative(1s) from "series-001 integer"')
          ["series-001 integer"], expected, "derivative")


def test_offset_sweep_ns(eng):
    got = eng.query('select count(1h) => offset(17m) from "aggr"')
    check(got["aggr"], O.bucketed("count", AGGR, H_NS, 1020 * NS),
          "offset")


def test_timeval_between_ns(eng):
    a, b = 1447250000 * NS, 1447252000 * NS
    got = eng.query(
        f'select timeval() from "aggr" between {a} and {b}')["aggr"]
    expected = [[ts, ts] for ts, _ in AGGR if a <= ts < b]
    check(got, expected, "timeval")


def test_head_tail_ns(eng):
    got = eng.query('select * from "aggr" head 3')["aggr"]
    check(got, AGGR[:3], "head")
    got = eng.query('select * from "aggr" tail 2')["aggr"]
    check(got, AGGR[-2:], "tail")
