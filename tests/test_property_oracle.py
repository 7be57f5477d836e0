"""Randomized-oracle property tests (the reference's strategy,
SURVEY §5b / itest/testing/helpers.py:46-79): shuffled out-of-order
random points, engine results vs an independent pure-Python oracle."""

import math
import random

import pytest

from siridb_server_spark import SiriEngine
from tests import pyoracle as O

AGGS = ["count", "sum", "mean", "median", "median_low", "median_high",
        "min", "max", "variance", "pvariance", "stddev", "first",
        "last"]


def gen_points(rng, n, is_int, start=1_470_000_000, max_gap=900):
    ts = start
    pts = []
    for i in range(n):
        ts += rng.randint(0, max_gap)  # gap 0 → duplicate timestamps
        val = rng.randint(-100, 100) if is_int \
            else round(rng.uniform(-100, 100), 6)
        pts.append([ts, val])
    return pts


def insert_shuffled(eng, name, pts, rng):
    """Insert in shuffled order; return the stored order (ts-sorted,
    equal-ts ties keep INSERT order — ref points.c:226-245)."""
    shuffled = pts[:]
    rng.shuffle(shuffled)
    eng.insert({name: shuffled})
    return sorted(shuffled, key=lambda p: p[0])  # stable


@pytest.fixture(scope="module")
def scenario(spark):
    rng = random.Random(42)
    eng = SiriEngine(spark, precision="s")
    series = {}
    for i, (n, is_int) in enumerate(
            [(1, True), (2, True), (7, False), (24, True), (40, False),
             (13, True), (16, False)]):
        name = f"rand-{i}"
        pts = gen_points(rng, n, is_int)
        stored = insert_shuffled(eng, name, pts, rng)
        series[name] = (stored, is_int)
    return eng, series


def check(got, expected, key):
    assert len(got) == len(expected), key
    for g, e in zip(got, expected):
        assert g[0] == e[0], (key, g, e)
        if isinstance(e[1], float):
            if math.isnan(e[1]):
                assert math.isnan(g[1]), key
            else:
                assert g[1] == pytest.approx(e[1], rel=1e-9,
                                             abs=1e-9), (key, g, e)
        else:
            assert g[1] == e[1], (key, g, e)


@pytest.mark.parametrize("fn", AGGS)
def test_to_one(scenario, fn, query_both):
    eng, series = scenario
    for name, (pts, is_int) in series.items():
        got = query_both(eng, f'select {fn}() from "{name}"')[name]
        check(got, O.to_one(fn, pts, is_int), (fn, name))


@pytest.mark.parametrize("fn", AGGS)
@pytest.mark.parametrize("g", [7, 600, 3600])
def test_bucketed(scenario, fn, g, query_both):
    eng, series = scenario
    for name, (pts, is_int) in series.items():
        got = query_both(eng, f'select {fn}({g}) from "{name}"')[name]
        check(got, O.bucketed(fn, pts, g, 0, is_int), (fn, g, name))


@pytest.mark.parametrize("g,off", [(600, 17), (3600, 1234), (97, 13)])
def test_bucketed_offset_sweep(scenario, g, off):
    eng, series = scenario
    for name, (pts, is_int) in series.items():
        got = eng.query(
            f'select sum({g}) => offset({off}) from "{name}"')[name]
        check(got, O.bucketed("sum", pts, g, off, is_int),
              (g, off, name))


@pytest.mark.parametrize("g,off,max_gap", [
    (10, 7, 30),    # off near g: tail jumps common → absorption chains
    (10, 9, 4),     # dense + widest tail: adjacent jump-chained buckets
    (50, 49, 120),
])
def test_offset_sweep_dense_stress(spark, g, off, max_gap):
    """The JVM window-function sweep must match the reference's
    point-level sweep on data engineered to hit chained tail-jump
    absorption (aggregate.c:1188-1220 with offset)."""
    rng = random.Random(1337)
    eng = SiriEngine(spark, precision="s")
    pts = gen_points(rng, 400, True, max_gap=max_gap)
    stored = insert_shuffled(eng, "dense", pts, rng)
    got = eng.query(f'select count({g}) => offset({off}) from "dense"')
    check(got["dense"], O.bucketed("count", stored, g, off, True),
          (g, off))


def test_transforms(scenario):
    eng, series = scenario
    for name, (pts, is_int) in series.items():
        got = eng.query(f'select difference() from "{name}"')[name]
        check(got, O.difference_points(pts), ("difference", name))
        got = eng.query(f'select interval() from "{name}"')[name]
        check(got, O.interval_points(pts), ("interval", name))
        if all(pts[i][0] != pts[i - 1][0] for i in range(1, len(pts))):
            got = eng.query(f'select derivative(60) from "{name}"')[name]
            check(got, O.derivative_points(pts, 60.0),
                  ("derivative", name))


def test_limit_matches_sweep(scenario):
    eng, series = scenario
    for name, (pts, is_int) in series.items():
        n = 5
        got = eng.query(f'select limit({n}, mean) from "{name}"')[name]
        if len(pts) <= n:
            expected = pts
        else:
            span = pts[-1][0] - pts[0][0]
            g = span // n + 1
            off = (pts[0][0] - 1) % g
            expected = O.bucketed("mean", pts, g, off, is_int)
        check(got, expected, ("limit", name))
