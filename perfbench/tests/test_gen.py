"""The generator is a pure function of the seed, and percentiles are
reported only with enough samples beyond them."""

import itertools
import json

import pytest

from perfbench import gen
from perfbench.stats import beyond, median, percentile, tail

SMALL = gen.Shape(points=2_000, users=40)


def _ops(cycles, n=8):
    return json.dumps(list(itertools.islice(cycles, n)))


def test_events_table_same_seed_same_bytes():
    a = gen.events_table(3, SMALL)
    b = gen.events_table(3, SMALL)
    assert a.equals(b)
    assert not a.equals(gen.events_table(4, SMALL))


def test_events_table_shape():
    t = gen.events_table(5, SMALL)
    assert t.num_rows == SMALL.points
    assert t.column_names == ["event_id", "ts", "user_id", "event_type",
                              "value", "props"]
    assert sum(gen.series_lengths(t).values()) == SMALL.points
    assert len(gen.series_lengths(t)) <= len(gen.EVENT_TYPES) * SMALL.users


@pytest.mark.parametrize("make", [gen.serve_read_cycles,
                                  gen.ingest_cycles])
def test_op_sequence_same_seed_identical(make):
    assert _ops(make(7, 1500)) == _ops(make(7, 1500))
    assert _ops(make(7, 1500)) != _ops(make(8, 1500))


def test_serve_read_cycles_hold_the_same_shapes_for_every_seed():
    def shape(seed):
        cycle = next(gen.serve_read_cycles(seed, 1500))
        return sorted((o["cls"], o["tr"]) for o in cycle)

    a = shape(1)
    assert len(a) == 6 * gen.META_REPEAT + 9 + 1
    cycle = next(gen.serve_read_cycles(1, 1500))
    assert len({o["tpl"] for o in cycle}) == 6 + 9 + 1
    for op in cycle:  # repeats of a statement share its template
        assert {o["tpl"] for o in cycle if o["q"] == op["q"]} == \
            {op["tpl"]}
    assert {c for c, _ in a} == {"meta", "select", "export"}
    assert [c for c, _ in shape(2)] == [c for c, _ in a]


def test_serve_read_templates_alternate_transports():
    cycles = gen.serve_read_cycles(3, 1500)
    one, two = next(cycles), next(cycles)

    def trs(cycle):
        by: dict = {}
        for o in cycle:
            by.setdefault(o["tpl"], []).append(o["tr"])
        return by

    # a meta template repeated in a cycle: half over each transport
    for tpl, t in trs(one).items():
        if len(t) > 1:
            assert t.count("qpack") == t.count("http") == len(t) // 2
    # a select or export sent once per cycle: the other one next cycle
    once = [tpl for tpl, t in trs(one).items() if len(t) == 1]
    assert len(once) == 9 + 1
    for tpl in once:
        assert {trs(one)[tpl][0], trs(two)[tpl][0]} == {"qpack", "http"}


def test_ingest_cycle_structure():
    cycle = next(gen.ingest_cycles(1, 1500))
    inserts = [o for o in cycle if o["cls"] == "insert"]
    assert len(inserts) == gen.MAINTAIN_EVERY
    assert cycle[-1]["cls"] == "maintain"
    assert all(o["tr"] == "qpack" for o in inserts)
    assert [o["cls"] for o in cycle[:9]] == [
        "insert", "insert", "meta", "insert", "insert", "meta", "insert",
        "select", "insert"]
    for i, op in enumerate(cycle):
        if op["cls"] in ("meta", "select"):
            writer = next(o for o in reversed(cycle[:i])
                          if o["cls"] == "insert")
            assert op["q"].split("'")[1] in writer["points"]
    assert [o["tpl"] for o in cycle] == list(range(len(cycle)))
    batch = inserts[0]["points"]
    assert len(batch) == gen.SERIES_PER_BATCH
    for pts in batch.values():
        ts = [p[0] for p in pts]
        assert len(ts) == gen.POINTS_PER_SERIES
        assert len(set(ts)) < len(ts)  # duplicate timestamps
        assert all(isinstance(p[1], float) for p in pts)
    assert any([p[0] for p in pts] != sorted(p[0] for p in pts)
               for pts in batch.values())  # out of order


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert percentile(v, 50) == 50
    assert percentile(v, 90) == 90
    assert percentile(v, 99) == 99
    assert percentile([7], 90) == 7
    assert median([1, 2, 3, 4]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_has_ten_samples_beyond():
    v = list(range(1000))
    q, val = tail(v)
    assert q == 99.0 and beyond(v, q) >= 10
    # 120 samples: p99 and p95 have < 10 beyond, p90 has 12
    v = list(range(120))
    q, val = tail(v)
    assert q == 90.0 and val == percentile(v, 90)
    assert beyond(v, 95) < 10 <= beyond(v, 90)
    assert tail(list(range(30))) is None
    # ties at the top do not count as beyond
    assert tail([1.0] * 500) is None
