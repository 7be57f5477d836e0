"""Each select is counted once, by the path that served it."""

from types import SimpleNamespace

from perfbench import layers
from perfbench.spans import Recorder, Span


def _span(rec, name, req, parent=None, meta=None):
    sp = Span(len(rec.spans), name, 0.0, parent, req)
    sp.end, sp.meta = 0.001, meta
    rec.spans.append(sp)
    return sp.sid


def _select(rec, req, served):
    """A select whose points frame is read (``store.read``) before the
    rollup is tried, as the engine plans it; ``served`` holds each
    pipeline's rollup outcome."""
    eng = _span(rec, "engine.query_kinded", req)
    _span(rec, "store.read", req, eng)
    for ok in served:
        _span(rec, "store.read_rollup", req, eng, {"stale": 2})
        _span(rec, "engine.rollup", req, eng, ok)


def test_rollup_share_counts_each_select_by_its_path():
    rec = Recorder()
    _select(rec, 0, [True])          # rollup
    _select(rec, 1, [True])          # rollup
    _select(rec, 2, [False])         # rollup tried, points served
    _select(rec, 3, [True, False])   # one pipeline fell back: points
    _select(rec, 4, [])              # catalog only: neither
    samples = [{"cls": "select", "req": r, "tr": "qpack", "ms": 1.0}
               for r in range(5)]
    probe = SimpleNamespace(jobs={}, files=[])
    out = layers.reduce(rec, samples, probe)
    assert out["store.rollup_reads"] == 2
    assert out["store.points_reads"] == 2
    assert out["store.rollup_share"] == 0.5
    assert out["store.stale_shard_reads"] == 4  # rollup-served only
