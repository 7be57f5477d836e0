"""The program methods the benchmark's traced run wraps must exist
where it wraps them: ``perfbench/layers.py`` patches each one through
its class's ``__dict__``, so a rename or a move to a base class would
otherwise surface only as a crashed traced run."""

from perfbench import layers
from perfbench.spans import Recorder

from siridb_server_spark.engine import SiriEngine
from siridb_server_spark.sources.store import PointsStore


class _NoSpark:
    """Stands in for the session: installing only binds its context."""

    sparkContext = None


def test_bench_wrapped_methods_exist():
    for name in layers.STORE_CALLS + ("_compact_catalog",):
        assert name in PointsStore.__dict__, name
    for name in ("_rollup_pipeline", "query_kinded", "insert",
                 "maintain"):
        assert name in SiriEngine.__dict__, name
    # and every other wrap: installing reads each wrapped method from
    # its class's __dict__ (KeyError if missing); undone right away
    rec = Recorder()
    try:
        layers.install(rec, _NoSpark())
        wrapped = {(owner, attr) for owner, attr, _ in rec._patches}
    finally:
        rec.restore()
    assert (PointsStore, "_compact_catalog") in wrapped
    assert (SiriEngine, "_rollup_pipeline") in wrapped
