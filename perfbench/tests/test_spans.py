"""Span recorder: import-bound names are patched too, and self time
subtracts the covered child spans."""

import sys
import time
import types

from perfbench.spans import Recorder


def _fake_package():
    lib = types.ModuleType("pbfake.lib")

    def work(x):
        time.sleep(0.01)
        return x * 2

    lib.work = work
    user = types.ModuleType("pbfake.user")
    user.work = work  # "from .lib import work"
    user.call = lambda x: user.work(x)
    sys.modules["pbfake.lib"] = lib
    sys.modules["pbfake.user"] = user
    return lib, user


def test_wrap_function_patches_every_binding_and_restores():
    lib, user = _fake_package()
    orig = lib.work
    rec = Recorder()
    rec.wrap_function(lib, "work", "lib.work", after=lambda out, a: out)
    try:
        rec.request = 5
        assert user.call(3) == 6 and lib.work(1) == 2
        names = [(s.name, s.req, s.meta) for s in rec.spans]
        assert names == [("lib.work", 5, 6), ("lib.work", 5, 2)]
    finally:
        rec.restore()
    assert lib.work is orig and user.work is orig


def test_self_time_subtracts_covered_children():
    rec = Recorder()

    class Layer:
        def outer(self):
            time.sleep(0.01)
            self.inner()
            self.inner()

        def inner(self):
            time.sleep(0.02)

    rec.wrap_method(Layer, "outer", "engine.outer")
    rec.wrap_method(Layer, "inner", "store.inner")
    try:
        Layer().outer()
    finally:
        rec.restore()
    outer = next(s for s in rec.spans if s.name == "engine.outer")
    kids = rec.children()
    assert [s.parent for s in rec.spans if s.name == "store.inner"] \
        == [outer.sid, outer.sid]
    covered = Recorder.covered_ms(outer, kids, ("store.",))
    assert 40 <= covered < outer.ms
    assert 10 <= outer.ms - covered < 40
