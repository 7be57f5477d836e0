"""Span recorder for the traced run.

It wraps public functions and methods of the program from outside:
each call becomes a span (name, start, end, parent span, request id).
Spans stay in memory until :meth:`Recorder.dump` writes them at the
end of the run. A function that other modules imported by name (for
example ``sources.clserver`` binds ``packb``/``unpackb`` at import) is
replaced in every loaded module of the package that holds it.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "req", "meta")

    def __init__(self, sid, name, start, parent, req):
        self.sid, self.name, self.start = sid, name, start
        self.parent, self.req = parent, req
        self.end = start
        self.meta = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        #: id of the request in flight; the workload loop sets it
        #: before each request (the loop is closed, so one at a time)
        self.request = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []

    # ---------------------------------------------------------- record
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, before=None, after=None):
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(),
                      st[-1].sid if st else None, self.request)
            self.spans.append(sp)
        if before is not None:
            before(sp)
        st.append(sp)
        try:
            out = fn(*args, **kwargs)
        finally:
            st.pop()
            sp.end = time.perf_counter()
        if after is not None:
            sp.meta = after(out, args)
        return out

    def _wrapper(self, name, fn, before, after):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return rec.call(name, fn, args, kwargs, before, after)

        traced.__wrapped_by_recorder__ = True
        return traced

    # ----------------------------------------------------------- patch
    def wrap_method(self, cls, attr: str, name: str, before=None,
                    after=None):
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(name, orig, before, after))

    def wrap_function(self, module, attr: str, name: str, after=None):
        """Wrap ``module.attr`` and every binding of the same function
        object in other loaded modules of the same top-level package."""
        orig = getattr(module, attr)
        traced = self._wrapper(name, orig, None, after)
        pkg = module.__name__.split(".")[0] + "."
        for mod in list(sys.modules.values()):
            if mod is None or not (mod is module or getattr(
                    mod, "__name__", "").startswith(pkg)):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, traced)

    def restore(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -------------------------------------------------------- analysis
    def children(self) -> dict:
        kids: dict = {}
        for sp in self.spans:
            kids.setdefault(sp.parent, []).append(sp)
        return kids

    @staticmethod
    def covered_ms(span: Span, kids: dict, prefixes: tuple) -> float:
        """Time inside ``span`` spent in descendant spans whose name
        starts with one of ``prefixes`` (outermost ones only)."""
        total = 0.0
        todo = list(kids.get(span.sid, ()))
        while todo:
            sp = todo.pop()
            if sp.name.startswith(prefixes):
                total += sp.ms
            else:
                todo.extend(kids.get(sp.sid, ()))
        return total

    def dump(self, path: str):
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent, "req": sp.req,
                    "meta": sp.meta}) + "\n")
