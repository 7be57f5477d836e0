"""Pipeline-constant Column expressions, built once per spec.

Every Column operation is a py4j round trip, and in pyspark 4.1 each
wrapped DataFrame/Column call also pays the ``_with_origin`` hook
(``getActiveSession``, a conf read, ``PySparkCurrentOrigin.set``):
rebuilding a select's aggregate lists costs hundreds of round trips
per request. The expressions depend only on the pipeline spec
(function, bucket, offset, type set, timespan), so :func:`memoized`
functions run once per spec and later selects reuse their Columns —
the reference likewise compiles a select's pipeline once
(aggregate.c:516-554).

Sharing is safe: a classic Column is an unresolved expression tree
that Spark resolves afresh, with new expression IDs, in every
DataFrame it is used in.

The memo is a fixed-size LRU bound to the live JVM gateway: when
``SparkContext._gateway`` is replaced (the JVM was shut down and a new
one launched), every entry is dropped, so no JVM handle outlives the
JVM it lives in.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict

from pyspark import SparkContext

#: entries (one per function and spec) the LRU keeps
MEMO_SIZE = 512


class ColumnMemo:
    def __init__(self, size: int = MEMO_SIZE):
        self.size = size
        self._gateway = None
        self._lru: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, build):
        gateway = SparkContext._gateway
        with self._lock:
            if self._gateway is not gateway:
                self._lru.clear()
                self._gateway = gateway
            if key in self._lru:
                self._lru.move_to_end(key)
                return self._lru[key]
        value = build()
        with self._lock:
            if self._gateway is gateway:
                self._lru[key] = value
                while len(self._lru) > self.size:
                    self._lru.popitem(last=False)
        return value

    def __len__(self) -> int:
        with self._lock:
            return len(self._lru)


MEMO = ColumnMemo()


def memoized(fn):
    """Build ``fn(*args)`` once per (function, args) and serve later
    calls from :data:`MEMO`. ``args`` must be hashable plain values
    (names, ints, floats, frozensets) — never Columns or frames; the
    key carries their types, so ``1`` and ``1.0`` stay apart."""
    @functools.wraps(fn)
    def wrapper(*args):
        key = (fn, args, tuple(type(a) for a in args))
        return MEMO.get(key, lambda: fn(*args))
    return wrapper


@memoized
def cols(*names: str) -> list:
    """``[F.col(n) for n in names]`` — selecting by a prebuilt list
    skips one ``functions.col`` round trip per name."""
    from pyspark.sql import functions as F

    return [F.col(n) for n in names]
