"""Driver-side fast path for catalog-only statements.

The reference answers ``count()``-style skip-points selects and every
``list``/``count`` metadata statement from the live series structs in
memory — sub-millisecond, no storage read (siridb_aggregate_can_skip,
aggregate.c:495-510; listener.c:5351-5586). The Spark engine's floor
for ANY job is ~0.2 s of scheduling, so statements whose answer is
already in the maintained catalog should never launch one.

This module gives the engine that path: pure-Python evaluators for
the FROM-clause set algebra and the ``where`` cexpr over a
driver-held catalog snapshot (a dict of per-series stats, loaded
without Spark — see ``PointsStore.read_catalog_local`` — and then
kept current by folding in the engine's own inserts, as the
reference updates its series structs on every insert). The
evaluators mirror ``operators/selection.py`` / ``operators/where.py``
exactly, including error messages; goldens cover both paths.

The same selection also seeds every ``query()`` select: the matched
names, their type set and the points bound come from the snapshot,
so planning a select builds no Spark catalog frame and runs no job
for it. The snapshot is the only catalog ``query()`` reads;
``select_df()`` plans from the Spark catalog frame instead.

Scale note: the snapshot is O(|series|) driver memory — the same
stance as the reference, whose series map lives in RAM on every
server (series.h:54-72). ``query()`` collects every selected name
anyway, since its result is keyed per series. Every engine with a
store (store-less engines get a private one) holds its whole catalog
on the driver in any case: the catalog files are folded there, and
``catalog_df`` uploads the snapshot. The distributed API
(``select_df``) never collects the selected names, and an unmutated
``from_points`` engine derives ``catalog_df`` with a distributed
groupBy.
"""

from __future__ import annotations

import re
from typing import Callable

from ..errors import QueryError
from ..functions.pipeline import anchored_regex
from ..plans import nodes as N


def match_fn(node, groups: dict, tags: dict) -> Callable[[str], bool]:
    """Python twin of operators/selection.py::compile_match."""

    def compile_node(n) -> Callable[[str], bool]:
        if isinstance(n, N.SeriesAll):
            return lambda s: True
        if isinstance(n, N.SeriesName):
            want = n.name
            return lambda s: s == want
        if isinstance(n, N.SeriesRegex):
            if n.pattern in (".*", "^.*", ".*$"):
                return lambda s: True
            rx = _compile_regex(n.pattern, n.case_insensitive)
            return lambda s: rx.search(s) is not None
        if isinstance(n, N.GroupTagMatch):
            # group looked up first, then tag (listener.c:884-1004)
            if n.name in groups:
                pat, ci = groups[n.name]
                rx = _compile_regex(pat, ci)
                return lambda s: rx.search(s) is not None
            if n.name in tags:
                members = frozenset(tags[n.name])
                return lambda s: s in members
            raise QueryError(f"Cannot find group or tag '{n.name}'")
        if isinstance(n, N.SeriesSetOp):
            left, right = compile_node(n.left), compile_node(n.right)
            if n.op == "union":
                return lambda s: left(s) or right(s)
            if n.op == "intersection":
                return lambda s: left(s) and right(s)
            if n.op == "difference":
                return lambda s: left(s) and not right(s)
            if n.op == "symmetric_difference":
                return lambda s: left(s) != right(s)
            raise AssertionError(n.op)
        raise AssertionError(type(n))

    return compile_node(node)


def _compile_regex(pattern: str, case_insensitive: bool):
    """Anchored-like-Spark regex: ``anchored_regex`` produces the
    JVM pattern; Python's re accepts the same anchors/flags prefix
    ((?i) when case-insensitive)."""
    return re.compile(anchored_regex(pattern, case_insensitive))


def where_fn(node) -> Callable[[dict], bool]:
    """Python twin of operators/where.py::compile_where over a
    catalog row dict (name/type/length/start/end/pool/
    shard_duration)."""

    def compile_cond(c: N.WhereCond) -> Callable[[dict], bool]:
        prop, op, v = c.prop, c.op, c.value
        if op == "==":
            return lambda r: r[prop] == v
        if op == "!=":
            return lambda r: r[prop] != v
        if op == ">":
            return lambda r: r[prop] > v
        if op == "<":
            return lambda r: r[prop] < v
        if op == ">=":
            return lambda r: r[prop] >= v
        if op == "<=":
            return lambda r: r[prop] <= v
        if op == "~":
            return lambda r: v in r[prop]
        if op == "!~":
            return lambda r: v not in r[prop]
        raise AssertionError(op)

    def compile_node(n) -> Callable[[dict], bool]:
        if isinstance(n, N.WhereCond):
            return compile_cond(n)
        if isinstance(n, N.WhereBool):
            left, right = compile_node(n.left), compile_node(n.right)
            if n.op == "and":
                return lambda r: left(r) and right(r)
            return lambda r: left(r) or right(r)
        raise AssertionError(type(n))

    return compile_node(node)
