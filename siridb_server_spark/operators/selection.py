"""FROM-clause set algebra → one boolean Column over ``series``.

Reference: four atoms (exact name, regex, saved group/tag, ``*``)
combined left-to-right with union/intersection/difference/
symmetric-difference and parentheses (grammar.py:449-464; execution
listener.c:1311-1653). Since every atom reduces to a predicate on the
series name, the whole clause compiles to a single boolean expression —
exact names become an IN-list Catalyst can push into the parquet scan;
regexes become anchored ``rlike``; groups are saved regexes; tags are
membership lists (semi-join/IN against the tag table).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import QueryError
from ..functions.pipeline import anchored_regex
from ..plans import nodes as N


def compile_match(node, groups: dict, tags: dict,
                  col: Column | None = None) -> Column:
    """Compile a series_match AST to a predicate over `col` (default
    F.col('series'))."""
    c = F.col("series") if col is None else col

    def walk(n) -> Column:
        if isinstance(n, N.SeriesAll):
            return F.lit(True)
        if isinstance(n, N.SeriesName):
            return c == F.lit(n.name)
        if isinstance(n, N.SeriesRegex):
            if n.pattern in (".*", "^.*", ".*$"):
                return F.lit(True)  # /.*/ idiom → no per-row regex
            return c.rlike(anchored_regex(n.pattern, n.case_insensitive))
        if isinstance(n, N.GroupTagMatch):
            # group looked up first, then tag (listener.c:884-1004)
            if n.name in groups:
                pat, ci = groups[n.name]
                return c.rlike(anchored_regex(pat, ci))
            if n.name in tags:
                members = sorted(tags[n.name])
                if not members:
                    return F.lit(False)
                return c.isin(members)
            raise QueryError(f"Cannot find group or tag '{n.name}'")
        if isinstance(n, N.SeriesSetOp):
            if n.op == "union":
                # flatten union chains: exact names collapse into ONE
                # isin() (pushed down to the parquet scan as an IN
                # filter); avoids thousand-deep OR trees
                leaves, stack = [], [n]
                while stack:
                    m = stack.pop()
                    if isinstance(m, N.SeriesSetOp) and m.op == "union":
                        stack.extend((m.right, m.left))
                    else:
                        leaves.append(m)
                names = [x.name for x in leaves
                         if isinstance(x, N.SeriesName)]
                preds = []
                if names:
                    # preserve set semantics; dedup keeps the list short
                    preds.append(c.isin(sorted(set(names))))
                preds.extend(walk(x) for x in leaves
                             if not isinstance(x, N.SeriesName))
                out = preds[0]
                for p in preds[1:]:
                    out = out | p
                return out
            left, right = walk(n.left), walk(n.right)
            if n.op == "intersection":
                return left & right
            if n.op == "difference":
                return left & ~right
            if n.op == "symmetric_difference":
                # xor over membership predicates
                return (left | right) & ~(left & right)
            raise AssertionError(n.op)
        raise AssertionError(type(n))

    return walk(node)

