"""Time-bucket expression — THE core formula.

Reference (/root/reference/src/siri/db/aggregate.c:41-43):

    GROUP_TS(p) = (p.ts + group_by - 1) / group_by * group_by + offset

Integer ceiling to the bucket's END timestamp: buckets are RIGHT-closed
and labeled by their end. Golden: group_by=6 over ts {3,6} → bucket 6
(/root/reference/test/test_aggr/test_aggr.c:38-50); sum(1h) labels
1447250400 (/root/reference/itest/test_select.py:167-170).

NOT Spark's ``F.window`` (left-closed, start-labeled). Implemented with
exact int64 arithmetic (``%`` on longs) — never double ``floor``, which
loses precision for ns-precision timestamps > 2^53.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .memo import memoized


def bucket_ts(ts: Column, group_by, offset=0) -> Column:
    """Right-closed, end-labeled bucket timestamp (int64-exact).

    ``group_by``/``offset`` may be python ints or Columns (the latter is
    used by limit(N, fn)'s per-series computed widths,
    ref aggregate.c:677-694).
    """
    g = F.lit(group_by) if isinstance(group_by, int) else group_by
    off = F.lit(offset) if isinstance(offset, int) else offset
    shifted = ts + g - F.lit(1)
    return (shifted - (shifted % g) + off).cast("long")


@memoized
def bucket_of(name: str, group_by: int, offset: int = 0) -> Column:
    """:func:`bucket_ts` of column ``name`` at a constant width, built
    once per (name, width, offset)."""
    return bucket_ts(F.col(name), group_by, offset)
