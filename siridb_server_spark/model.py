"""Core data model: one long-format points DataFrame.

Reference model: a series is a named, ts-ordered array of typed points
(/root/reference/include/siri/db/series.h:54-72, points.h:100-111).
Spark-first re-expression: ONE long DataFrame, one row per point:

    points(series STRING, ts LONG, seq LONG,
           val_int LONG, val_dbl DOUBLE, val_str STRING, tp INT)

- ``ts`` stays integer in the database's native precision (s|ms|us|ns,
  ref include/siri/db/time.h:8-15). NOT TimestampType: ns-precision
  integers and pure-integer bucket arithmetic require exact int64 math.
- Exactly one ``val_*`` column is non-null per row; ``tp`` (0=int,
  1=double, 2=string, matching points.h:9-14 TP_INT/TP_DOUBLE/TP_STRING)
  is constant per series (type fixed at first insert, series.h:62).
- ``seq`` is a monotonically increasing insert sequence used ONLY to
  tie-break duplicate timestamps (the reference keeps equal-ts points in
  insert order; ref points.c:226-245 and the 'equal ts' fixture in
  itest/test_select.py:58-61). No dedup anywhere.
"""

from __future__ import annotations

import math
import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from .errors import InsertError

TP_INT = 0
TP_DOUBLE = 1
TP_STRING = 2

TP_NAMES = {TP_INT: "integer", TP_DOUBLE: "float", TP_STRING: "string"}
NAME_TPS = {v: k for k, v in TP_NAMES.items()}

INT64_MAX = (1 << 63) - 1
INT64_MIN = -(1 << 63)

#: max series-name length (ref include/siri/db/series.h:29)
MAX_SERIES_NAME = 65534

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("val_int", T.LongType(), True),
        T.StructField("val_dbl", T.DoubleType(), True),
        T.StructField("val_str", T.StringType(), True),
        T.StructField("tp", T.IntegerType(), False),
    ]
)

#: derived series catalog (ref: list-series columns grammar.py:242-250)
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("pool", T.IntegerType(), False),
        T.StructField("shard_duration", T.LongType(), False),
    ]
)


def infer_tp(value) -> int:
    """Type of one inserted value (ref insert.c:109-111: only integer,
    float and string values are supported)."""
    if isinstance(value, bool):
        raise InsertError(
            "Error in point at position 0. "
            "Only integer, float and string values are supported."
        )
    if isinstance(value, int):
        return TP_INT
    if isinstance(value, float):
        return TP_DOUBLE
    if isinstance(value, str):
        return TP_STRING
    raise InsertError(
        "Error in point at position 0. "
        "Only integer, float and string values are supported."
    )


_STRTOLL_RE = re.compile(r"^\s*([+-]?\d+)")
_STRTOD_RE = re.compile(
    r"^\s*([+-]?(?:inf(?:inity)?|nan|\d+\.?\d*(?:[eE][+-]?\d+)?"
    r"|\.\d+(?:[eE][+-]?\d+)?))",
    re.IGNORECASE,
)


def coerce_value(tp: int, value):
    """Coerce a wrong-typed inserted value into the series' existing
    type — the reference does NOT reject type mismatches; it converts
    in place (siridb_series_ensure_type, src/siri/db/series.c:1141-1219,
    golden itest/test_series.py:26-77): int series truncate doubles
    (C cast) and strtoll strings (overflow clamps, garbage → 0);
    double series strtod strings; string series format ints with %d
    and doubles with C-locale "%f"."""
    if tp == TP_INT:
        if isinstance(value, float):
            if math.isnan(value):
                return 0
            v = int(value)  # C cast truncates toward zero
        elif isinstance(value, str):
            m = _STRTOLL_RE.match(value)
            v = int(m.group(1)) if m else 0
        else:
            return value
        return max(INT64_MIN, min(INT64_MAX, v))
    if tp == TP_DOUBLE:
        if isinstance(value, int):
            return float(value)
        if isinstance(value, str):
            m = _STRTOD_RE.match(value)
            return float(m.group(1)) if m else 0.0
        return value
    # TP_STRING
    if isinstance(value, int):
        return "%d" % value
    if isinstance(value, float):
        return "%f" % value
    return value


def point_row(series: str, ts: int, value, seq: int, tp: int | None = None):
    """Build one schema row tuple for a point."""
    vtp = infer_tp(value) if tp is None else tp
    if isinstance(ts, bool) or not isinstance(ts, int) or ts < 0:
        raise InsertError("Timestamp is invalid; timestamps must be integers.")
    if vtp == TP_INT:
        if not (INT64_MIN <= value <= INT64_MAX):
            raise InsertError("Integer value out of range.")
        return (series, ts, seq, int(value), None, None, TP_INT)
    if vtp == TP_DOUBLE:
        return (series, ts, seq, None, float(value), None, TP_DOUBLE)
    return (series, ts, seq, None, None, str(value), TP_STRING)


#: the reply order of a points table: grouped by series, each
#: series' points by (ts, seq); the sort is stable, so equal keys keep
#: collect order
_REPLY_ORDER = [("series", "ascending"), ("ts", "ascending"),
                ("seq", "ascending")]


def _value_column(tbl: pa.Table, tp) -> list:
    """The python values of ``tbl``'s rows read as type ``tp``."""
    if tp == TP_INT:
        return tbl["val_int"].to_pylist()
    if tp == TP_DOUBLE:
        # a null double reads as NaN (the model never stores one)
        return pc.fill_null(tbl["val_dbl"], math.nan).to_pylist()
    return tbl["val_str"].to_pylist()


def _values(tbl: pa.Table) -> list:
    """The python value of every row of a points table, picked by its
    ``tp``: one ``tp`` takes its column whole, several go row by
    row."""
    tps = pc.unique(tbl["tp"]).to_pylist()
    by_tp = {tp: _value_column(tbl, tp) for tp in tps}
    if len(tps) == 1:
        return by_tp[tps[0]]
    return [by_tp[tp][i] for i, tp in enumerate(tbl["tp"].to_pylist())]


def reply_map(tbl: pa.Table, seeds: list | None = None) -> dict:
    """The select reply ``{series: [[ts, value], ...]}`` of a collected
    points table (ref query.c:203-223). Keys: the ``seeds`` first, in
    seed order, then every other series in order of its first
    (ts, seq, collect position). Built from the columns, never through
    pandas (which would turn a null-bearing int64 column to float64)."""
    out: dict = {s: [] for s in seeds} if seeds else {}
    if not tbl.num_rows:
        return out
    order = pc.sort_indices(tbl, sort_keys=_REPLY_ORDER)
    tbl = tbl.take(order)
    ts = tbl["ts"].to_pylist()
    vals = _values(tbl)
    runs = pc.run_end_encode(tbl["series"].combine_chunks())
    fresh = []
    start = 0
    for name, end in zip(runs.values.to_pylist(),
                         runs.run_ends.to_pylist()):
        pts = [[t, v] for t, v in zip(ts[start:end], vals[start:end])]
        if name in out:
            out[name] = pts
        else:
            fresh.append((ts[start], tbl["seq"][start].as_py(),
                          order[start].as_py(), name, pts))
        start = end
    for *_key, name, pts in sorted(fresh, key=lambda f: f[:3]):
        out[name] = pts
    return out
