"""Driver-side select executor: bounded selects answered over Arrow.

The reference answers a select over a few series in one pass over
its shards (listener.c); every Spark job costs a scheduling floor
of a few hundred milliseconds however few points it reads. A select
whose selected series hold at most :data:`ARROW_SELECT_MAX_POINTS`
points (the catalog snapshot knows the count before any read) is
therefore answered here: the selected series' shard files are read
with pyarrow, the pipeline runs in numpy, and the canonical 7-column
table goes to the same ``model.reply_map`` the Spark path collects
into. No Spark job starts.

Served: store-backed engines; every pipeline either no function or
one ``count/sum/mean/min/max/first/last``, to-one or bucketed with an
int ``group_by`` and offset 0; no time range or ``after``/``before``/
``between``; prefix/suffix and ``where``. Everything else — a merge,
head/tail, any other function, a mixed-type series, a selection
beyond the bound — returns None and Spark answers unchanged.

Exactness rules (the answer is the Spark path's, bit for bit, but for
a -0.0/0.0 min/max tie, whose sign Spark picks by fold order):

- buckets are right-closed and END-labeled with Spark's trunc-mod
  (``functions/buckets.py``); to-one labels are the last point's ts
  (the first's for ``first()``);
- int sums are exact; a sum outside int64 raises the
  ``OverflowCheck`` error, and a sum whose positive or negative terms
  alone leave int64 (Spark's ``try_sum`` then overflows or not
  depending on its fold order) goes to Spark;
- double sums and means follow ``stable_double_sum``: each finite
  term is the decimal of its shortest repr rounded half-up at 18
  places, summed exactly; NaN / +inf with -inf give NaN, one
  infinity sign gives that infinity. Served only while every finite
  term has |x| < 2**53 (where Spark's double→decimal cast agrees
  with the shortest repr over the classes tests/test_arrowpath.py
  checks; on JDK 17 it differs for some larger integers) and the
  terms' absolute sum stays inside decimal(38,18); otherwise Spark;
- min/max follow Spark's NaN order (NaN is the largest double: max
  is NaN when any term is, min only when all are).
"""

from __future__ import annotations

import decimal
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..errors import QueryError
from ..model import INT64_MAX, INT64_MIN, TP_DOUBLE, TP_INT, TP_STRING, \
    reply_map
from ..sources.store import _POINT_COLS, PointsStore, _pa_points_schema
from . import nodes as N

#: a select is answered here when its selected series hold at most
#: this many points in the catalog snapshot (before its time range
#: cuts them). Measured on a scratch store (ARCHITECTURE.md
#: "Driver-side select executor"): the driver read and aggregate beat
#: the Spark select at 10**3-10**5 points and lost at 10**6.
ARROW_SELECT_MAX_POINTS = 100_000

#: the aggregates this executor evaluates
AGGS = frozenset({"count", "sum", "mean", "min", "max", "first", "last"})
_NUMERIC = frozenset({"sum", "mean", "min", "max"})

#: finite double terms below this magnitude cast to decimal(38,18) as
#: their shortest repr does (Spark's cast follows Double.toString)
_EXACT_TERM = 2.0 ** 53
#: decimal(38,18) holds |x| < 1e20; a sum whose absolute terms stay
#: below this (with room for the float estimate's error) cannot
#: overflow in any fold order
_DSUM_ABS_MAX = 1e20 * (1 - 1e-6)
_SCALE = 10 ** 18
_DEC_CTX = decimal.Context(prec=80, rounding=decimal.ROUND_HALF_UP)

_ORDER = [("series", "ascending"), ("ts", "ascending"),
          ("seq", "ascending")]


class _Refuse(Exception):
    """The data holds a case this executor does not serve exactly."""


def _spec(pl):
    """The pipeline's one aggregate, None for no function, or False
    when this executor does not serve it."""
    funcs = [f for f in pl.funcs if not isinstance(f, N.AllPointsFunc)]
    if not funcs:
        return None
    f = funcs[0]
    if len(funcs) != 1 or not isinstance(f, N.AggFunc) \
            or f.name not in AGGS or f.offset != 0:
        return False
    g = f.group_by
    if g is not None and (type(g) is not int or g <= 0):
        return False
    return f


def select(eng, stmt) -> dict | None:
    """The reply of ``stmt`` computed on the driver, or None when
    Spark must answer it (see the module docstring)."""
    store = eng.store
    # [t0, t1) bounds, () for no range, None for head/tail
    rng = eng._rollup_range(stmt.timerange)
    if store is None or stmt.merge is not None or rng is None:
        return None
    specs = [_spec(pl) for pl in stmt.pipelines]
    if any(s is False for s in specs):
        return None
    sel = eng._selected(stmt.match, stmt.where)
    if not sel:
        return {}
    total = sum(r["length"] for r in sel)
    if total > ARROW_SELECT_MAX_POINTS or total > eng.select_points_limit:
        return None
    if any(r["first"] is None or r["last"] is None for r in sel):
        return None    # a mixed-type series: the points pipeline decides
    tps = {r["tp"] for r in sel}
    if TP_STRING in tps and any(f is not None and f.name in _NUMERIC
                                for f in specs):
        return None    # Spark raises the type error
    presuf = [(pl.prefix or "", pl.suffix or "") for pl in stmt.pipelines]
    if len(set(presuf)) != len(presuf):
        return None    # Spark raises the uniqueness error
    t0, t1 = rng or (None, None)
    tbl = _read(store, sel, t0, t1)
    try:
        pts = _Points(tbl, {r["name"]: r["tp"] for r in sel})
        outs = []
        for f, (pre, suf) in zip(specs, presuf):
            out = pts.table if f is None else _aggregate(pts, f)
            if pre or suf:
                out = out.set_column(0, "series", pc.binary_join_element_wise(
                    pre, out["series"], suf, ""))
            outs.append(out)
    except _Refuse:
        return None
    seeds = [pre + r["name"] + suf for pre, suf in presuf for r in sel]
    return reply_map(pa.concat_tables(outs), seeds)


def _shard_dirs(store: PointsStore, sel: list, t0, t1) -> list:
    """The existing shard directories that can hold points of the
    selected series inside [t0, t1): each series' snapshot span, cut
    by the range, mapped to shard ids with Spark's trunc-mod
    ``ts - ts % duration`` (as ``PointsStore.append_local`` places
    points)."""
    lo = np.array([r["start"] for r in sel], np.int64)
    hi = np.array([r["end"] for r in sel], np.int64)
    log = np.array([r["tp"] == TP_STRING for r in sel])
    if t0 is not None:
        lo = np.maximum(lo, t0)
    if t1 is not None:
        hi = np.minimum(hi, t1 - 1)
    dur = np.where(log, store.duration_log, store.duration_num)
    live = lo <= hi
    lo, hi = lo - np.fmod(lo, dur), hi - np.fmod(hi, dur)
    return [p for kind, sid, p in store._sid_dirs()
            if np.any(live & (log == (kind == "log"))
                      & (lo <= sid) & (sid <= hi))]


def _read(store: PointsStore, sel: list, t0, t1) -> pa.Table:
    """The selected series' points inside [t0, t1), in file order.
    A file a concurrent shard swap removed means listing again."""
    store._repair_rewrites()
    schema = _pa_points_schema()
    while True:
        files = [f for p in _shard_dirs(store, sel, t0, t1)
                 for f in PointsStore._parquet_files(p)]
        if not files:
            return schema.empty_table()
        try:
            tbl = pq.read_table(files, columns=_POINT_COLS, schema=schema)
        except FileNotFoundError:
            continue
        break
    keep = pc.is_in(tbl["series"],
                    value_set=pa.array([r["name"] for r in sel]))
    ts = tbl["ts"]
    if t0 is not None:
        keep = pc.and_(keep, pc.greater_equal(ts, t0))
    if t1 is not None:
        keep = pc.and_(keep, pc.less(ts, t1))
    return tbl.filter(keep)


class _Points:
    """The selected points sorted by (series, ts, seq), as numpy
    lanes, with the boundaries of each series' run."""

    def __init__(self, tbl: pa.Table, tp_of: dict):
        tbl = tbl.sort_by(_ORDER).combine_chunks()
        self.table = tbl
        self.n = n = tbl.num_rows
        self.ts = tbl["ts"].to_numpy()
        self.tp = tbl["tp"].to_numpy()
        series = tbl["series"]
        if n:
            new = pc.not_equal(series[1:], series[:-1]) \
                .to_numpy(zero_copy_only=False)
            self.series_start = np.flatnonzero(np.r_[True, new])
        else:
            self.series_start = np.zeros(0, np.int64)
        # every point must carry its series' catalog type, in its own
        # lane (the model never stores a null value)
        want = np.array([tp_of[s] for s in
                         series.take(self.series_start).to_pylist()],
                        np.int32)
        runs = np.diff(np.r_[self.series_start, n])
        if not np.array_equal(self.tp, np.repeat(want, runs)):
            raise _Refuse
        for tp, col in ((TP_INT, "val_int"), (TP_DOUBLE, "val_dbl"),
                        (TP_STRING, "val_str")):
            if tbl[col].null_count and \
                    pc.any(pc.and_(pc.equal(tbl["tp"], tp),
                                   pc.is_null(tbl[col]))).as_py():
                raise _Refuse
        self.vi = pc.fill_null(tbl["val_int"], 0).to_numpy()
        self.vd = pc.fill_null(tbl["val_dbl"], 0.0).to_numpy()

    def groups(self, group_by) -> tuple:
        """(starts, ends, labels) of the (series, bucket) groups, or of
        the series for a to-one (labels None)."""
        if group_by is None:
            starts = self.series_start
            return starts, np.r_[starts[1:], self.n], None
        ts = self.ts
        if self.n and int(ts.max()) > INT64_MAX - (group_by - 1):
            raise _Refuse    # Spark's ANSI long add decides
        shifted = ts + (group_by - 1)
        label = shifted - np.fmod(shifted, group_by)
        brk = np.zeros(self.n, bool)
        brk[self.series_start] = True
        brk[1:] |= label[1:] != label[:-1]
        starts = np.flatnonzero(brk)
        return starts, np.r_[starts[1:], self.n], label[starts]


def _aggregate(pts: _Points, f) -> pa.Table:
    """One aggregate of the sorted points, in the canonical layout."""
    starts, ends, labels = pts.groups(f.group_by)
    if not len(starts):
        return _pa_points_schema().empty_table()
    name = f.name
    tp = pts.tp[starts]
    vi = vd = vs = None
    if name == "count":
        vi, tp = ends - starts, np.full(len(starts), TP_INT, np.int32)
    elif name in ("first", "last"):
        idx = starts if name == "first" else ends - 1
        vi, vd = pts.vi[idx], pts.vd[idx]
        vs = pts.table["val_str"].take(pa.array(idx))
    elif name == "min":
        # fmin skips NaN unless all are: Spark orders NaN above +inf
        vi = np.minimum.reduceat(pts.vi, starts)
        vd = np.fmin.reduceat(pts.vd, starts)
    elif name == "max":
        vi = np.maximum.reduceat(pts.vi, starts)
        vd = np.maximum.reduceat(pts.vd, starts)
    elif name == "sum":
        # each lane over its own type's rows (zero elsewhere)
        if (tp == TP_INT).any():
            vi = _int_sums(np.where(pts.tp == TP_INT, pts.vi, 0), starts)
        if (tp == TP_DOUBLE).any():
            vd = _stable_sums(np.where(pts.tp == TP_DOUBLE, pts.vd, 0.0),
                              starts)
    else:    # mean
        num = np.where(pts.tp == TP_INT, pts.vi.astype(np.float64), pts.vd)
        vd = _stable_sums(num, starts) / (ends - starts)
        tp = np.full(len(starts), TP_DOUBLE, np.int32)
    if labels is None:
        labels = pts.ts[starts] if name == "first" else pts.ts[ends - 1]
    return _table(pts.table["series"].take(pa.array(starts)), labels,
                  tp, vi, vd, vs)


def _table(series, ts, tp, vi, vd, vs) -> pa.Table:
    """The canonical 7-column layout; each value lane holds the rows
    of its type, null elsewhere."""
    n = len(ts)
    tp = np.asarray(tp, np.int32)

    def lane(vals, t, typ):
        if vals is None:
            return pa.nulls(n, typ)
        if isinstance(vals, (pa.Array, pa.ChunkedArray)):
            return pc.if_else(pa.array(tp == t), vals, pa.scalar(None, typ))
        return pa.array(vals, typ, mask=tp != t)

    return pa.table({
        "series": series, "ts": pa.array(ts, pa.int64()),
        "seq": pa.array(np.zeros(n, np.int64)),
        "val_int": lane(vi, TP_INT, pa.int64()),
        "val_dbl": lane(vd, TP_DOUBLE, pa.float64()),
        "val_str": lane(vs, TP_STRING, pa.string()),
        "tp": pa.array(tp)})


def _group_sums(x: np.ndarray, starts: np.ndarray,
                shift: int) -> np.ndarray:
    """Exact per-group sums of the int64 ``x`` as Python ints (object
    array): the high and low ``shift``-bit halves are summed in int64,
    where they cannot overflow, and joined."""
    hi = np.add.reduceat(x >> shift, starts).astype(object)
    lo = np.add.reduceat(x & ((1 << shift) - 1), starts).astype(object)
    return hi * (1 << shift) + lo


def _int_sums(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Exact int64 sums per group, or the overflow error Spark's
    ``try_sum`` gives; a sum whose fold may or may not overflow
    depending on order refuses."""
    total = _group_sums(x, starts, 32)
    pos = _group_sums(np.maximum(x, 0), starts, 32)
    neg = _group_sums(np.minimum(x, 0), starts, 32)
    for t, p, q in zip(total, pos, neg):
        if not INT64_MIN <= t <= INT64_MAX:
            raise QueryError("Overflow detected while using sum().")
        if p > INT64_MAX or q < INT64_MIN:
            raise _Refuse
    return total.astype(np.int64)


def _stable_sums(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """``stable_double_sum`` per group of the doubles ``x``."""
    finite = np.isfinite(x)
    if np.any(np.abs(x[finite]) >= _EXACT_TERM):
        raise _Refuse
    fx = np.where(finite, x, 0.0)
    if np.any(np.add.reduceat(np.abs(fx), starts) >= _DSUM_ABS_MAX):
        raise _Refuse
    nan = np.add.reduceat(np.isnan(x), starts)
    pinf = np.add.reduceat(x == np.inf, starts)
    ninf = np.add.reduceat(x == -np.inf, starts)
    totals = _decimal_sums(fx, starts)
    out = np.array([t / _SCALE for t in totals], np.float64)
    out[ninf > 0] = -np.inf
    out[pinf > 0] = np.inf
    out[(nan > 0) | ((pinf > 0) & (ninf > 0))] = np.nan
    return out


def _decimal_terms(x: np.ndarray) -> tuple:
    """Each double's decimal(38,18) term, scaled by 10**18, as
    ``(digits, k, rest)``: ``digits[i] * 10**(18 - k[i])`` for the
    values resolved in numpy, and ``rest`` the indices (k == -1) left
    to :func:`_decimal_term`.

    A value resolves at the smallest k whose integer ``N = round(x ·
    10**k)`` satisfies ``N / 10**k == x`` with |N| < 2**50: ``N / 10**k``
    is the correctly rounded quotient of two exact doubles, so the
    test says the decimal N·10**-k reads back as x; below 2**50 the
    decimal grid is more than twice as coarse as the doubles near x,
    so at most one N per k reads back and the product's rounding
    cannot pick a neighbour. The smallest such k is the shortest
    repr's."""
    n = len(x)
    digits = np.zeros(n, np.int64)
    k_of = np.full(n, -1, np.int64)
    todo = np.arange(n)
    for k in range(18):
        if not todo.size:
            break
        p = 10.0 ** k
        r = np.round(x[todo] * p)
        small = np.abs(r) < 2.0 ** 50
        hit = small & (r / p == x[todo])
        digits[todo[hit]] = r[hit].astype(np.int64)
        k_of[todo[hit]] = k
        todo = todo[small & ~hit]
    return digits, k_of, np.flatnonzero(k_of < 0)


def _decimal_term(v: float) -> int:
    """One double's decimal(38,18) term scaled by 10**18: its shortest
    repr rounded half-up at 18 places."""
    return int(_DEC_CTX.scaleb(Decimal(repr(v)), 18)
               .to_integral_value(rounding=decimal.ROUND_HALF_UP))


def _decimal_sums(x: np.ndarray, starts: np.ndarray) -> list:
    """Exact per-group sums of the scaled decimal terms of the finite
    doubles ``x``, as Python ints."""
    digits, k_of, rest = _decimal_terms(x)
    totals = np.zeros(len(starts), object)
    for k in np.unique(k_of[k_of >= 0]):
        part = np.where(k_of == k, digits, 0)
        totals = totals + _group_sums(part, starts, 25) \
            * 10 ** (18 - int(k))
    if rest.size:
        grp = np.searchsorted(starts, rest, side="right") - 1
        for i, g in zip(rest.tolist(), grp.tolist()):
            totals[g] += _decimal_term(float(x[i]))
    return totals.tolist()
