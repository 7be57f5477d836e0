"""Select-pipeline compiler: AST functions → DataFrame stages.

Re-expression of /root/reference/src/siri/db/aggregate.c (1,803 LoC)
as Catalyst expressions over the long points DataFrame
(series, ts, seq, val_int, val_dbl, val_str, tp).

Semantics parity notes (all verified by transliterated goldens):
- Bucketing: right-closed, END-labeled, ``+offset`` (aggregate.c:41-43)
  — see functions/buckets.py.
- Whole-window collapse labels results with the LAST point's ts (the
  first's for ``first()``) — aggregate.c:1110-1112.
- Type rules (aggregate.c:1078-1102): min/max/sum/first/last/
  median_low/median_high/difference keep the series type;
  mean/median/variance/pvariance/stddev/derivative force double;
  count/timeval/interval force int.
- n==1: variance/stddev → 0.0 (not NULL) — variance.c:9-52.
- Int overflow in sum/difference is a query error (aggregate.c:1647-52)
  — detected via try_sum/try_subtract (NULL ⇒ overflowed).
- NaN filter semantics follow cexpr_double_cmp (src/cexpr/cexpr.c:137-162):
  ==/>=/<= against nan match NaN; </> never match NaN.
- Regexes are anchored (siridb_re_compile) → rlike('^(?:...)').

Every stage is a pure DataFrame transform: one shuffle per aggregation,
window functions for lag-based transforms, no Python UDFs anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import QueryError
from ..model import TP_DOUBLE, TP_INT, TP_STRING
from ..plans import nodes as N
from .buckets import bucket_of
from .memo import cols, memoized

COLS = ["series", "ts", "seq", "val_int", "val_dbl", "val_str", "tp"]

#: numeric view of a point value (exact for doubles; int64→double cast
#: only feeds forced-double aggregates, matching the reference)
def _num() -> Column:
    return F.coalesce(F.col("val_dbl"), F.col("val_int").cast("double"))


def _order() -> Column:
    """Tie-break ordering: (ts, insert-seq) — equal timestamps keep
    insert order (points.c:226-245, 'equal ts' fixture)."""
    return F.struct(F.col("ts"), F.col("seq"))

FORCE_DOUBLE = {"mean", "median", "variance", "pvariance", "stddev"}
KEEP_TYPE = {"min", "max", "sum", "first", "last", "median_low",
             "median_high"}
NUMERIC_ONLY = {"mean", "median", "median_low", "median_high", "min",
                "max", "sum", "variance", "pvariance", "stddev"}


@dataclass
class TypeSet:
    """Static per-pipeline tracking of the series-type classes present in
    the selection (known from the catalog — no extra Spark job)."""

    tps: frozenset

    def after(self, fname: str) -> "TypeSet":
        if fname in FORCE_DOUBLE or fname == "derivative":
            return TypeSet(frozenset({TP_DOUBLE}))
        if fname in ("count", "timeval", "interval"):
            return TypeSet(frozenset({TP_INT}))
        return self


def _value_cols(vi=None, vd=None, vs=None, tp=None,
                seq=None) -> list:
    """``seq`` … ``tp`` of the canonical column layout from value
    expressions (None: NULL; ``seq`` 0, ``tp`` the input's)."""
    null = F.lit(None)
    return [
        (seq if seq is not None else F.lit(0)).cast("long").alias("seq"),
        (vi if vi is not None else null).cast("long").alias("val_int"),
        (vd if vd is not None else null).cast("double").alias("val_dbl"),
        (vs if vs is not None else null).cast("string").alias("val_str"),
        (tp if tp is not None else F.col("tp")).cast("int").alias("tp"),
    ]


@memoized
def _norm_cols(vi, vd, tp, seq) -> list:
    """The canonical-layout projection of a per-point stage: each
    argument names the column holding that field (None: its default;
    an int ``tp``: that type literal)."""
    def c(name):
        return None if name is None else F.col(name)
    return [*cols("series"), F.col("ts").cast("long").alias("ts"),
            *_value_cols(c(vi), c(vd), None,
                         F.lit(tp) if isinstance(tp, int) else c(tp),
                         c(seq))]


def _norm(df: DataFrame, *, vi=None, vd=None, tp=None,
          seq=None) -> DataFrame:
    """Project a stage result back to the canonical column layout."""
    return df.select(*_norm_cols(vi, vd, tp, seq))


@memoized
def _overflow_cond() -> Column:
    return (F.col("tp") == TP_INT) & F.col("val_int").isNull()


class OverflowCheck:
    """Deferred overflow probe: try_sum/try_subtract yield NULL on int64
    overflow; a NULL value cell for an int-typed series row ⇒ the
    reference would have raised. The engine runs these probes (tiny
    post-aggregation scans) before results are returned."""

    def __init__(self, df: DataFrame, fname: str):
        self.df = df
        self.fname = fname

    def run(self):
        if not self.df.where(_overflow_cond()).isEmpty():
            raise QueryError(
                f"Overflow detected while using {self.fname}().")


class StageResult:
    def __init__(self, df: DataFrame, types: TypeSet, checks: list):
        self.df = df
        self.types = types
        self.checks = checks


def _overflow_checks(out: DataFrame, name: str, types: TypeSet) -> list:
    """The deferred int64-overflow probe of a sum/difference over int
    series (none otherwise)."""
    if name in ("sum", "difference") and TP_INT in types.tps:
        return [OverflowCheck(out, name)]
    return []


# --------------------------------------------------------------- aggregates
#: |x| below this joins the exact DECIMAL(38,18) fold; at/above it
#: (finite) the sum falls back to plain double folding (the decimal
#: type can't hold the terms). 1e18 leaves ~100 headroom in the
#: decimal's 20 integer digits for the running sum.
_DSUM_HUGE = 1e18


def _dsum_small(x: Column) -> Column:
    return (x.isNotNull() & ~F.isnan(x)
            & (F.abs(x) < F.lit(_DSUM_HUGE)))


def _dsum_huge(x: Column) -> Column:
    """Finite |x| ≥ 1e18: the plain-double fallback class."""
    return (x.isNotNull() & ~F.isnan(x)
            & (F.abs(x) >= F.lit(_DSUM_HUGE))
            & (F.abs(x) != F.lit(float("inf"))))


def stable_double_sum(x: Column) -> Column:
    """Partition-order-free double SUM with C-double semantics for
    non-finite values — the aggregate both the points path and the
    rollup-compose path use, so materialized rollups serve double
    sums bit-identically to a live point read (engine._rollup_servable).

    Finite |x| < 1e18 terms fold as exact DECIMAL(38,18) — each term
    deterministically rounded once, the fold associative, the final
    double cast order-free (functions/stable.py rationale). The
    non-finite classes reproduce what a C loop of double adds yields
    REGARDLESS of order: any NaN → NaN, +inf and −inf together →
    NaN, one infinity sign alone → that infinity. Only the
    astronomically-rare huge-finite class (|x| ≥ 1e18, and decimal
    overflow of the running sum) falls back to the plain double fold
    whose low bits are partition-order-dependent — documented, and
    excluded from rollup bit-identity claims."""
    n_nan = F.count(F.when(F.isnan(x), 1))
    n_pinf = F.count(F.when(x == F.lit(float("inf")), 1))
    n_ninf = F.count(F.when(x == F.lit(float("-inf")), 1))
    n_huge = F.count(F.when(_dsum_huge(x), 1))
    n_fin = F.count(F.when(_dsum_small(x), 1))
    dsum = F.try_sum(F.when(_dsum_small(x), x)
                     .cast("decimal(38,18)"))
    psum = F.sum(x)
    return (
        F.when(F.count(x) == 0, F.lit(None).cast("double"))
        .when((n_nan > 0) | ((n_pinf > 0) & (n_ninf > 0)),
              F.lit(float("nan")))
        .when(n_pinf > 0, F.lit(float("inf")))
        .when(n_ninf > 0, F.lit(float("-inf")))
        .when((n_huge > 0) | ((n_fin > 0) & dsum.isNull()), psum)
        .otherwise(dsum.cast("double")))


#: oracle fragment mirroring the finite branch of
#: :func:`stable_double_sum` (testdata has no NaN/inf/huge values,
#: so the CASE collapses to its ELSE); format with x=expr
STABLE_SUM_SQL = "CAST(sum(CAST({x} AS DECIMAL(38,18))) AS DOUBLE)"
#: …and the matching mean (one double division of exact values)
STABLE_MEAN_SQL = (
    "(CAST(sum(CAST({x} AS DECIMAL(38,18))) AS DOUBLE)"
    " / count({x}))")


def _agg_exprs(name: str, timespan: float | None = None):
    """Aggregate value expressions for one bucket/window group."""
    num = _num()
    if name == "count":
        return dict(vi=F.count(F.lit(1)))
    if name == "sum":
        return dict(vi=F.try_sum("val_int"),
                    vd=stable_double_sum(F.col("val_dbl")))
    if name == "mean":
        return dict(vd=stable_double_sum(num) / F.count(num))
    if name == "median":
        return dict(vd=F.percentile(num, F.lit(0.5)))
    if name in ("median_low", "median_high"):
        out = {}
        for key, col in (("vi", "val_int"), ("vd", "val_dbl")):
            arr = F.array_sort(F.collect_list(col))
            n = F.size(arr)
            idx = ((n - 1) / 2 if name == "median_low" else n / 2)
            out[key] = F.get(arr, idx.cast("int"))
        return out
    if name == "variance":
        return dict(vd=F.coalesce(F.var_samp(num), F.lit(0.0)))
    if name == "pvariance":
        return dict(vd=F.coalesce(F.var_pop(num), F.lit(0.0)))
    if name == "stddev":
        return dict(vd=F.coalesce(F.stddev_samp(num), F.lit(0.0)))
    if name == "min":
        return dict(vi=F.min("val_int"), vd=F.min("val_dbl"))
    if name == "max":
        return dict(vi=F.max("val_int"), vd=F.max("val_dbl"))
    if name == "first":
        return dict(vi=F.min_by("val_int", _order()),
                    vd=F.min_by("val_dbl", _order()),
                    vs=F.min_by("val_str", _order()))
    if name == "last":
        return dict(vi=F.max_by("val_int", _order()),
                    vd=F.max_by("val_dbl", _order()),
                    vs=F.max_by("val_str", _order()))
    if name == "difference":
        return dict(
            vi=F.try_subtract(F.max_by("val_int", _order()),
                              F.min_by("val_int", _order())),
            vd=F.max_by("val_dbl", _order()) - F.min_by("val_dbl", _order()),
        )
    if name == "derivative":
        return dict(
            vd=(F.max_by(num, _order()) - F.min_by(num, _order()))
            * F.lit(float(timespan)),
        )
    raise AssertionError(name)


def _tp_expr(name: str) -> Column:
    if name in FORCE_DOUBLE or name == "derivative":
        return F.lit(TP_DOUBLE)
    if name == "count":
        return F.lit(TP_INT)
    return F.max("tp")


@memoized
def _agg_out(name: str, timespan, to_one: bool) -> list:
    """The aggregate list of one bucket/window group, already in the
    canonical layout after its grouping keys: the whole-window
    collapse adds the ``ts`` label (last point's ts, first's for
    ``first()``)."""
    e = _agg_exprs(name, timespan)
    label = []
    if to_one:
        label = [(F.min("ts") if name == "first" else F.max("ts"))
                 .cast("long").alias("ts")]
    return label + _value_cols(e.get("vi"), e.get("vd"), e.get("vs"),
                               _tp_expr(name))


@memoized
def _bucket_keys(src: str, group_by: int) -> list:
    """(series, right-closed END-labeled bucket of ``src`` as ts)."""
    return [*cols("series"), bucket_of(src, group_by).alias("ts")]


def _check_agg_types(name: str, types: TypeSet):
    if name in NUMERIC_ONLY or name in ("difference", "derivative"):
        if TP_STRING in types.tps and name not in ("first", "last", "count"):
            raise QueryError(f"Cannot use {name}() on string type.")


def assign_sweep_buckets(df: DataFrame, group_by, offset) -> DataFrame:
    """Exact bucket-label assignment for offset != 0 — pure JVM.

    The reference's AGGREGATE_group_by (aggregate.c:1188-1220) is a
    per-series SWEEP: the bucket label is GROUP_TS(first point not
    covered by the previous bucket), and the bucket absorbs every
    following point with ts <= label. With a non-zero offset a point
    in the "offset tail" (k*g, k*g+off] has GROUP_TS one full group
    further, so labels become data-dependent.

    The sweep reduces exactly to bucket granularity: partition points
    into closed-form candidate buckets B(t) = ceil((t-off)/g)*g + off
    (right-closed spans (B-g, B], each wholly absorbed by one sweep
    label since consecutive labels differ by >= g). Per bucket,
    ``jump`` := its earliest point lies in the tail (B-off, B], which
    sends the label to B+g and absorbs an immediately adjacent next
    bucket; an absorbed bucket never sets state, so within a run of
    adjacent jump-chained buckets absorption alternates. That makes
    the label a closed-form window expression over the (tiny)
    bucket-level rows:

        c        = lag(jump) and B == lag(B) + g        (chain link)
        absorbed = c and (distance from run start is odd)
        label    = B        if absorbed or not jump
                   B + g    otherwise

    All JVM-side: one partial-aggregated groupBy for bucket minima, a
    window over ~(span/g) rows per series, and a co-partitioned join
    back to points. Replaces an Arrow round-trip of every point
    through Python with O(buckets) metadata work — at 100 TB the
    points never leave the JVM.

    ``group_by``/``offset`` may be ints or per-series column names
    (limit()'s computed widths, aggregate.c:677-694).
    """
    c = _sweep_cols(group_by, offset)
    pts = df.withColumn("_b", c["b"]).withColumn("_g", c["g"]) \
        .withColumn("_off", c["off"])
    bstats = pts.groupBy(*cols("series", "_b")).agg(*c["bstats"])
    labeled = (
        bstats
        .withColumn("_c", c["_c"])
        .withColumn("_r", c["_r"])
        .withColumn("_runstart", c["_runstart"])
        .withColumn("_absorbed", c["_absorbed"])
        .select(*c["label"])
    )
    return (pts.join(labeled, ["series", "_b"])
            .drop("_b", "_g", "_off"))


@memoized
def _sweep_cols(group_by, offset) -> dict:
    """The Columns of :func:`assign_sweep_buckets`, per width/offset."""
    g = (F.lit(group_by) if isinstance(group_by, int)
         else F.col(group_by)).cast("long")
    off = (F.lit(offset) if isinstance(offset, int)
           else F.col(offset)).cast("long")
    # closed-form candidate bucket; numerator >= 0 (ts >= 0, off < g)
    # so truncating int div == floor div; int64-exact for ns ts
    num = F.col("ts") - off + g - F.lit(1)
    w = Window.partitionBy("series").orderBy("_b")
    jump = F.col("_m") > F.col("_b") - F.col("_boff")
    chained = (F.lag(jump).over(w)
               & (F.col("_b") == F.lag("_b").over(w) + F.col("_bg")))
    return {
        "b": (num - (num % g) + off).cast("long"), "g": g, "off": off,
        "bstats": [F.min("ts").alias("_m"),
                   F.first("_g").alias("_bg"),
                   F.first("_off").alias("_boff")],
        "_c": F.coalesce(chained, F.lit(False)),
        "_r": F.row_number().over(w),
        "_runstart": F.max(F.when(~F.col("_c"), F.col("_r"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        "_absorbed": F.col("_c")
        & ((F.col("_r") - F.col("_runstart")) % 2 == 1),
        "label": [*cols("series", "_b"),
                  F.when(F.col("_absorbed") | ~jump, F.col("_b"))
                  .otherwise(F.col("_b") + F.col("_bg"))
                  .cast("long").alias("bucket")],
    }


def apply_bucket_agg(df: DataFrame, name: str, group_by, offset,
                     types: TypeSet, timespan=None) -> StageResult:
    """groupBy(series, bucket) aggregation — one shuffle, map-side
    partial aggregation via Catalyst (mirrors the reference's per-pool
    pre-aggregation advice, help/help_select.md:84-96)."""
    _check_agg_types(name, types)
    plain = isinstance(group_by, int) and isinstance(offset, int) \
        and offset == 0
    if plain:
        grouped = df.groupBy(*_bucket_keys("ts", group_by))
    else:
        swept = assign_sweep_buckets(df, group_by, offset)
        grouped = swept.groupBy(*_sweep_keys())
    out = grouped.agg(*_agg_out(name, timespan, False))
    return StageResult(out, types.after(name),
                       _overflow_checks(out, name, types))


@memoized
def _sweep_keys() -> list:
    return [*cols("series"), F.col("bucket").alias("ts")]


def apply_to_one(df: DataFrame, name: str, types: TypeSet,
                 timespan=None) -> StageResult:
    """Whole-window collapse (AGGREGATE_to_one, aggregate.c:1068-1124):
    label = last point's ts; first's ts for first()."""
    _check_agg_types(name, types)
    out = df.groupBy(*cols("series")).agg(*_agg_out(name, timespan, True))
    return StageResult(out, types.after(name),
                       _overflow_checks(out, name, types))


# --------------------------------------------------------------- transforms
def _series_window():
    return Window.partitionBy("series").orderBy("ts", "seq")


def _has_prev(w) -> Column:
    return F.lag("ts").over(w).isNotNull().alias("has_prev")


@memoized
def _difference_cols() -> list:
    w = _series_window()
    return [*cols("series", "ts", "seq", "tp"),
            F.try_subtract(F.col("val_int"), F.lag("val_int").over(w))
            .alias("vi"),
            (F.col("val_dbl") - F.lag("val_dbl").over(w)).alias("vd"),
            _has_prev(w)]


@memoized
def _derivative_cols(timespan: float) -> list:
    w = _series_window()
    num = _num()
    return [*cols("series", "ts", "seq"),
            (F.try_divide(
                num - F.lag(num).over(w),
                (F.col("ts") - F.lag("ts").over(w)).cast("double"))
             * F.lit(timespan)).alias("vd"),
            _has_prev(w)]


@memoized
def _interval_cols() -> list:
    w = _series_window()
    return [*cols("series", "ts", "seq"),
            (F.col("ts") - F.lag("ts").over(w)).alias("vi"),
            _has_prev(w)]


def apply_difference(df: DataFrame, types: TypeSet) -> StageResult:
    if TP_STRING in types.tps:
        raise QueryError("Cannot use difference() on string type.")
    step = df.select(*_difference_cols()).where("has_prev")
    out = _norm(step, vi="vi", vd="vd", seq="seq")
    return StageResult(out, types,
                       _overflow_checks(out, "difference", types))


def apply_derivative(df: DataFrame, timespan: float,
                     types: TypeSet) -> StageResult:
    if TP_STRING in types.tps:
        raise QueryError("Cannot use derivative() on string type.")
    step = df.select(*_derivative_cols(float(timespan))).where("has_prev")
    out = _norm(step, vd="vd", tp=TP_DOUBLE, seq="seq")
    return StageResult(out, TypeSet(frozenset({TP_DOUBLE})), [])


def apply_interval(df: DataFrame, types: TypeSet) -> StageResult:
    step = df.select(*_interval_cols()).where("has_prev")
    out = _norm(step, vi="vi", tp=TP_INT, seq="seq")
    return StageResult(out, TypeSet(frozenset({TP_INT})), [])


def apply_timeval(df: DataFrame, types: TypeSet) -> StageResult:
    out = _norm(df, vi="ts", tp=TP_INT, seq="seq")
    return StageResult(out, TypeSet(frozenset({TP_INT})), [])


# ------------------------------------------------------------------- filter
def _cmp_double(col: Column, op: str, b: float) -> Column:
    """Exact cexpr_double_cmp semantics (src/cexpr/cexpr.c:137-162)."""
    import math

    isnan = F.isnan(col)
    if math.isnan(b):
        if op in ("==", ">=", "<="):
            return isnan
        if op == "!=":
            return ~isnan
        return F.lit(False)  # < > never match when b is nan
    if op == "==":
        return (col == F.lit(b)) & ~isnan
    if op == "!=":
        return (col != F.lit(b)) | isnan
    if op == ">":
        return (col > F.lit(b)) & ~isnan
    if op == "<":
        return (col < F.lit(b)) & ~isnan
    if op == ">=":
        return (col >= F.lit(b)) & ~isnan
    if op == "<=":
        return (col <= F.lit(b)) & ~isnan
    raise AssertionError(op)


def _cmp_int(col: Column, op: str, b: int) -> Column:
    ops = {"==": col == b, "!=": col != b, ">": col > b, "<": col < b,
           ">=": col >= b, "<=": col <= b}
    return ops[op]


def _cmp_str(col: Column, op: str, b: str) -> Column:
    ops = {
        "==": col == b, "!=": col != b, ">": col > b, "<": col < b,
        ">=": col >= b, "<=": col <= b,
        "~": col.contains(b), "!~": ~col.contains(b),
    }
    return ops[op]


def anchored_regex(pattern: str, case_insensitive: bool) -> str:
    """siridb_re_compile anchors patterns; /…/i → (?i)."""
    prefix = "(?i)" if case_insensitive else ""
    return f"{prefix}^(?:{pattern})"


def apply_filter(df: DataFrame, f: N.FilterFunc,
                 types: TypeSet) -> StageResult:
    if f.value_tp in ("string", "regex"):
        if types.tps & {TP_INT, TP_DOUBLE}:
            raise QueryError("Cannot use a string filter on number type.")
    elif TP_STRING in types.tps:
        raise QueryError("Cannot use a number filter on string type.")
    cond = _filter_cond(f.op, f.value_tp, f.value, types.tps)
    return StageResult(df.where(cond), types, [])


@memoized
def _filter_cond(op: str, value_tp: str, value, tps: frozenset) -> Column:
    if value_tp == "regex":
        pat, ci = value
        cond = F.col("val_str").rlike(anchored_regex(pat, ci))
        return ~cond if op == "!=" else cond
    if value_tp == "string":
        return _cmp_str(F.col("val_str"), op, value)
    # numeric filter
    conds = []
    if TP_INT in tps:
        # double filter value on int series truncates (aggregate.c:952)
        bi = int(value) if value_tp in ("int", "double") else None
        if bi is None:
            # nan/inf filter on int series: compare as double
            conds.append((F.col("tp") == TP_INT)
                         & _cmp_double(F.col("val_int").cast("double"),
                                       op, float(value)))
        else:
            conds.append((F.col("tp") == TP_INT)
                         & _cmp_int(F.col("val_int"), op, bi))
    if TP_DOUBLE in tps:
        conds.append((F.col("tp") == TP_DOUBLE)
                     & _cmp_double(F.col("val_dbl"), op, float(value)))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return cond


# -------------------------------------------------------------------- limit
def apply_limit(df: DataFrame, limit: int, agg_name: str,
                types: TypeSet) -> StageResult:
    """limit(N, fn): adaptive per-series downsample
    (AGGREGATE_limit, aggregate.c:677-694). Per-series stats come
    from a frame-less window over one series-hash shuffle (WindowExec
    still inserts a local sort on the partition key and buffers one
    series at a time — acceptable: a single series fits an executor
    by the engine's own select_points_limit), not a separate
    aggregate pass: the source is scanned ONCE, and the downstream
    bucketed groupBy's ClusteredDistribution(series, bucket) is
    already satisfied by the window's HashPartitioning(series)
    (series ⊆ grouping keys), so no second exchange appears. Both
    output branches (bucketed over-limit series, passthrough others)
    hang off the same exchange, which Spark reuses (ReusedExchange).
    Measured ~25% faster than the former two-scan agg+broadcast-join
    shape at sf0.1."""
    c = _limit_cols(int(limit))
    st = (df.select(*c["stats"])
          .withColumn("_g", c["_g"]).withColumn("_off", c["_off"]))
    passthrough = st.where(c["pass"]).select(*cols(*COLS))
    capped = st.where(c["capped"])
    res = apply_bucket_agg(capped, agg_name, "_g", "_off", types)
    out = res.df.unionByName(passthrough)
    return StageResult(out, types.after(agg_name), res.checks)


@memoized
def _limit_cols(limit: int) -> dict:
    """The Columns of :func:`apply_limit`, per limit."""
    w = Window.partitionBy("series")
    # int64-exact: `div` (never double `/`) for ns-precision ts
    g = (F.expr(f"(_last_ts - _first_ts) div {limit}") + 1).cast("long")
    return {
        "stats": [*cols(*COLS),
                  F.min("ts").over(w).alias("_first_ts"),
                  F.max("ts").over(w).alias("_last_ts"),
                  F.count(F.lit(1)).over(w).alias("_cnt")],
        "_g": F.when(F.col("_cnt") > limit, g),
        "_off": (F.col("_first_ts") - 1) % F.col("_g"),
        "pass": F.col("_g").isNull(),
        "capped": F.col("_g").isNotNull(),
    }


# --------------------------------------------------------------- rollups
#: aggregates servable from bucketed rollup partials (sources/store.py
#: build_rollup / engine._try_rollup). first/last/median/variance are
#: not partial-composable at this granularity and always read points.
ROLLUP_FNS = frozenset({"count", "sum", "mean", "min", "max",
                        "first", "last"})

#: canonical partial-column layout (what rollup_partials emits, minus
#: the extra keys, and what point_partials emits) —
#: ``store.read_rollup`` projects persisted partials to this before the
#: engine unions them with the one-row partials of live points
ROLLUP_PARTIAL_COLS = [
    "series", "rbucket", "tp", "cnt", "vi_sum", "vi_oflow",
    "num_sum", "n_nan", "n_pinf", "n_ninf",
    "vd_cnt", "vd_fin", "vd_huge", "vd_dsum", "vd_psum",
    "nm_cnt", "nm_fin", "nm_huge", "nm_dsum", "nm_psum",
    "vi_min", "vi_max", "vd_min", "vd_max", "f", "l"]


def _stable_sum_partials(x: Column, p: str) -> dict:
    """The per-partial sufficient statistics of
    :func:`stable_double_sum` over ``x`` (column-name prefix ``p``):
    term-class counts, the exact decimal sum of the small-finite
    terms, and the plain double sum for the huge fallback. All of
    them fold associatively, so composing partials reproduces the
    points-path CASE bit-for-bit (outside the documented huge/
    overflow fallback)."""
    return {
        f"{p}_cnt": F.count(x),
        f"{p}_fin": F.count(F.when(_dsum_small(x), 1)),
        f"{p}_huge": F.count(F.when(_dsum_huge(x), 1)),
        f"{p}_dsum": F.try_sum(F.when(_dsum_small(x), x)
                               .cast("decimal(38,18)")),
        f"{p}_psum": F.sum(x),
    }


def _compose_stable_sum(p: str, n_nan, n_pinf, n_ninf) -> Column:
    """Fold :func:`_stable_sum_partials` columns (prefix ``p``) up to
    the query bucket — the same CASE as :func:`stable_double_sum`,
    over summed counters and the re-folded decimal sum."""
    cnt = F.sum(f"{p}_cnt")
    fin = F.sum(f"{p}_fin")
    huge = F.sum(f"{p}_huge")
    dsum = F.try_sum(f"{p}_dsum")
    psum = F.sum(f"{p}_psum")
    return (
        F.when(cnt == 0, F.lit(None).cast("double"))
        .when((n_nan > 0) | ((n_pinf > 0) & (n_ninf > 0)),
              F.lit(float("nan")))
        .when(n_pinf > 0, F.lit(float("inf")))
        .when(n_ninf > 0, F.lit(float("-inf")))
        .when((huge > 0) | ((fin > 0) & dsum.isNull()), psum)
        .otherwise(dsum.cast("double")))


def rollup_partials(df: DataFrame, bucket: int,
                    extra_keys: list = ()) -> DataFrame:
    """Per-(extra_keys..., series, rollup-bucket) partial aggregates:
    the store's rollup build (``PointsStore.build_rollup``). A select
    never aggregates points into partials; its live points enter the
    compose one row each through :func:`point_partials`.

    ``vi_oflow`` records an int64 overflow INSIDE one partial
    (try_sum went NULL with int rows present) so composition can
    surface the overflow error instead of silently skipping the
    NULL partial. The ``vd_*``/``nm_*`` families are the
    :func:`_stable_sum_partials` statistics of val_dbl (double sum)
    and num (mean numerator), plus the shared non-finite class
    counts — they let double-typed sum/mean compose bit-identically
    to the points path's :func:`stable_double_sum`."""
    keys, aggs, out = _partials_cols(bucket)
    extra = cols(*extra_keys)
    return (df.groupBy(*extra, *keys).agg(*aggs)
            .select(*extra, *out))


@memoized
def _partials_cols(bucket: int) -> tuple:
    """(grouping keys, aggregates, output projection after the extra
    keys) of :func:`rollup_partials`."""
    # typed first/last per bucket ((ts, seq) order, insert-order
    # ties) so bucketed first()/last() compose from partials too —
    # argmin/argmax fold associatively across partials
    point = F.struct("ts", "seq", "val_int", "val_dbl", "val_str")
    order = F.struct("ts", "seq")
    num = _num()
    dbl = F.col("val_dbl")
    stable = {**_stable_sum_partials(dbl, "vd"),
              **_stable_sum_partials(num, "nm")}
    aggs = {
        "tp": F.max("tp"),
        "cnt": F.count(F.lit(1)),
        "vi_sum": F.try_sum("val_int"),
        "n_int": F.count("val_int"),
        "num_sum": F.sum(num),
        # non-finite classes live only in val_dbl (ints can't hold
        # them), shared by the sum and mean composers
        "n_nan": F.count(F.when(F.isnan(dbl), 1)),
        "n_pinf": F.count(F.when(dbl == F.lit(float("inf")), 1)),
        "n_ninf": F.count(F.when(dbl == F.lit(float("-inf")), 1)),
        **stable,
        "vi_min": F.min("val_int"),
        "vi_max": F.max("val_int"),
        "vd_min": F.min("val_dbl"),
        "vd_max": F.max("val_dbl"),
        "f": F.min_by(point, order),
        "l": F.max_by(point, order),
    }
    # the per-partial overflow flag replaces the int count it needs
    oflow = F.when(F.col("vi_sum").isNull() & (F.col("n_int") > 0), 1) \
        .otherwise(0).alias("vi_oflow")
    out = [*cols("series", "rbucket", *(k for k in aggs if k != "n_int")),
           oflow]
    keys = [*cols("series"), bucket_of("ts", bucket).alias("rbucket")]
    return keys, [v.alias(k) for k, v in aggs.items()], out


def point_partials(df: DataFrame, bucket: int) -> DataFrame:
    """Each point as the ``ROLLUP_PARTIAL_COLS`` row that
    :func:`rollup_partials` would give a group holding only that
    point — a projection, no aggregation. The compose aggregates are
    associative, so a select unions these rows with the stored
    partials and aggregates ONCE (:func:`compose_bucket_agg`) however
    its data splits into valid shards, stale shards and cut edge
    buckets. An int sum overflows only where the points path's does:
    no per-partial int64 sum is taken."""
    return df.select(*point_partials_cols(bucket))


@memoized
def point_partials_cols(bucket: int) -> list:
    """The projection of :func:`point_partials`, in
    ``ROLLUP_PARTIAL_COLS`` order and with the types of the stored
    partials. ``PointsStore.build_rollup`` builds it with the rollup
    (~1,300 py4j round trips, once per process and bucket), so the
    first select that reads stale shards does not."""
    def one_if(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0).cast("long")

    num = _num()
    dbl = F.col("val_dbl")
    vi = F.col("val_int")
    point = F.struct("ts", "seq", "val_int", "val_dbl", "val_str")

    def stable(x: Column, p: str) -> dict:
        # _stable_sum_partials of a single term
        return {
            f"{p}_cnt": one_if(x.isNotNull()),
            f"{p}_fin": one_if(_dsum_small(x)),
            f"{p}_huge": one_if(_dsum_huge(x)),
            f"{p}_dsum": F.when(_dsum_small(x), x)
            .cast("decimal(38,18)"),
            f"{p}_psum": x,
        }

    out = {
        "series": F.col("series"),
        "rbucket": bucket_of("ts", bucket),
        "tp": F.col("tp"),
        "cnt": F.lit(1).cast("long"),
        "vi_sum": vi,
        "vi_oflow": F.lit(0),
        "num_sum": num,
        "n_nan": one_if(F.isnan(dbl)),
        "n_pinf": one_if(dbl == F.lit(float("inf"))),
        "n_ninf": one_if(dbl == F.lit(float("-inf"))),
        **stable(dbl, "vd"),
        **stable(num, "nm"),
        "vi_min": vi,
        "vi_max": vi,
        "vd_min": dbl,
        "vd_max": dbl,
        "f": point,
        "l": point,
    }
    assert list(out) == ROLLUP_PARTIAL_COLS
    return [v.alias(k) for k, v in out.items()]


def compose_bucket_agg(partials: DataFrame, name: str, group_by: int,
                       types: TypeSet) -> StageResult:
    """Fold rollup partials up to the query bucket. Exactness per
    aggregate (enforced by the engine's serving conditions):
    count/min/max are order-free; int sums fold exactly in int64
    (with the overflow flag); double sums and means fold the
    :func:`_stable_sum_partials` decimal statistics through the SAME
    CASE as the points path's :func:`stable_double_sum` — exact and
    associative, hence bit-identical to a live point read for every
    finite selection below the 1e18 huge threshold (the documented
    fallback class is order-dependent on both paths)."""
    assert name in ROLLUP_FNS, name
    _check_agg_types(name, types)
    out = partials.groupBy(*_bucket_keys("rbucket", group_by)) \
        .agg(*_compose_out(name))
    return StageResult(out, types.after(name),
                       _overflow_checks(out, name, types))


@memoized
def _compose_out(name: str) -> list:
    """The aggregate list of :func:`compose_bucket_agg`, in the
    canonical layout after its (series, ts) keys."""
    n_nan = F.sum("n_nan")
    n_pinf = F.sum("n_pinf")
    n_ninf = F.sum("n_ninf")
    vi = vd = None
    if name == "count":
        vi = F.sum("cnt").cast("long")
    elif name == "sum":
        vi = F.when(F.max("vi_oflow") == 1,
                    F.lit(None).cast("long")) \
            .otherwise(F.try_sum("vi_sum"))
        vd = _compose_stable_sum("vd", n_nan, n_pinf, n_ninf)
    elif name == "mean":
        vd = _compose_stable_sum("nm", n_nan, n_pinf, n_ninf) \
            / F.sum("nm_cnt")
    elif name == "min":
        vi, vd = F.min("vi_min"), F.min("vd_min")
    elif name == "max":
        vi, vd = F.max("vi_max"), F.max("vd_max")
    vs = None
    if name in ("first", "last"):
        # argmin/argmax over partial winners = the bucket's true
        # first/last (type-kept, (ts, seq) insert-order ties)
        col = "f" if name == "first" else "l"
        pick = F.min_by if name == "first" else F.max_by
        win = pick(F.col(col),
                   F.struct(f"{col}.ts", f"{col}.seq"))
        vi = win.getField("val_int")
        vd = win.getField("val_dbl")
        vs = win.getField("val_str")
    return _value_cols(vi, vd, vs, _tp_expr(name))
