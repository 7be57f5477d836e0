"""Time-series analytics entries over the events points:
as-of/range joins, smoothing, forecasting, DTW, anomalies."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from siridb_server_spark.functions.stable import STABLE_DSUM_SQL
from siridb_server_spark.localdf import arrow_df, fan_out_keyed
from siridb_server_spark.operators import asof as AS
from siridb_server_spark.operators import timeseries as TSO
from siridb_server_spark.sources.testdata import (
    epoch_ns, events_points, EVENTS_PTS_SQL, load, table_bytes)

from registry import Family
from registry._common import _QTERM, P

R = Family("ts")


# DTW: property oracle — a recursive DP has no SQL mirror; the
# DP itself is pinned exactly in pytest against a reference
# implementation (test_dtw_topk_matches_reference_dp)
@R.entry("ts_dtw_topk", (
    "SELECT 'k_returned' AS prop, CAST(10 AS BIGINT) AS n"
    " UNION ALL SELECT 'top1_is_query_at_zero', 1"
    " UNION ALL SELECT 'neg_cost_rows', 0"))
def ts_dtw_topk(spark, sf_dir):
    """Banded-DTW series similarity search
    (operators/timeseries.py dtw_topk): elastic alignment the
    correlation top-k can't express, as an exact int64 DP per
    series (values scaled ×1000) — row-local, linear in
    |series|, no pairwise join. Query = lexicographically first
    series; property contract: 10 rows, the query itself ranks
    first at cost 0, costs non-negative (the DP itself is
    pinned exactly by tests/test_timeseries.py against a
    reference implementation — a recursive DP has no SQL
    mirror)."""
    pts = events_points(spark, sf_dir)
    qname = pts.agg(F.min("series")).first()[0]
    pts = pts.select("series", "ts",
                     F.col("val_dbl").alias("val"))
    # collect ONCE (k bounded rows) — three lazy property aggs
    # over the un-persisted top-k would re-run the whole DP per
    # branch (TakeOrdered is not a reusable exchange)
    rows = TSO.dtw_topk(
        pts, qname, k=10,
        est_bytes=table_bytes(sf_dir, "events")).collect()
    props = [
        ("k_returned", len(rows)),
        ("top1_is_query_at_zero",
         int(bool(rows) and rows[0]["series"] == qname
             and rows[0]["dtw_cost"] == 0)),
        ("neg_cost_rows",
         sum(1 for r in rows if r["dtw_cost"] < 0)),
    ]
    return arrow_df(spark, props, "prop string, n long")


# SAX words: full SQL mirror — same ts-then-val ordering, the
# integer bucket/PAA/breakpoint arithmetic replayed verbatim
# (both engines truncate integer division toward zero)
@R.entry("ts_sax_words", (
    EVENTS_PTS_SQL + ","
    " r AS (SELECT series,"
    " CAST(floor(val * 1000.0) AS BIGINT) AS v,"
    " row_number() OVER (PARTITION BY series"
    " ORDER BY ts, val) AS rn FROM pts),"
    " tk AS (SELECT series, v, rn - 1 AS i FROM r"
    " WHERE rn <= 128),"
    " nn AS (SELECT series, count(*) AS n FROM tk GROUP BY 1),"
    " b AS (SELECT tk.series,"
    " (CAST(tk.i AS BIGINT) * 8) // nn.n AS j, tk.v, nn.n"
    " FROM tk JOIN nn USING (series)),"
    " paa AS (SELECT series, j,"
    " CAST(sum(v) AS BIGINT) // count(*) AS paa,"
    " max(n) AS n FROM b GROUP BY 1, 2),"
    " rng AS (SELECT series, min(paa) AS lo, max(paa) AS hi,"
    " max(n) AS n_points FROM paa GROUP BY 1),"
    " sym AS (SELECT p.series, p.j,"
    " LEAST(3, CAST((p.paa - g.lo) * 4 AS BIGINT)"
    " // (g.hi - g.lo + 1)) AS s, g.n_points"
    " FROM paa p JOIN rng g USING (series))"
    " SELECT series, CAST(max(n_points) AS BIGINT) AS n_points,"
    " string_agg(substr('0123', CAST(s AS INT) + 1, 1), ''"
    " ORDER BY j) AS word FROM sym GROUP BY 1"))
def ts_sax_words(spark, sf_dir):
    """SAX symbolic words per series (operators/timeseries.py
    sax_words — the iSAX-style index representation that
    prefilters candidates before the DTW DP): integer-exact
    equi-range variant, one groupBy per stage, the whole word
    table hashed cross-engine (PAA integer-div means, per-series
    min/max breakpoints, ordered symbol concatenation)."""
    pts = events_points(spark, sf_dir).select(
        "series", "ts", F.col("val_dbl").alias("val"))
    return TSO.sax_words(
        pts, est_bytes=table_bytes(sf_dir, "events"))


def _bench_dtw_prefilter(spark, sf_dir):
    # the gate body runs the gated AND the ungated DTW search to pin
    # their equality; the bench assembles the points once, untimed,
    # and times the gated search
    pts = events_points(spark, sf_dir).select(
        "series", "ts", F.col("val_dbl").alias("val"))
    dtw_q = pts.agg(F.min("series")).first()[0]
    return lambda s, d: TSO.dtw_topk(
        pts, dtw_q, k=10, prefilter=True,
        est_bytes=table_bytes(d, "events"))


# SAX-gated DTW: the gate is heuristic candidate generation
# with exact re-scoring, so the CONTRACT is equality with the
# unfiltered ranking (computed Spark-side on both paths and
# pinned here as the property)
@R.entry("ts_dtw_prefilter", (
    "SELECT 'k_returned' AS prop, CAST(10 AS BIGINT) AS n"
    " UNION ALL SELECT 'equal_to_unfiltered', 1"
    " UNION ALL SELECT 'top1_is_query_at_zero', 1"),
    bench=_bench_dtw_prefilter)
def ts_dtw_prefilter(spark, sf_dir):
    """SAX-gated EXACT DTW search (operators/timeseries.py
    dtw_topk prefilter=True): a SAX-agreement pool's k-th DP
    cost becomes threshold τ, non-pool series are pruned by the
    provable endpoint lower bound (cost ≥ |s₀−q₀|+|s_l−q_l|),
    survivors run the exact DP — equality with the unfiltered
    ranking is a theorem. This AUDIT entry runs the gated AND
    the unfiltered search and pins their equality (series,
    n_points, exact integer costs, in order) plus
    query-ranks-first-at-zero; the points frame is persisted
    across the two searches and released before returning
    (both otherwise rescan the raw corpus per driver
    action)."""
    pts = events_points(spark, sf_dir).select(
        "series", "ts",
        F.col("val_dbl").alias("val")).persist()
    try:
        qname = pts.agg(F.min("series")).first()[0]
        eb = table_bytes(sf_dir, "events")
        base = [(r["series"], r["n_points"], r["dtw_cost"])
                for r in TSO.dtw_topk(pts, qname, k=10,
                                      est_bytes=eb).collect()]
        gated = [(r["series"], r["n_points"], r["dtw_cost"])
                 for r in TSO.dtw_topk(pts, qname, k=10,
                                       prefilter=True,
                                       est_bytes=eb)
                 .collect()]
    finally:
        pts.unpersist()
    props = [
        ("k_returned", len(gated)),
        ("equal_to_unfiltered", int(gated == base)),
        ("top1_is_query_at_zero",
         int(bool(gated) and gated[0][0] == qname
             and gated[0][2] == 0)),
    ]
    return arrow_df(spark, props, "prop string, n long")


# batch DTW join: contract is per-query equality with the
# (itself exactness-proven) dtw_topk prefilter loop
@R.entry("ts_dtw_knn_join", (
    "SELECT 'n_queries_served' AS prop, CAST(3 AS BIGINT) AS n"
    " UNION ALL SELECT 'equal_to_per_query_loop', 1"
    " UNION ALL SELECT"
    " 'each_query_ranks_self_first_at_zero', 1"))
def ts_dtw_knn_join(spark, sf_dir):
    """Batch exact-DTW join (operators/timeseries.py
    dtw_knn_join): every query series' top-k corpus neighbors
    in one job — per-query SAX pools, one collected τ row per
    query, endpoint-LB pruning in pure Catalyst, ONE
    mapInPandas DP pass over pool ∪ survivors; both sides stay
    distributed. AUDIT contract: the join's answer for each of
    3 query series equals the per-query dtw_topk(prefilter)
    loop exactly (series, n_points, integer costs, in rank
    order) — the same equality-by-construction the batch ANN
    joins pin against their single-query paths."""
    pts = events_points(spark, sf_dir).select(
        "series", "ts",
        F.col("val_dbl").alias("val")).persist()
    try:
        qnames = [r["series"] for r in
                  pts.select("series").distinct()
                  .orderBy("series").limit(3).collect()]
        queries = pts.where(F.col("series").isin(qnames))
        got = {}
        for r in TSO.dtw_knn_join(
            pts, queries, k=5,
            est_bytes=table_bytes(sf_dir, "events"),
            q_est_bytes=table_bytes(sf_dir, "events")) \
                .collect():
            got.setdefault(r["qseries"], []).append(
                (r["rank"], r["series"], r["n_points"],
                 r["dtw_cost"]))
        equal = 1
        self_first = 1
        for qn in qnames:
            want = [(i + 1, r["series"], r["n_points"],
                     r["dtw_cost"]) for i, r in enumerate(
                TSO.dtw_topk(pts, qn, k=5, prefilter=True,
                             est_bytes=table_bytes(
                                 sf_dir, "events"))
                .collect())]
            g = sorted(got.get(qn, []))
            if g != want:
                equal = 0
            if not (g and g[0][1] == qn and g[0][3] == 0):
                self_first = 0
    finally:
        pts.unpersist()
    props = [
        ("n_queries_served", len(got)),
        ("equal_to_per_query_loop", equal),
        ("each_query_ranks_self_first_at_zero", self_first),
    ]
    return arrow_df(spark, props, "prop string, n long")


# as-of join: DuckDB's native ASOF LEFT JOIN is the oracle for
# the union+carry-forward window implementation
@R.entry("ts_asof_join", (
    "WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts,"
    " event_type, value FROM events),"
    " l AS (SELECT event_id, user_id, ts, value FROM e"
    " WHERE event_type = 'purchase'),"
    " r0 AS (SELECT user_id, ts, value, row_number() OVER"
    " (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn"
    " FROM e WHERE event_type = 'error'),"
    " r AS (SELECT user_id, ts, value AS err_value FROM r0"
    " WHERE rn = 1)"
    " SELECT l.user_id, l.event_id, l.ts,"
    " round(l.value, 6) + 0.0 AS value,"
    " round(r.err_value, 6) + 0.0 AS err_value,"
    " r.ts AS ts_right"
    " FROM l ASOF JOIN r"
    " ON l.user_id = r.user_id AND l.ts >= r.ts"))
def ts_asof_join(spark, sf_dir):
    """Every purchase event joined to the most recent error event
    of the same user at-or-before it (left semantics)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type", epoch_ns(ev).alias("ts"), "value")
    left = (base.where(F.col("event_type") == "purchase")
            .drop("event_type"))
    # dedup right per (user, ts): keep the max-event_id row so the
    # carry-forward (and the oracle) pick deterministically
    right = (base.where(F.col("event_type") == "error")
             .groupBy("user_id", "ts")
             .agg(F.max(F.struct("event_id", "value")).alias("m"))
             .select("user_id", "ts",
                     F.col("m.value").alias("err_value")))
    res = AS.asof_join(left, right, on="ts", by="user_id",
                       right_cols=["err_value"])
    # matched rows only (ASOF JOIN inner semantics) — the driver
    # compare stays null-free; left semantics are unit-tested
    return res.where(F.col("err_value").isNotNull()).select(
        "user_id", "event_id", "ts",
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
        (F.round("err_value", 6) + F.lit(0.0)).alias("err_value"),
        "ts_right")


def _pts_dedup(spark, sf_dir):
    """events points, one row per (series, ts): last-writer-wins
    by seq so window ordering is deterministic on both engines.

    Implemented as a window dedup partitioned by SERIES ONLY
    (sort (ts asc, seq desc, val desc); keep each ts-run's first
    row ≡ the old groupBy(series, ts) max(struct(seq, val))) so
    every downstream consumer — all partitioned or grouped by
    series or (series, bucket) — satisfies its distribution from
    THIS exchange: HashPartitioning(series) ⊆ any grouping that
    contains series, and the (ts, seq desc) sort prefix covers
    the ts-ordered windows. One shuffle total instead of the old
    dedup-shuffle + operator-shuffle (guide §2.4); values are
    identical row for row.

    The fan-out must sit HERE, below the dedup window: a keyed
    repartition placed between this window and a downstream one
    is provably redundant (the child is already
    hash-partitioned on series) and the optimizer removes it,
    leaving only the window's own ENSURE_REQUIREMENTS exchange,
    which AQE coalesces by PRE-expansion bytes — serializing
    every row-expanding consumer (resample's grid explode ran
    2-threaded). Below the window the repartition IS the
    chain's one exchange (REPARTITION_BY_NUM — AQE never
    coalesces a user-numbered repartition), so all 15 series-
    keyed consumers inherit core-count parallelism. Gated on
    the source's on-disk size (free os.stat — the optimizer-
    stats fallback costs ~0.1 s per call): no-op at realistic
    scale."""
    pts = fan_out_keyed(
        events_points(spark, sf_dir), "series",
        est_bytes=table_bytes(sf_dir, "events"))
    w = Window.partitionBy("series").orderBy(
        F.col("ts").asc(), F.col("seq").desc(),
        F.col("val_dbl").desc())
    return (pts
            .withColumn("_prev_ts", F.lag("ts").over(w))
            .where(F.col("_prev_ts").isNull()
                   | (F.col("_prev_ts") != F.col("ts")))
            .select("series", "ts",
                    F.col("val_dbl").alias("val")))


# (series, ts)-deduped points shared by the timeseries oracles:
# last-writer-wins by seq, mirroring _pts_dedup
_PD = (
    P + ", pd0 AS (SELECT series, ts, val, row_number() OVER"
    " (PARTITION BY series, ts ORDER BY seq DESC) AS rn FROM pts),"
    " pd AS (SELECT series, ts, val FROM pd0 WHERE rn = 1)"
)

# grid resample + linear interpolation, step = 1h in ns; grid
# arithmetic stays in BIGINT (ts - ts % step), never double
R.add("ts_resample_interp",
      lambda spark, sf_dir:
          TSO.resample_interpolate(_pts_dedup(spark, sf_dir),
                                   est_bytes=table_bytes(
                                       sf_dir, "events"),
                                   step=3_600_000_000_000),
      _PD + ", p AS (SELECT series, ts, val AS v0,"
      " lead(ts) OVER w AS t1, lead(val) OVER w AS v1,"
      " row_number() OVER w AS rn FROM pd"
      " WINDOW w AS (PARTITION BY series ORDER BY ts)),"
      " g AS (SELECT series, ts, v0, t1, v1,"
      " unnest(generate_series(ts - ts % 3600000000000"
      " + 3600000000000, t1 - t1 % 3600000000000,"
      " 3600000000000)) AS gts FROM p WHERE t1 IS NOT NULL"
      " UNION ALL SELECT series, ts, v0, t1, v1, ts FROM p"
      " WHERE rn = 1 AND ts % 3600000000000 = 0)"
      " SELECT series, gts AS ts, round(CASE WHEN gts = ts THEN v0"
      " ELSE v0 + (v1 - v0) * (gts - ts) / (t1 - ts) END, 6) + 0.0"
      " AS val FROM g")


# seasonal-naive backtest: identical lag windows + the exact
# scaled-long floor(|err|*1000 + 0.5) terms, summed per series
@R.entry("ts_backtest_seasonal", (
    _PD + ", t AS (SELECT series, ts, val,"
    " row_number() OVER (PARTITION BY series ORDER BY ts DESC)"
    " AS rev,"
    " lag(val, 24) OVER (PARTITION BY series ORDER BY ts)"
    " AS slag,"
    " lag(val, 1) OVER (PARTITION BY series ORDER BY ts)"
    " AS nlag FROM pd)"
    " SELECT series,"
    " CAST(sum(CASE WHEN slag IS NOT NULL AND nlag IS NOT NULL"
    " THEN 1 ELSE 0 END) AS BIGINT) AS n_test,"
    " CAST(sum(CASE WHEN slag IS NULL OR nlag IS NULL"
    " THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,"
    " CAST(sum(CASE WHEN slag IS NOT NULL AND nlag IS NOT NULL"
    " THEN CAST(floor(abs(val - slag) * 1000 + 0.5) AS BIGINT)"
    " ELSE 0 END) AS BIGINT) AS sae_seasonal,"
    " CAST(sum(CASE WHEN slag IS NOT NULL AND nlag IS NOT NULL"
    " THEN CAST(floor(abs(val - nlag) * 1000 + 0.5) AS BIGINT)"
    " ELSE 0 END) AS BIGINT) AS sae_naive"
    " FROM t WHERE rev <= 8 GROUP BY 1"))
def ts_backtest_seasonal(spark, sf_dir):
    """Seasonal-naive forecast backtest (operators/
    timeseries.py seasonal_backtest): hold out each series'
    last 8 points, forecast each with the actual 24 points
    earlier (row-indexed seasonal naive), score against
    naive-1 — sae_seasonal/sae_naive is the MASE-style
    is-the-seasonality-real gate a forecasting pipeline runs
    before fitting any model. Integer contract: scaled-long
    absolute-error sums, floor(|err|·1000 + 0.5); full SQL
    replay of the same lag windows over the deduped points."""
    return TSO.seasonal_backtest(_pts_dedup(spark, sf_dir),
                                 season=24, horizon=8)


# STL-lite decomposition: every mean is an exact DECIMAL(38,18)
# sum / count; trend from a centered 5-bucket window, seasonal
# from the per-(series, hour-of-day) partition, all IEEE-exact
# before the micro quantization
_H_NS = 3_600_000_000_000


@R.entry("ts_decompose", (
    _PD + ", b AS (SELECT series,"
    f" ts - ts % {_H_NS} AS hb,"
    " CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE)"
    " / count(*) AS vh FROM pd GROUP BY 1, 2),"
    " t AS (SELECT series, hb, vh,"
    " CAST(sum(CAST(vh AS DECIMAL(38,18))) OVER w AS DOUBLE)"
    " AS ts5, count(*) OVER w AS n5 FROM b"
    " WINDOW w AS (PARTITION BY series ORDER BY hb"
    " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),"
    " f AS (SELECT series, hb, vh, ts5 / 5.0 AS trend,"
    " vh - ts5 / 5.0 AS det,"
    f" (hb // {_H_NS}) % 24 AS phase"
    " FROM t WHERE n5 = 5),"
    " g AS (SELECT series, hb, trend, det,"
    " CAST(sum(CAST(det AS DECIMAL(38,18))) OVER p AS DOUBLE)"
    " / count(*) OVER p AS seasonal FROM f"
    " WINDOW p AS (PARTITION BY series, phase))"
    " SELECT series, hb,"
    f" {_QTERM('trend')} AS trend_micro,"
    f" {_QTERM('seasonal')} AS seasonal_micro,"
    f" {_QTERM('det - seasonal')} AS resid_micro FROM g"))
def ts_decompose(spark, sf_dir):
    """Classical seasonal decomposition (STL-lite): hourly
    bucket means → centered 5-bucket moving-average TREND →
    per-(series, hour-of-day) mean of the detrended values as
    the SEASONAL component → REMAINDER. Every mean is an exact
    DECIMAL(38,18) sum divided by a count (associative,
    partition-order-free on both engines) and every derived
    value is built from IEEE-exact ops only, then
    micro-quantized at birth — the contract policy applied to a
    three-layer windowed pipeline. Shape: one bucket groupBy,
    one per-series ordered window, one per-(series, phase)
    window — all key-partitioned, nothing global."""
    from siridb_server_spark.functions.stable import scaled_term
    H = 3_600_000_000_000
    pts = _pts_dedup(spark, sf_dir)
    dec = lambda c: F.sum(c.cast("decimal(38,18)")) \
        .cast("double")
    b = (pts.groupBy("series",
                     ((F.col("ts") - F.col("ts") % H))
                     .alias("hb"))
         .agg((dec(F.col("val")) / F.count(F.lit(1)))
              .alias("vh")))
    decw = lambda c, w: F.sum(c.cast("decimal(38,18)")) \
        .over(w).cast("double")
    w5 = (Window.partitionBy("series").orderBy("hb")
          .rowsBetween(-2, 2))
    t = (b.withColumn("ts5", decw(F.col("vh"), w5))
         .withColumn("n5", F.count(F.lit(1)).over(w5))
         .where(F.col("n5") == 5)
         .withColumn("trend", F.col("ts5") / F.lit(5.0))
         .withColumn("det", F.col("vh") - F.col("trend"))
         .withColumn("phase", (F.col("hb") / F.lit(H))
                     .cast("long") % 24))
    wp = Window.partitionBy("series", "phase")
    seas = (decw(F.col("det"), wp)
            / F.count(F.lit(1)).over(wp))
    return (t.withColumn("seasonal", seas)
            .select("series", "hb",
                    scaled_term(F.col("trend")).alias("trend_micro"),
                    scaled_term(F.col("seasonal"))
                    .alias("seasonal_micro"),
                    scaled_term(F.col("det") - F.col("seasonal"))
                    .alias("resid_micro")))


# inactivity-gap sessionization over raw events per user, 1h gap
@R.entry("ts_sessionize", (
    "WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts"
    " FROM events),"
    " s AS (SELECT event_id, user_id, ts, CASE WHEN"
    " lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w"
    " > 3600000000000 THEN 1 ELSE 0 END AS ns FROM e"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))"
    " SELECT event_id, user_id, ts, CAST(sum(ns) OVER"
    " (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS BIGINT) AS session_id FROM s"))
def ts_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        epoch_ns(ev).alias("ts"))
    return TSO.sessionize(base, gap=3_600_000_000_000,
                          seq_col="event_id")


# reset-aware counter rate per second (scale = 1e9 on ns)
R.add("ts_counter_rate",
      lambda spark, sf_dir:
          TSO.counter_rate(_pts_dedup(spark, sf_dir),
                           scale=1_000_000_000),
      _PD + ", r AS (SELECT series, ts,"
      " CASE WHEN val >= lag(val) OVER w THEN val - lag(val) OVER w"
      " ELSE val END * 1000000000 / (ts - lag(ts) OVER w) AS rate"
      " FROM pd WINDOW w AS (PARTITION BY series ORDER BY ts))"
      " SELECT series, ts, round(rate, 6) + 0.0 AS rate FROM r"
      " WHERE rate IS NOT NULL")

# trailing z-score anomalies, exclusive 20-point frame, |z| > 2.5
R.add("ts_zscore_anomalies",
      lambda spark, sf_dir:
          TSO.zscore_anomalies(_pts_dedup(spark, sf_dir),
                               window=20, threshold=2.5),
      _PD + ", r AS (SELECT series, ts, val,"
      " avg(val) OVER w AS mu, stddev_samp(val) OVER w AS sd,"
      " count(val) OVER w AS n FROM pd"
      " WINDOW w AS (PARTITION BY series ORDER BY ts"
      " ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))"
      " SELECT series, ts, val,"
      " round((val - mu) / sd, 6) + 0.0 AS z FROM r"
      " WHERE n >= 3 AND sd > 0 AND abs((val - mu) / sd) > 2.5")


# EWMA final level per series: DuckDB's list_reduce replays the
# exact (1-a)*acc + a*x left fold over the time-ordered values
@R.entry("ts_ewma", (
    _PD + ", l AS (SELECT series, count(*) AS n_points,"
    " list_reduce(CAST(list(val ORDER BY ts) AS DOUBLE[]),"
    " (acc, x) -> 0.75 * acc + 0.25 * x) AS e"
    " FROM pd GROUP BY series)"
    " SELECT series, n_points,"
    " round(e, 6) + 0.0 AS ewma_last FROM l"))
def ts_ewma(spark, sf_dir):
    """EWMA smoothing; the entry projects each series' final
    smoothed level (the full trajectory is pinned point-by-point
    in pytest) — a left fold DuckDB replays via list_reduce."""
    e = TSO.ewma(_pts_dedup(spark, sf_dir), alpha=0.25)
    return (e.groupBy("series")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.max_by("ewma", "ts").alias("_last"))
            .select("series", "n_points",
                    (F.round("_last", 6) + F.lit(0.0))
                    .alias("ewma_last")))


@R.entry("ts_seasonal_profile", (
    "WITH pts AS (SELECT event_type AS series, epoch_ns(ts)"
    " AS ts, value AS val FROM events),"
    " a AS (SELECT series, (ts // 3600000000000) % 24 AS phase,"
    " count(*) AS n, sum(val) AS sx, sum(val * val) AS sxx"
    " FROM pts GROUP BY 1, 2)"
    " SELECT series, phase, n,"
    " round(sx / n, 6) + 0.0 AS avg_val,"
    " round(sqrt(greatest(0.0, sxx - sx * sx / n)"
    " / nullif(n - 1, 0)), 6) + 0.0 AS std_val FROM a"))
def ts_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonal baseline per event-type series."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("series"),
                    epoch_ns(ev).alias("ts"),
                    F.col("value").alias("val"))
    return TSO.seasonal_profile(
        pts, period_ns=3_600_000_000_000, n_buckets=24)


@R.entry("ts_latency_quantiles", (
    "SELECT event_type AS series, count(*) AS n,"
    " round(quantile_cont(value, 0.5), 6) + 0.0 AS p50,"
    " round(quantile_cont(value, 0.9), 6) + 0.0 AS p90,"
    " round(quantile_cont(value, 0.99), 6) + 0.0 AS p99"
    " FROM events GROUP BY 1"))
def ts_latency_quantiles(spark, sf_dir):
    """p50/p90/p99 per event-type series — the SLO rollup. One
    partial-aggregated groupBy; exact interpolated percentiles
    (Spark percentile = DuckDB quantile_cont; at 100 TB swap in
    approx_percentile/t-digest, same plan shape)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("series"),
                    F.col("value").alias("val"))
    g = pts.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("val", F.lit(0.5)).alias("_p50"),
        F.percentile("val", F.lit(0.9)).alias("_p90"),
        F.percentile("val", F.lit(0.99)).alias("_p99"))
    return g.select(
        "series", "n",
        (F.round("_p50", 6) + F.lit(0.0)).alias("p50"),
        (F.round("_p90", 6) + F.lit(0.0)).alias("p90"),
        (F.round("_p99", 6) + F.lit(0.0)).alias("p99"))


@R.entry("ts_seasonal_anomalies", (
    "WITH pts AS (SELECT event_type AS series, epoch_ns(ts)"
    " AS ts, value AS val FROM events),"
    " a AS (SELECT series, (ts // 3600000000000) % 24 AS phase,"
    " count(*) AS n, sum(val) AS sx, sum(val * val) AS sxx"
    " FROM pts GROUP BY 1, 2),"
    " prof AS (SELECT series, phase, n,"
    " round(sx / n, 6) + 0.0 AS avg_val,"
    " round(sqrt(greatest(0.0, sxx - sx * sx / n)"
    " / nullif(n - 1, 0)), 6) + 0.0 AS std_val FROM a),"
    " j AS (SELECT p.series, p.ts, p.val,"
    " (p.ts // 3600000000000) % 24 AS phase,"
    " (p.val - f.avg_val) / f.std_val AS z"
    " FROM pts p JOIN prof f ON p.series = f.series"
    " AND (p.ts // 3600000000000) % 24 = f.phase"
    " WHERE f.n >= 3 AND f.std_val > 0)"
    " SELECT series, ts, val, phase, round(z, 6) + 0.0 AS z"
    " FROM j WHERE abs(z) > 2.5"))
def ts_seasonal_anomalies(spark, sf_dir):
    """Points abnormal FOR THEIR HOUR-OF-DAY (seasonal z-score
    vs the broadcast per-phase baseline)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("series"),
                    epoch_ns(ev).alias("ts"),
                    F.col("value").alias("val"))
    return TSO.seasonal_anomalies(
        pts, period_ns=3_600_000_000_000, n_buckets=24,
        threshold=2.5)


@R.entry("ts_corr_topk", (
    "WITH pts AS (SELECT event_type AS series, epoch_ns(ts)"
    " AS ts, value AS val FROM events)"
    ", bm AS (SELECT series, ts // 3600000000000 AS b,"
    " avg(val) AS v FROM pts GROUP BY 1, 2),"
    " ref AS (SELECT series FROM pts GROUP BY series"
    " ORDER BY count(*) DESC, series LIMIT 1),"
    " refb AS (SELECT b, v AS qv FROM bm"
    " WHERE series IN (SELECT series FROM ref)),"
    " j AS (SELECT bm.series, bm.v, refb.qv FROM bm"
    " JOIN refb USING (b)"
    " WHERE NOT EXISTS (SELECT 1 FROM ref"
    " WHERE ref.series = bm.series)),"
    " a AS (SELECT series, count(*) AS n_buckets,"
    " sum(v * qv) AS sxy, sum(v) AS sx, sum(qv) AS sy,"
    " sum(v * v) AS sxx, sum(qv * qv) AS syy FROM j GROUP BY 1),"
    " c AS (SELECT series, n_buckets,"
    " (n_buckets * sxy - sx * sy) / nullif(sqrt("
    " greatest(0.0, n_buckets * sxx - sx * sx)"
    " * greatest(0.0, n_buckets * syy - sy * sy)), 0) AS c"
    " FROM a)"
    " SELECT series, n_buckets, round(c, 6) + 0.0 AS corr"
    " FROM c WHERE n_buckets >= 3 AND c IS NOT NULL"
    " AND NOT isnan(c)"
    " ORDER BY corr DESC, series LIMIT 10"))
def ts_corr_topk(spark, sf_dir):
    """Top-10 series most correlated with the busiest series
    (hourly bucket means, Pearson over co-present buckets).
    Per-event-type series — dense enough for shared buckets."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("series"),
                    epoch_ns(ev).alias("ts"),
                    F.col("value").alias("val"))
    return TSO.correlated_series(
        pts, group_ns=3_600_000_000_000, k=10)


@R.entry("ts_range_join", (
    "WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts"
    " FROM events),"
    " s AS (SELECT event_id, user_id, ts, CASE WHEN"
    " lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w"
    " > 3600000000000 THEN 1 ELSE 0 END AS ns FROM e"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
    " sess AS (SELECT user_id, ts, CAST(sum(ns) OVER"
    " (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS BIGINT) AS session_id FROM s),"
    " ivl AS (SELECT user_id, session_id, min(ts) AS lo,"
    " max(ts) AS hi FROM sess GROUP BY 1, 2),"
    " top AS (SELECT * FROM ivl ORDER BY hi - lo DESC,"
    " user_id, session_id LIMIT 100)"
    " SELECT t.user_id, t.session_id, t.lo, t.hi,"
    " count(*) AS n_events FROM top t"
    " JOIN e ON e.ts >= t.lo AND e.ts <= t.hi"
    " GROUP BY 1, 2, 3, 4"))
def ts_range_join(spark, sf_dir):
    """Bucketed point-in-interval join: the 100 longest user
    sessions become intervals; count ALL events inside each
    window ("total system activity during this session"). The
    theta-join collapses to an equi-join on 1 h buckets — see
    timeseries.point_in_interval_join."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        epoch_ns(ev).alias("ts"))
    sess = TSO.sessionize(base, gap=3_600_000_000_000,
                          seq_col="event_id")
    ivl = (sess.groupBy(F.col("user_id").alias("s_user"),
                        "session_id")
           .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")))
    top = (ivl.orderBy(F.desc(F.col("hi") - F.col("lo")),
                       "s_user", "session_id").limit(100))
    joined = TSO.point_in_interval_join(
        base.select("ts"), top, width=3_600_000_000_000)
    return (joined.groupBy("s_user", "session_id", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("s_user").alias("user_id"),
                    "session_id", "lo", "hi", "n_events"))


# trailing 5-point moving average over the deduped points
R.add("ts_moving_avg",
      lambda spark, sf_dir: TSO.moving_avg(
          _pts_dedup(spark, sf_dir), window=5),
      _PD + " SELECT series, ts, round(avg(val) OVER"
      " (PARTITION BY series ORDER BY ts"
      " ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) + 0.0"
      " AS avg FROM pd")

# trailing 7-point rolling median (interpolated, like Spark's
# percentile) — the robust despiking twin of the moving average
R.add("ts_rolling_median",
      lambda spark, sf_dir:
          TSO.rolling_median(_pts_dedup(spark, sf_dir), window=7),
      _PD + " SELECT series, ts,"
      " round(quantile_cont(val, 0.5) OVER"
      " (PARTITION BY series ORDER BY ts"
      " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) + 0.0"
      " AS median FROM pd")


# Holt level+trend: a recursive CTE replays the exact fold — the
# 0.25/0.75 and 0.125/0.875 literals are exactly-complemented
# doubles, so both engines run identical IEEE sequences
@R.entry("ts_holt_forecast", (
    _PD.replace("WITH ", "WITH RECURSIVE ", 1)
    + ", p AS (SELECT series, ts, val, row_number() OVER"
    " (PARTITION BY series ORDER BY ts) AS rn FROM pd),"
    " nn AS (SELECT series, max(rn) AS n FROM p GROUP BY 1),"
    " it(series, i, l, b) AS ("
    " SELECT p1.series, 2, CAST(p2.val AS DOUBLE),"
    " CAST(p2.val - p1.val AS DOUBLE)"
    " FROM p p1 JOIN p p2 ON p1.series = p2.series"
    " AND p1.rn = 1 AND p2.rn = 2"
    " UNION ALL"
    " SELECT it.series, it.i + 1,"
    " 0.25 * p.val + 0.75 * (it.l + it.b),"
    " 0.125 * ((0.25 * p.val + 0.75 * (it.l + it.b)) - it.l)"
    " + 0.875 * it.b"
    " FROM it JOIN p ON p.series = it.series"
    " AND p.rn = it.i + 1)"
    " SELECT it.series, CAST(nn.n AS BIGINT) AS n_points,"
    " round(l, 6) + 0.0 AS level,"
    " round(b, 6) + 0.0 AS trend,"
    " round(l + 5 * b, 6) + 0.0 AS forecast_5"
    " FROM it JOIN nn ON nn.series = it.series AND it.i = nn.n"))
def ts_holt_forecast(spark, sf_dir):
    """Final Holt (level, trend) per series with ≥2 points and
    the 5-step-ahead linear forecast off that state."""
    h = TSO.holt_linear(_pts_dedup(spark, sf_dir))
    last = (h.groupBy("series")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.max_by(F.struct("level", "trend"), "ts")
                 .alias("m"))
            .where(F.col("n_points") >= 2))
    return last.select(
        "series", "n_points",
        (F.round(F.col("m.level"), 6) + F.lit(0.0))
        .alias("level"),
        (F.round(F.col("m.trend"), 6) + F.lit(0.0))
        .alias("trend"),
        (F.round(F.col("m.level") + F.lit(5) * F.col("m.trend"),
                 6) + F.lit(0.0)).alias("forecast_5"))


# per-series winsorization: clip into the interpolated
# [p05, p95] band (quantile_cont ≡ Spark percentile)
R.add("ts_winsorize",
      lambda spark, sf_dir:
          TSO.winsorize(_pts_dedup(spark, sf_dir), lo=0.05, hi=0.95),
      _PD + ", q AS (SELECT series,"
      " quantile_cont(val, 0.05) AS qlo,"
      " quantile_cont(val, 0.95) AS qhi FROM pd GROUP BY 1)"
      " SELECT series, ts, val,"
      " round(least(greatest(val, qlo), qhi), 6) + 0.0 AS clipped"
      " FROM pd JOIN q USING (series)")

# median/MAD robust location+scale per series
R.add("ts_mad",
      lambda spark, sf_dir: TSO.robust_scale(_pts_dedup(spark, sf_dir)),
      _PD + ", m AS (SELECT series,"
      " quantile_cont(val, 0.5) AS med,"
      " count(*) AS n_points FROM pd GROUP BY 1),"
      " d AS (SELECT pd.series, m.med, m.n_points,"
      " abs(pd.val - m.med) AS dv FROM pd JOIN m USING (series))"
      " SELECT series, n_points, round(med, 6) + 0.0 AS med,"
      " round(quantile_cont(dv, 0.5), 6) + 0.0 AS mad"
      " FROM d GROUP BY series, n_points, med")

# per-series OLS trend: five sums, time re-based per series
# before squaring; NULL slope on zero time-variance
# sample autocorrelation at lags 1-3: mean/deviation/lag windows
# replayed identically; zero-variance series -> NULL
R.add("ts_acf",
      lambda spark, sf_dir: TSO.acf(_pts_dedup(spark, sf_dir), lags=(1, 2, 3)),
      _PD + ", d AS (SELECT series, ts,"
      " val - avg(val) OVER (PARTITION BY series) AS dv FROM pd),"
      " l AS (SELECT series, dv,"
      " dv * lag(dv, 1) OVER (PARTITION BY series ORDER BY ts)"
      " AS p1,"
      " dv * lag(dv, 2) OVER (PARTITION BY series ORDER BY ts)"
      " AS p2,"
      " dv * lag(dv, 3) OVER (PARTITION BY series ORDER BY ts)"
      " AS p3 FROM d)"
      " SELECT series, count(*) AS n_points,"
      " round(sum(p1) / nullif(sum(dv * dv), 0), 6) + 0.0 AS acf_1,"
      " round(sum(p2) / nullif(sum(dv * dv), 0), 6) + 0.0 AS acf_2,"
      " round(sum(p3) / nullif(sum(dv * dv), 0), 6) + 0.0 AS acf_3"
      " FROM l GROUP BY 1")

R.add("ts_linear_trend",
      lambda spark, sf_dir: TSO.linear_trend(_pts_dedup(spark, sf_dir)),
      _PD + ", b AS (SELECT series,"
      " (ts - min(ts) OVER (PARTITION BY series)) / 1e9 AS x,"
      " val AS y FROM pd),"
      " a AS (SELECT series, count(*) AS n_points,"
      " sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,"
      " sum(x * x) AS sxx, sum(y * y) AS syy FROM b GROUP BY 1)"
      " SELECT series, n_points,"
      " round((sxy - sx * sy / n_points)"
      " / nullif(sxx - sx * sx / n_points, 0), 6) + 0.0"
      " AS slope_per_s,"
      " round((sy - ((sxy - sx * sy / n_points)"
      " / nullif(sxx - sx * sx / n_points, 0)) * sx)"
      " / n_points, 6) + 0.0 AS intercept,"
      " round((sxy - sx * sy / n_points)"
      " * (sxy - sx * sy / n_points)"
      " / nullif((sxx - sx * sx / n_points)"
      " * (syy - sy * sy / n_points), 0), 6) + 0.0 AS r2"
      " FROM a")

# level-shift detection: two ROWS frames, full windows required
R.add("ts_level_shifts",
      lambda spark, sf_dir:
          TSO.level_shifts(_pts_dedup(spark, sf_dir),
                           window=10, threshold=2.0),
      _PD + ", f AS (SELECT series, ts,"
      " count(val) OVER pre AS np, count(val) OVER post AS nq,"
      " avg(val) OVER pre AS pre_mean,"
      " stddev_samp(val) OVER pre AS pre_std,"
      " avg(val) OVER post AS post_mean FROM pd"
      " WINDOW pre AS (PARTITION BY series ORDER BY ts"
      " ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),"
      " post AS (PARTITION BY series ORDER BY ts"
      " ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)),"
      " g AS (SELECT series, ts, pre_mean, post_mean,"
      " (post_mean - pre_mean) / nullif(pre_std, 0) AS z"
      " FROM f WHERE np = 10 AND nq = 10 AND pre_std > 0)"
      " SELECT series, ts, round(pre_mean, 6) + 0.0 AS pre_mean,"
      " round(post_mean, 6) + 0.0 AS post_mean,"
      " round(z, 6) + 0.0 AS shift_z FROM g WHERE abs(z) > 2.0")

# per-series 10-bin value histogram over each series' own range
R.add("ts_value_hist",
      lambda spark, sf_dir:
          TSO.value_histogram(_pts_dedup(spark, sf_dir), n_bins=10),
      _PD + ", r AS (SELECT series, min(val) AS vmin,"
      " max(val) AS vmax FROM pd GROUP BY 1),"
      " w AS (SELECT series, vmin, (vmax - vmin) / 10.0 AS wd"
      " FROM r),"
      " b AS (SELECT pd.series, CASE WHEN wd > 0 THEN"
      " least(CAST(9 AS BIGINT),"
      " CAST(floor((val - vmin) / wd) AS BIGINT))"
      " ELSE CAST(0 AS BIGINT) END AS bin, vmin, wd"
      " FROM pd JOIN w USING (series))"
      " SELECT series, bin, count(*) AS n,"
      " round(vmin + bin * wd, 6) + 0.0 AS lo,"
      " round(vmin + (bin + 1) * wd, 6) + 0.0 AS hi"
      " FROM b GROUP BY series, bin, vmin, wd")

# per-series daily rollup with period-over-period change
R.add("ts_pct_change",
      lambda spark, sf_dir:
          TSO.bucket_pct_change(_pts_dedup(spark, sf_dir),
                                bucket_ns=86_400_000_000_000),
      _PD + ", a AS (SELECT series,"
      " ts - ts % 86400000000000 AS bucket,"
      " sum(val) AS tot FROM pd GROUP BY 1, 2),"
      " l AS (SELECT series, bucket, tot,"
      " lag(tot) OVER (PARTITION BY series ORDER BY bucket)"
      " AS prev FROM a)"
      " SELECT series, bucket, round(tot, 6) + 0.0 AS total,"
      " round(tot - prev, 6) + 0.0 AS change,"
      " round((tot - prev) / nullif(prev, 0), 6) + 0.0"
      " AS pct_change FROM l")

# per-series heartbeat uptime: gap excess beyond 1 day = downtime
R.add("ts_uptime",
      lambda spark, sf_dir:
          TSO.uptime_report(_pts_dedup(spark, sf_dir),
                            heartbeat_ns=86_400_000_000_000),
      _PD + ", g AS (SELECT series, ts, ts - lag(ts) OVER"
      " (PARTITION BY series ORDER BY ts) AS gap FROM pd),"
      " a AS (SELECT series, count(*) AS n_points,"
      " max(ts) - min(ts) AS span, max(gap) AS max_gap,"
      " CAST(sum(CASE WHEN gap > 86400000000000"
      " THEN gap - 86400000000000 ELSE 0 END) AS BIGINT)"
      " AS downtime FROM g GROUP BY 1)"
      " SELECT series, n_points, span, max_gap, downtime,"
      " round(1.0 - CAST(downtime AS DOUBLE)"
      " / nullif(CAST(span AS DOUBLE), 0), 6) + 0.0"
      " AS uptime_frac FROM a")

# top-20 series by total value; totals rounded BEFORE ranking so
# the order is insensitive to summation order, ties by name
R.add("ts_top_series",
      lambda spark, sf_dir: TSO.top_series(_pts_dedup(spark, sf_dir), k=20),
      _PD + ", t AS (SELECT series,"
      f" round({STABLE_DSUM_SQL.format(x='val')}, 4) + 0.0"
      " AS total FROM pd GROUP BY 1)"
      " SELECT series, total FROM t"
      " ORDER BY total DESC, series LIMIT 20")
