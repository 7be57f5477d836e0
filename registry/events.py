"""Event-analytics entries: funnels, cohorts, sessions,
retention and RFM over the events table."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from siridb_server_spark.functions.stable import INT_PPM_SQL, STABLE_DSUM_SQL
from siridb_server_spark.functions.stable import stable_dsum as SD
from siridb_server_spark.operators import timeseries as TSO
from siridb_server_spark.sources.testdata import epoch_ns, load

from registry import Family
from registry._common import _QTERM2

R = Family("events")


# signup→purchase-within-24h funnel; the forward-looking min is
# the same window on both engines
@R.entry("events_funnel", (
    "WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts,"
    " event_id AS eid FROM events"
    " WHERE event_type IN ('signup', 'purchase')),"
    " x AS (SELECT *, min(CASE WHEN event_type = 'purchase'"
    " THEN ts END) OVER (PARTITION BY user_id ORDER BY ts, eid"
    " ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np"
    " FROM e),"
    " s AS (SELECT ts, (np IS NOT NULL AND"
    " np - ts <= 86400000000000) AS conv FROM x"
    " WHERE event_type = 'signup')"
    " SELECT ts - ts % 86400000000000 AS day,"
    " count(*) AS signups,"
    " CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)"
    " AS converted,"
    " round(sum(CASE WHEN conv THEN 1 ELSE 0 END)"
    " / count(*), 6) + 0.0"
    " AS rate FROM s GROUP BY 1"))
def events_funnel(spark, sf_dir):
    """Conversion funnel: per user, signup events that are
    followed by a purchase within 24 h. One hash shuffle on
    user_id feeds a per-user sort; the carry-forward is a
    single min-over-following-window — no self-join, no range
    join blowup (the as-of pattern in reverse). Output: per-day
    signup count, converted count, conversion rate."""
    ev = load(spark, sf_dir, "events")
    day_ns = 86_400_000_000_000
    base = (ev.where(F.col("event_type").isin("signup", "purchase"))
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "event_type", epoch_ns(ev).alias("ts"),
                    F.col("event_id").cast("long").alias("eid")))
    w = (Window.partitionBy("user_id").orderBy("ts", "eid")
         .rowsBetween(1, Window.unboundedFollowing))
    nxt_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    sign = (base.withColumn("_np", nxt_purchase)
            .where(F.col("event_type") == "signup")
            .select("ts",
                    (F.col("_np").isNotNull()
                     & (F.col("_np") - F.col("ts") <= day_ns))
                    .alias("conv")))
    return (sign.groupBy((F.col("ts") - F.col("ts") % day_ns)
                         .alias("day"))
            .agg(F.count(F.lit(1)).alias("signups"),
                 F.sum(F.col("conv").cast("long"))
                 .alias("converted"),
                 # exact-int sum / count: order-free, unlike a
                 # double avg (see functions/stable.py)
                 (F.round(F.sum(F.col("conv").cast("long"))
                          / F.count(F.lit(1)), 6)
                  + F.lit(0.0)).alias("rate")))


@R.entry("events_cohorts", (
    "WITH wk AS (SELECT DISTINCT user_id,"
    " epoch_ns(ts) // 604800000000000 AS week FROM events),"
    " f AS (SELECT user_id, min(week) AS cohort FROM wk"
    " GROUP BY 1)"
    " SELECT cohort, week - cohort AS week_offset,"
    " count(DISTINCT user_id) AS n_users"
    " FROM wk JOIN f USING (user_id) GROUP BY 1, 2"))
def events_cohorts(spark, sf_dir):
    """Weekly cohort-retention matrix: cohort = a user's first
    active week; one distinct (user, week) reduction, a tiny
    per-user min, one counting aggregate — three hash shuffles
    on user-sized data, no window over the full event stream."""
    week = 7 * 24 * 3600 * 10 ** 9
    ev = load(spark, sf_dir, "events")
    wk = (ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        epoch_ns(ev).alias("ets"))
        .select("user_id",
                F.expr(f"ets div {week}").alias("week"))
        .distinct())
    first = wk.groupBy("user_id").agg(
        F.min("week").alias("cohort"))
    return (wk.join(first, "user_id")
            .groupBy("cohort",
                     (F.col("week") - F.col("cohort"))
                     .alias("week_offset"))
            .agg(F.countDistinct("user_id").alias("n_users")))


@R.entry("events_flow", (
    "WITH e AS (SELECT user_id, event_type AS et,"
    " epoch_ns(ts) AS ts, event_id FROM events),"
    " nx AS (SELECT et AS src, lead(et) OVER ("
    " PARTITION BY user_id ORDER BY ts, event_id) AS dst"
    " FROM e),"
    " pairs AS (SELECT src, dst, count(*) AS n FROM nx"
    " WHERE dst IS NOT NULL GROUP BY 1, 2),"
    " tot AS (SELECT src, sum(n) AS n_src FROM pairs GROUP BY 1)"
    " SELECT src, dst, n, round(n / n_src, 6) + 0.0 AS p"
    " FROM pairs JOIN tot USING (src)"))
def events_flow(spark, sf_dir):
    """User-flow transition matrix: P(next event type | current)
    across each user's time-ordered event stream — the Markov
    view behind funnel/journey analytics. One lag window per
    user (single hash shuffle), one counting aggregate over
    |types|² keys, a broadcast per-source total."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("et"),
        epoch_ns(ev).alias("ts"),
        F.col("event_id").cast("long").alias("event_id"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("nxt", F.lead("et").over(w))
             .where(F.col("nxt").isNotNull())
             .groupBy(F.col("et").alias("src"),
                      F.col("nxt").alias("dst"))
             .agg(F.count(F.lit(1)).alias("n")))
    totals = pairs.groupBy("src").agg(
        F.sum("n").alias("n_src"))
    return (pairs.join(F.broadcast(totals), "src")
            .select("src", "dst", "n",
                    (F.round(F.col("n") / F.col("n_src"), 6)
                     + F.lit(0.0)).alias("p")))


@R.entry("events_json_props", (
    "SELECT event_type,"
    " CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))"
    " AS BIGINT) AS sum_k, count(*) AS n"
    " FROM events GROUP BY 1"))
def events_json_props(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.col("event_type"),
                  F.get_json_object("props", "$.k").cast("long")
                  .alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"),
             F.count(F.lit(1)).alias("n"))
    )


@R.entry("events_gap_stats", (
    "WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts,"
    " event_id FROM events),"
    " g AS (SELECT event_type, (ts - lag(ts) OVER"
    " (PARTITION BY user_id, event_type ORDER BY ts, event_id))"
    " / 1e9 AS gap FROM e)"
    " SELECT event_type, count(*) AS n_gaps,"
    f" round({STABLE_DSUM_SQL.format(x='gap')} / count(*), 3) + 0.0"
    " AS avg_gap,"
    " round(quantile_cont(gap, 0.5), 3) + 0.0 AS p50_gap"
    " FROM g WHERE gap IS NOT NULL GROUP BY 1"))
def events_gap_stats(spark, sf_dir):
    """Inter-event time per event type: gaps between consecutive
    events of the same (user, type), rolled up per type — "how
    often do users click?" One (user, type) lag window, one
    counting agg; exact interpolated median."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(F.col("user_id").cast("long")
                     .alias("user_id"), "event_type",
                     epoch_ns(ev).alias("ts"),
                     F.col("event_id").cast("long").alias("eid"))
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "eid")
    # seconds, not raw ns: an avg over ~1e14-ns gaps carries a
    # summation-order float error bigger than any sane rounding
    # grid; per-gap division happens BEFORE aggregation on both
    # engines, so the inputs are identical doubles
    gap = (F.col("ts") - F.lag("ts").over(w)) / F.lit(1e9)
    gaps = base.select("event_type", gap.alias("gap")) \
        .where(F.col("gap").isNotNull())
    return (gaps.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 # decimal sum / count — order-free double mean
                 (F.round(SD(F.col("gap"))
                          / F.count(F.lit(1)), 3)
                  + F.lit(0.0))
                 .alias("avg_gap"),
                 (F.round(F.percentile("gap", F.lit(0.5)), 3)
                  + F.lit(0.0)).alias("p50_gap")))


@R.entry("events_stickiness", (
    "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS dt,"
    " user_id FROM events),"
    " dd AS (SELECT CAST(dt - DATE '1970-01-01' AS BIGINT)"
    " AS d, user_id FROM du),"
    " dau AS (SELECT d, count(*) AS dau FROM dd GROUP BY 1),"
    " ex AS (SELECT d + i AS td, user_id FROM dd"
    " CROSS JOIN range(7) r(i)),"
    " wau AS (SELECT td AS d, count(DISTINCT user_id) AS wau"
    " FROM ex GROUP BY 1)"
    " SELECT dau.d, dau.dau, wau.wau,"
    f" {INT_PPM_SQL.format(num='dau.dau', den='wau.wau')}"
    " AS stickiness_ppm"
    " FROM dau JOIN wau ON dau.d = wau.d"))
def events_stickiness(spark, sf_dir):
    """DAU/WAU stickiness: per day, the exact count of active
    users, the exact rolling-7-day active-user count, and their
    ratio in exact integer ppm. The rolling distinct is computed
    by FORWARD-exploding each (day, user) pair into the ≤7
    window anchors it serves — a bounded 7× fan-out of the
    per-day DISTINCT pairs (already deduped, so the fan-out is
    over unique user-days, not raw events), then one
    countDistinct per anchor. No self-join, no window over an
    unbounded frame; at extreme scale the approximate path swaps
    the exact distinct for an HLL sketch per day and merges
    sketches across the 7 anchors. Trailing anchors beyond the
    observed day range drop out via the inner join with DAU."""
    from siridb_server_spark.functions.stable import int_ppm
    ev = load(spark, sf_dir, "events")
    dd = ev.select(
        F.unix_date(F.to_date("ts")).cast("long")
        .alias("d"), "user_id").distinct()
    dau = dd.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    ex = dd.select(
        F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(6)))
        .alias("td"), "user_id")
    wau = (ex.groupBy(F.col("td").alias("d"))
           .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, "d")
            .select("d", "dau", "wau",
                    int_ppm(F.col("dau"), F.col("wau"))
                    .alias("stickiness_ppm")))


# inter-event gap stats per event type over (user, type) lags
@R.entry("events_rfm", (
    "SELECT user_id, max(epoch_ns(ts)) AS last_ts,"
    " count(*) AS n_events,"
    f" CAST(sum({_QTERM2('value')}) AS BIGINT) AS value_cents"
    " FROM events GROUP BY 1"))
def events_rfm(spark, sf_dir):
    """RFM report: per user, recency (last event timestamp),
    frequency (event count), and monetary value (exact
    cents-quantized sum of the value column). One map-side-
    partial groupBy on user_id — the canonical per-entity
    rollup; every output column is an exact integer."""
    from siridb_server_spark.functions.stable import scaled_term
    ev = load(spark, sf_dir, "events")
    return (ev.select("user_id", epoch_ns(ev).alias("ts"),
                      scaled_term(F.col("value"), 2).alias("vc"))
            .groupBy("user_id")
            .agg(F.max("ts").alias("last_ts"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("vc").alias("value_cents")))


# session-level rollup over the same sessionize windows
@R.entry("events_sessions_rollup", (
    "WITH e AS (SELECT event_id, user_id, event_type,"
    " epoch_ns(ts) AS ts FROM events),"
    " s AS (SELECT event_id, user_id, event_type, ts, CASE WHEN"
    " lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w"
    " > 3600000000000 THEN 1 ELSE 0 END AS ns FROM e"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
    " i AS (SELECT user_id, event_type, ts, CAST(sum(ns) OVER"
    " (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS BIGINT) AS session_id FROM s)"
    " SELECT user_id, session_id, count(*) AS n_events,"
    " max(ts) - min(ts) AS duration,"
    " CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS converted FROM i GROUP BY 1, 2"))
def events_sessions_rollup(spark, sf_dir):
    """Session-level facts: duration, event count, and whether
    the session converted (contained a purchase) — the rollup a
    product dashboard reads instead of raw events. Reuses the
    sessionize window (one user shuffle); the rollup groupBy
    shares the same partitioning."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type", epoch_ns(ev).alias("ts"))
    s = TSO.sessionize(base, gap=3_600_000_000_000,
                       seq_col="event_id")
    return (s.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max("ts") - F.min("ts")).alias("duration"),
                 F.max(F.when(F.col("event_type") == "purchase",
                              F.lit(1)).otherwise(F.lit(0))
                       .cast("long")).alias("converted")))


# ordered 3-step funnel with strict inter-step ordering
@R.entry("events_funnel_steps", (
    "WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type"
    " FROM events),"
    " u1 AS (SELECT user_id, min(CASE WHEN event_type = 'view'"
    " THEN ts END) AS t1 FROM e GROUP BY 1),"
    " u2 AS (SELECT e.user_id, u1.t1,"
    " min(CASE WHEN event_type = 'click' AND e.ts > u1.t1"
    " THEN e.ts END) AS t2"
    " FROM e JOIN u1 USING (user_id) GROUP BY 1, 2),"
    " u3 AS (SELECT e.user_id, u2.t1, u2.t2,"
    " min(CASE WHEN event_type = 'purchase' AND e.ts > u2.t2"
    " THEN e.ts END) AS t3"
    " FROM e JOIN u2 USING (user_id) GROUP BY 1, 2, 3)"
    " SELECT count(t1) AS step1_users,"
    " count(t2) AS step2_users,"
    " count(t3) AS step3_users FROM u3"))
def events_funnel_steps(spark, sf_dir):
    """Ordered 3-step funnel view → click → purchase: how many
    users reach each step with strict time ordering."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(F.col("user_id").cast("long").alias("user_id"),
                     epoch_ns(ev).alias("ts"), "event_type")
    per_user = TSO.funnel_steps(
        base, ["view", "click", "purchase"])
    return per_user.agg(
        F.count("t1").alias("step1_users"),
        F.count("t2").alias("step2_users"),
        F.count("t3").alias("step3_users"))


# funnel conversions + Wilson 95% bounds: same funnel CTE, then
# the identical fixed-op-order sqrt formula per step pair
_wl = ("CASE WHEN n > 0 THEN"
       " round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
       " + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))"
       " / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)))"
       " {sign} (1.96 * sqrt((CAST(k AS DOUBLE)"
       " / CAST(n AS DOUBLE))"
       " * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
       " / CAST(n AS DOUBLE) + (1.96 * 1.96)"
       " / (4.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
       " / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))), 6)"
       " + 0.0 END")


@R.entry("events_funnel_ci", (
    "WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type"
    " FROM events),"
    " u1 AS (SELECT user_id, min(CASE WHEN event_type = 'view'"
    " THEN ts END) AS t1 FROM e GROUP BY 1),"
    " u2 AS (SELECT e.user_id, u1.t1,"
    " min(CASE WHEN event_type = 'click' AND e.ts > u1.t1"
    " THEN e.ts END) AS t2"
    " FROM e JOIN u1 USING (user_id) GROUP BY 1, 2),"
    " u3 AS (SELECT e.user_id, u2.t1, u2.t2,"
    " min(CASE WHEN event_type = 'purchase' AND e.ts > u2.t2"
    " THEN e.ts END) AS t3"
    " FROM e JOIN u2 USING (user_id) GROUP BY 1, 2, 3),"
    " c AS (SELECT count(t1) AS k1, count(t2) AS k2,"
    " count(t3) AS k3 FROM u3),"
    " p AS (SELECT CAST(2 AS BIGINT) AS step,"
    " CAST(k2 AS BIGINT) AS k, CAST(k1 AS BIGINT) AS n FROM c"
    " UNION ALL SELECT 3, CAST(k3 AS BIGINT),"
    " CAST(k2 AS BIGINT) FROM c)"
    " SELECT step, k, n,"
    " CAST(k * 1000000 // greatest(n, 1) AS BIGINT)"
    " AS conv_ppm,"
    " " + _wl.format(sign="-") + " AS wilson_lo,"
    " " + _wl.format(sign="+") + " AS wilson_hi FROM p"))
def events_funnel_ci(spark, sf_dir):
    """Funnel conversion rates WITH uncertainty
    (operators/timeseries.py wilson_bounds): per adjacent step
    pair, the exact integer ppm conversion plus the 95% Wilson
    score interval — built from +,−,×,/ and sqrt only (IEEE
    requires sqrt correctly rounded, unlike the banned ln/exp),
    so with the fixed operator order the bounds hash
    cross-engine. The number a funnel report needs before
    anyone compares two rates."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(F.col("user_id").cast("long").alias("user_id"),
                     epoch_ns(ev).alias("ts"), "event_type")
    per_user = TSO.funnel_steps(
        base, ["view", "click", "purchase"])
    c = per_user.agg(F.count("t1").alias("k1"),
                     F.count("t2").alias("k2"),
                     F.count("t3").alias("k3"))
    pairs = c.select(F.explode(F.array(
        F.struct(F.lit(2).cast("long").alias("step"),
                 F.col("k2").alias("k"),
                 F.col("k1").alias("n")),
        F.struct(F.lit(3).cast("long").alias("step"),
                 F.col("k3").alias("k"),
                 F.col("k2").alias("n")))).alias("s")) \
        .select("s.*")
    lo, hi = TSO.wilson_bounds(F.col("k"), F.col("n"))
    return pairs.select(
        "step", "k", "n",
        F.expr("k * 1000000 div greatest(n, 1)")
        .alias("conv_ppm"),
        (F.round(lo, 6) + F.lit(0.0)).alias("wilson_lo"),
        (F.round(hi, 6) + F.lit(0.0)).alias("wilson_hi"))


# union-of-intervals activity coverage per user (5 min window);
# gap-and-island via a running max of interval ends
@R.entry("events_coverage", (
    "WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),"
    " f AS (SELECT user_id, ts, CASE WHEN"
    " max(ts + 300000000000) OVER pw IS NULL OR"
    " ts > max(ts + 300000000000) OVER pw THEN 1 ELSE 0 END"
    " AS ni FROM e WINDOW pw AS (PARTITION BY user_id"
    " ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING"
    " AND 1 PRECEDING)),"
    " i AS (SELECT user_id, ts, sum(ni) OVER"
    " (PARTITION BY user_id ORDER BY ts ROWS BETWEEN"
    " UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),"
    " g AS (SELECT user_id, island,"
    " max(ts + 300000000000) - min(ts) AS span FROM i"
    " GROUP BY 1, 2)"
    " SELECT user_id, count(*) AS n_islands,"
    " CAST(sum(span) AS BIGINT) AS covered FROM g GROUP BY 1"))
def events_coverage(spark, sf_dir):
    """Minutes-active per user: union of 5-minute activity
    intervals opened by each event (overlaps merge)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(F.col("user_id").cast("long").alias("user_id"),
                     epoch_ns(ev).alias("ts"))
    return TSO.interval_coverage(base, length=300_000_000_000)
