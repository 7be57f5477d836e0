"""Mergeable sketch entries: HLL, KMV, quantile and Bloom
sketches as plain DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from siridb_server_spark.operators.sketches import HLL_REGISTERS_SQL as _HLL
from siridb_server_spark.sources.testdata import epoch_ns, load

from registry import Family
from registry._common import _bloom_pos

R = Family("sketch")

# CDC resync: constants computed from the deterministic fixture
# (LCG corpus, xxhash64 chunk hashes — both engine-independent);
# the property itself is what the numbers SAY: 18/19 chunks
# survive a header insert or a mid-document edit, 0 survive a
# content swap
# HLL sketches: the oracle rebuilds the register table from md5
# in pure SQL (operators/sketches.py HLL_REGISTERS_SQL) — both
# entries hash against the DIRECT construction, so the merge
# entry's equality IS the mergeability theorem
_hll_direct = (
    "SELECT event_type, bucket, CAST(max(rho) AS INT) AS rho"
    " FROM (" + _HLL.format(
        member="CAST(user_id AS VARCHAR)", keys="event_type",
        table="events") + ") GROUP BY 1, 2")


@R.entry("sketch_hll_registers", _hll_direct)
def sketch_hll_registers(spark, sf_dir):
    """Mergeable HLL distinct-count sketch as a plain DataFrame
    (operators/sketches.py): per event_type, the 4096-register
    table over user_id — every register an md5-derived integer,
    so the oracle rebuilds the identical table in SQL and the
    hash pins the whole sketch construction (bucket split,
    hex-aligned leading-zero count, groupBy-max). Estimation
    accuracy is pytest-verified separately (float, policy)."""
    from siridb_server_spark.operators import sketches as SK
    return SK.hll_registers(load(spark, sf_dir, "events"),
                            "event_type", "user_id") \
        .select("event_type", "bucket", "rho")


@R.entry("sketch_hll_merge", _hll_direct)
def sketch_hll_merge(spark, sf_dir):
    """THE mergeability theorem, cross-checked across engines
    AND construction orders: partial sketches built per
    (event_type, arbitrary 7-way split) then merged with
    groupBy-max must equal the one-shot sketch — the oracle
    builds the one-shot table directly, so any non-associative
    slip in the merge (or the split) flips the hash. This is the
    property that lets 100 TB of history live as persisted daily
    register tables instead of being rescanned."""
    from siridb_server_spark.operators import sketches as SK
    ev = load(spark, sf_dir, "events")
    part = (epoch_ns(ev) % F.lit(7)).alias("part")
    daily = SK.hll_registers(ev.withColumn("part", part),
                             ["event_type", "part"], "user_id")
    return SK.hll_merge(daily, "event_type") \
        .select("event_type", "bucket", "rho")


@R.entry("sketch_bloom_membership", (
    "WITH tok AS (SELECT doc_id,"
    " list_filter(string_split(lower(trim(text)), ' '),"
    " x -> x <> '') AS wl FROM documents),"
    " grams AS (SELECT doc_id, unnest(list_distinct("
    " list_transform(range(1, greatest(len(wl) - 2, 1) + 1),"
    " i -> array_to_string(wl[i:i+2], ' ')))) AS w FROM tok),"
    " ref AS (SELECT DISTINCT w FROM grams"
    " WHERE doc_id % 20 <> 0),"
    " probe AS (SELECT DISTINCT w FROM grams"
    " WHERE doc_id % 20 = 0),"
    f" rpos AS (SELECT w, {_bloom_pos} FROM ref),"
    " bits AS (SELECT DISTINCT bit FROM rpos),"
    f" ppos AS (SELECT w, {_bloom_pos} FROM probe),"
    " rh AS (SELECT w, count(*) AS hits FROM rpos"
    " SEMI JOIN bits USING (bit) GROUP BY 1),"
    " ph AS (SELECT w, count(*) AS hits FROM ppos"
    " SEMI JOIN bits USING (bit) GROUP BY 1)"
    " SELECT 'bits_set' AS prop, CAST(count(*) AS BIGINT) AS n"
    " FROM bits"
    " UNION ALL SELECT 'ref_total', count(*) FROM ref"
    " UNION ALL SELECT 'ref_missed', count(*) FROM ref"
    " LEFT JOIN rh USING (w) WHERE coalesce(hits, 0) <> 4"
    " UNION ALL SELECT 'probe_total', count(*) FROM probe"
    " UNION ALL SELECT 'probe_flagged', count(*) FROM ph"
    " WHERE hits = 4"))
def sketch_bloom_membership(spark, sf_dir):
    """Bloom membership sketch, build AND probe pinned
    cross-engine (operators/sketches.py bloom_bits /
    bloom_might_contain): the reference side (3-word shingles
    of docs with doc_id % 20 ≠ 0 — ~16k members at sf0.01)
    becomes a distinct md5-positioned set-bit relation
    (m = 2¹⁶, k = 4 — sized so the probe surface carries REAL
    false positives, ~14% of the truly-novel probes at this
    fill), the held-out docs' shingles probe it — the
    bloom-backed approximate twin of text_ngram_novelty for
    when the reference's member set can't be collected. The
    construction is deterministic, so the exact
    false-positive count is a hashable VALUE, not a
    tolerance — the oracle replays positions, bits, semi-join
    and the hits==k verdict in SQL. Props: bits_set,
    ref_total / ref_missed (must be 0 — no false negatives,
    the Bloom theorem), probe_total / probe_flagged."""
    from siridb_server_spark.operators import sketches as SK
    from siridb_server_spark.operators.dedup import shingles
    docs = load(spark, sf_dir, "documents")
    w = F.explode(shingles("text", 3)).alias("w")
    ref = docs.where(F.col("doc_id") % 20 != 0).select(w)
    probe = docs.where(F.col("doc_id") % 20 == 0).select(w)
    bloom = SK.bloom_bits(ref, [], "w", m_bits=1 << 16, k=4)
    self_mc = SK.bloom_might_contain(
        ref, bloom, "w", m_bits=1 << 16, k=4)
    probe_mc = SK.bloom_might_contain(
        probe, bloom, "w", m_bits=1 << 16, k=4)
    rows = [
        bloom.agg(F.lit("bits_set").alias("prop"),
                  F.count(F.lit(1)).cast("long").alias("n")),
        self_mc.agg(F.lit("ref_total").alias("prop"),
                    F.count(F.lit(1)).cast("long").alias("n")),
        self_mc.where(~F.col("might_contain")).agg(
            F.lit("ref_missed").alias("prop"),
            F.count(F.lit(1)).cast("long").alias("n")),
        probe_mc.agg(F.lit("probe_total").alias("prop"),
                     F.count(F.lit(1)).cast("long").alias("n")),
        probe_mc.where(F.col("might_contain")).agg(
            F.lit("probe_flagged").alias("prop"),
            F.count(F.lit(1)).cast("long").alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_kmv_direct = (
    "WITH hs AS (SELECT DISTINCT event_type,"
    " CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) AS h FROM events WHERE user_id IS NOT NULL),"
    " r AS (SELECT event_type, h, row_number() OVER"
    " (PARTITION BY event_type ORDER BY h) AS pos FROM hs)"
    " SELECT event_type, CAST(pos AS INT) AS pos, h FROM r"
    " WHERE pos <= 256")


@R.entry("sketch_kmv_values", _kmv_direct)
def sketch_kmv_values(spark, sf_dir):
    """KMV (k-minimum-values) sketch per event_type over
    user_id (operators/sketches.py, Beyer et al. 2007) — the
    overlap-capable companion to the HLL entry: k smallest
    distinct 60-bit md5 hashes with their order statistics,
    rebuilt identically by the oracle in SQL (distinct +
    windowed top-k over the same hash expression)."""
    from siridb_server_spark.operators import sketches as SK
    return SK.kmv_sketch(load(spark, sf_dir, "events"),
                         "event_type", "user_id") \
        .select("event_type", "pos", "h")


@R.entry("sketch_kmv_merge", _kmv_direct)
def sketch_kmv_merge(spark, sf_dir):
    """KMV mergeability, pinned cross-engine: partial sketches
    over an arbitrary 7-way split, merged (k smallest of the
    union — EXACT, since the union's minima live inside the
    partials' minima), must equal the one-shot sketch the
    oracle builds directly."""
    from siridb_server_spark.operators import sketches as SK
    ev = load(spark, sf_dir, "events")
    part = (epoch_ns(ev) % F.lit(7)).alias("part")
    parts = SK.kmv_sketch(ev.withColumn("part", part),
                          ["event_type", "part"], "user_id")
    return SK.kmv_merge(parts, "event_type") \
        .select("event_type", "pos", "h")


# quantile sketch: the oracle rebuilds the bottom-k priority
# sample from the same md5 expression; merge hashes against the
# DIRECT construction (= the mergeability theorem), estimates
# replay the integer ceil-rank order statistic, and the accuracy
# audit recomputes exact population ranks — every hashed column
# integer or a source-value pass-through
_qsk_cte = (
    "WITH s AS (SELECT DISTINCT event_type, value AS val,"
    " CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) AS pri FROM events WHERE value IS NOT NULL"
    " AND event_id IS NOT NULL),"
    " r AS (SELECT event_type, pri, val, row_number() OVER"
    " (PARTITION BY event_type ORDER BY pri, val) AS pos FROM s),"
    " sk AS (SELECT event_type, pri, val, CAST(pos AS INT) AS pos"
    " FROM r WHERE pos <= 256)")

_qsk_direct = (_qsk_cte +
               " SELECT event_type, pos, pri, val FROM sk")


@R.entry("sketch_quantile_sample", _qsk_direct)
def sketch_quantile_sample(spark, sf_dir):
    """Mergeable quantile sketch (operators/sketches.py
    quantile_sketch): per event_type, the 256 rows with the
    smallest md5(event_id) priorities, carrying their values —
    a deterministic bottom-k priority sample whose order
    statistics estimate population quantiles. The hash-coin
    replaces the RNG of KLL/reservoir samplers, which is what
    makes the ENTIRE sketch state pinnable by a cross-engine
    value hash (the oracle rebuilds it in SQL from the same md5
    expression). Estimation accuracy: sketch_quantile_accuracy
    + tests/test_sketches.py."""
    from siridb_server_spark.operators import sketches as SK
    return SK.quantile_sketch(load(spark, sf_dir, "events"),
                              "event_type", "value", "event_id") \
        .select("event_type", "pos", "pri", "val")


@R.entry("sketch_quantile_merge", _qsk_direct)
def sketch_quantile_merge(spark, sf_dir):
    """Quantile-sketch mergeability, pinned cross-engine:
    partials over an arbitrary 7-way split, merged (bottom-k of
    the union — EXACT by the KMV containment theorem applied to
    row priorities), must equal the one-shot sketch the oracle
    builds directly. The property that lets per-day sample
    partials stand in for a 100 TB history rescan."""
    from siridb_server_spark.operators import sketches as SK
    ev = load(spark, sf_dir, "events")
    part = (F.col("event_id") % F.lit(7)).alias("part")
    parts = SK.quantile_sketch(ev.withColumn("part", part),
                               ["event_type", "part"],
                               "value", "event_id")
    return SK.quantile_merge(parts, "event_type") \
        .select("event_type", "pos", "pri", "val")


_qsk_est = (
    _qsk_cte + ","
    " rv AS (SELECT event_type, val, row_number() OVER"
    " (PARTITION BY event_type ORDER BY val, pri) AS pos FROM sk),"
    " kk AS (SELECT event_type, CAST(max(pos) AS INT) AS sample_n"
    " FROM rv GROUP BY 1),"
    " qs AS (SELECT CAST(unnest([500000, 900000, 990000]) AS INT)"
    " AS q_ppm),"
    " tgt AS (SELECT event_type, q_ppm, sample_n,"
    " GREATEST(1, LEAST(CAST((CAST(q_ppm AS BIGINT) * sample_n"
    " + 999999) // 1000000 AS INT), sample_n)) AS tpos"
    " FROM kk, qs)"
    " SELECT t.event_type, t.q_ppm, t.sample_n, rv.val AS est"
    " FROM tgt t JOIN rv ON rv.event_type = t.event_type"
    " AND rv.pos = t.tpos")


@R.entry("sketch_quantile_estimates", _qsk_est)
def sketch_quantile_estimates(spark, sf_dir):
    """p50/p90/p99 estimates per event_type from the quantile
    sketch: sample order statistic at ceil(q·k'), quantiles
    given as integer parts-per-million so the whole estimator is
    exact arithmetic plus a value pass-through — hashable end to
    end, unlike percentile sketches with float interpolation."""
    from siridb_server_spark.operators import sketches as SK
    sk = SK.quantile_sketch(load(spark, sf_dir, "events"),
                            "event_type", "value", "event_id")
    return SK.quantile_estimate(
        sk, "event_type", [500000, 900000, 990000]) \
        .select("event_type", "q_ppm", "sample_n", "est")


@R.entry("sketch_quantile_accuracy", (
    "WITH est AS (" + _qsk_est + ")"
    " SELECT e.event_type, est.q_ppm,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(CASE WHEN e.value <= est.est THEN 1 ELSE 0 END)"
    " AS BIGINT) AS exact_rank,"
    " CAST((CAST(est.q_ppm AS BIGINT) * count(*) + 999999)"
    " // 1000000 AS BIGINT) AS target_rank,"
    " CAST(abs(sum(CASE WHEN e.value <= est.est THEN 1 ELSE 0"
    " END) - (CAST(est.q_ppm AS BIGINT) * count(*) + 999999)"
    " // 1000000) AS BIGINT) AS abs_err"
    " FROM events e JOIN est ON e.event_type = est.event_type"
    " WHERE e.value IS NOT NULL GROUP BY 1, 2, est.est"))
def sketch_quantile_accuracy(spark, sf_dir):
    """Estimator-accuracy audit, same design as
    dedup_minhash_accuracy / text_cms_accuracy: each estimate's
    EXACT population rank (count of values ≤ estimate, one
    broadcast-join aggregate over the full table) against its
    target rank ceil(q·n), both integers. The sample-quantile
    theory bound |err| ≲ n·√(q(1−q)/k) is asserted in pytest;
    the hashed contract pins the measured integers so a silent
    estimator regression flips the gate."""
    from siridb_server_spark.operators import sketches as SK
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull())
    sk = SK.quantile_sketch(ev, "event_type", "value",
                            "event_id")
    est = SK.quantile_estimate(
        sk, "event_type", [500000, 900000, 990000])
    joined = ev.join(F.broadcast(est), "event_type")
    out = (joined.groupBy("event_type", "q_ppm")
           .agg(F.sum(F.when(F.col("value") <= F.col("est"), 1)
                      .otherwise(0)).alias("exact_rank"),
                F.count(F.lit(1)).alias("n")))
    tgt = F.expr("(CAST(q_ppm AS BIGINT) * n + 999999)"
                 " div 1000000")
    return out.select(
        "event_type", "q_ppm", "n", "exact_rank",
        tgt.alias("target_rank"),
        F.abs(F.col("exact_rank") - tgt).alias("abs_err"))
