"""Headline benchmark. Runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints the full JSON result line
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}}
followed by one SHORT headline-only JSON line (same fields minus the
per-query map). The per-query map has outgrown tail-truncated capture
windows (BENCH_r05 recorded "parsed": null); the short final line is
always intact in a tail, and a consumer of the last stdout line gets
the totals either way.

Materialization is a noop-sink write (not count()) so Catalyst cannot
prune the aggregate expressions away.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    # siri engine core: scan → bucket agg (1 shuffle)
    "siri_sum_bucket",
    "siri_mean_bucket",
    "siri_median_bucket",
    "siri_variance_bucket",
    "siri_first_bucket",
    # window transforms (partitioned sort)
    "siri_interval",
    "siri_derivative_points",
    # whole-window collapse + selection algebra
    "siri_count_to_one",
    "siri_set_algebra",
    # merge + adaptive downsample (sweep path)
    "siri_merge_using_mean",
    "siri_limit_downsample",
    # training-data pipeline operators
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_contamination",
    "dedup_spans",
    "dedup_cross_source",
    "dedup_similar_docs",
    "ts_asof_join",
    "ts_range_join",
    "ts_resample_interp",
    "ts_decompose",
    "text_unigram_lm",
    "text_bigram_lm",
    "text_trigram_lm",
    "text_quality",
    "text_quality_score",
    "text_char_diversity",
    "text_fingerprint",
    "text_topk_per_source",
    "sim_bruteforce_topk",
    "sim_ivf_index_search",
    "sim_ann_recall",
    "sim_knn_join",
    "sim_cosine_pairs",
    "sim_dup_clusters",
    "sim_semdedup",
    "sim_mmr",
    "sim_sq_recall",
    "sim_ivf_sq_topk",
    # r10 batch ANN joins (light serving queries)
    "sim_ivf_knn_join",
    "sim_ivf_sq_knn_join",
    "multimodal_meta",
    "curation_dsir",
    # window time-series + corpus statistics
    "corpus_integrity",
    "ts_ewma",
    "ts_moving_avg",
    "ts_rolling_median",
    "ts_holt_forecast",
    "ts_corr_topk",
    "ts_dtw_topk",
    "ts_seasonal_anomalies",
    "ts_latency_quantiles",
    "ts_mad",
    "ts_linear_trend",
    "ts_acf",
    "ts_level_shifts",
    "ts_value_hist",
    "ts_pct_change",
    "ts_uptime",
    "ts_winsorize",
    "text_tfidf_sources",
    "text_boilerplate",
    "text_approx_top_ngrams",
    "text_hybrid_rrf",
    "text_cms_accuracy",
    "text_readability",
    "text_chunking",
    "text_sentences",
    "text_nb_confusion",
    "text_hash_embed_tfidf",
    "text_quality_percentile",
    "sim_label_centroids",
    "sim_standardize",
    # round-5 additions: capped exact join, mixture weights, packing,
    # real PNG decode through the Arrow path
    "dedup_ngram_jaccard",
    "dedup_cdc_tiling",
    "io_tfrecord_roundtrip",
    "io_arrowipc_roundtrip",
    "text_unigram_tiling",
    "text_wordpiece_tiling",
    "sketch_hll_registers",
    "sketch_kmv_values",
    "sketch_quantile_sample",
    "curation_quantile_filter",
    "eval_retrieval_metrics",
    "curation_corpus_diff",
    "text_vocab_drift",
    "curation_leakage_safe_split",
    "dedup_minhash_accuracy",
    "curation_mix_weights",
    "curation_pack_sequences",
    "curation_pipeline_report",
    "curation_epoch_plan",
    "curation_length_buckets",
    "curation_curriculum",
    "multimodal_png_decode",
    "multimodal_gif_decode",
    "multimodal_jpeg_decode",
    "multimodal_wav_features",
    "multimodal_mp4_decode",
    "multimodal_h264_frames",
    "multimodal_h264_pframes",
    "multimodal_image_phash",
    "dedup_image_phash_pairs",
    "multimodal_audio_fingerprint",
    "dedup_audio_match",
    "dedup_video_match",
    # event analytics
    "events_flow",
    "events_cohorts",
    "events_coverage",
    "events_funnel_steps",
    "events_sessions_rollup",
    "events_gap_stats",
    "events_stickiness",
    "events_rfm",
    "events_funnel_ci",
    # general analytics
    "tpch_q1ish",
    "tpch_q6ish",
    "tpch_join_revenue",
    "tpch_q5ish",
    "tpch_q14ish",
    "tpch_q4ish",
    "tpch_q16ish",
    "tpch_q19ish",
    "tpch_q10ish",
    "tpch_q13ish",
    "tpch_q17ish",
    "tpch_q22ish",
    "tpch_q15ish",
    "tpch_q7ish",
    "tpch_q8ish",
    "tpch_q9ish",
    "tpch_q2ish",
    "tpch_q11ish",
    "tpch_q20ish",
    "tpch_q21ish",
    # r10 heavy AUDIT entries last: each builds/saves/loads whole
    # indexes (or runs a gated AND an ungated search) 4×, and the
    # heap/page-cache state they leave behind measurably inflates
    # whatever runs next (ts_latency_quantiles 0.49 s isolated vs
    # 2.1 s right after this family) — at the tail they can only
    # pollute each other
    "sim_sq_index",
    "sim_sq_index_drift",
    # append last of the sq trio: its samples leave delta dirs on
    # the shared fixture path, which would otherwise grow the base
    # the drift entry scans
    "sim_sq_index_append",
    "ts_dtw_prefilter",
]


def session(app: str = "sparksiri-bench"):
    """The timing harnesses' SparkSession (bench.py and
    scripts/qbench.py): local[CPUS] with CPUS shuffle partitions and
    AQE coalescing at Spark's stock 1 MB floor. A smaller floor
    derived from input size was net-negative at 32 cores
    (OPTIMIZATION_r14.md); operators that need post-shuffle
    parallelism on small inputs pin it themselves
    (localdf.fan_out_keyed)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def main():
    spark = session()

    import registry
    from registry.sim import reset_bench_sq_delta

    # each entry's timed body: its declared bench body where it has
    # one (the declaration's fixture is built here, once, untimed),
    # else its driver-contract body
    qs = {n: e.bench(spark, SF_DIR) if e.bench else e.body
          for n, e in registry.entries().items()}

    # untimed warmup: JVM/codegen spin-up + file-index priming so the
    # timings measure steady-state query cost, not session startup
    errors = {}
    try:
        for t in ("events", "documents", "embeddings", "lineitem"):
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        qs["siri_count_to_one"](spark, SF_DIR).write \
            .format("noop").mode("overwrite").save()
        # ...including the Python/Arrow workers: the first pandas_udf
        # in a session forks the daemon + worker pool and initializes
        # Arrow IPC (1-5 s, high variance); without this the first
        # Arrow-kernel entry (dedup_simhash) absorbs that cost
        from siridb_server_spark.operators import dedup as D
        from siridb_server_spark.sources.testdata import load

        D.simhash(load(spark, SF_DIR, "documents").limit(64)).write \
            .format("noop").mode("overwrite").save()
        # ...and the heavy-tail entries' plan shapes (index assign/
        # delta-write/load/probe + the gated DTW): each spans ~5
        # fresh plan shapes, and without this their FIRST samples
        # measured Janino codegen + allocator spin-up (22 s vs the
        # 2.7 s steady state measured standalone), not the
        # operator. Append warms LAST and its delta is cleaned up
        # IN A FINALLY — a warm-phase failure mid-append would
        # otherwise leave a partial delta every timed drift/search
        # sample then scans (base+delta) while their warmed plans
        # compiled base-only: the exact mixed-state pollution the
        # tail ordering exists to avoid
        try:
            for _warm in ("sim_sq_index", "sim_sq_index_drift",
                          "ts_dtw_prefilter",
                          "sim_sq_index_append"):
                qs[_warm](spark, SF_DIR).write \
                    .format("noop").mode("overwrite").save()
        finally:
            reset_bench_sq_delta(SF_DIR)
    except Exception as exc:  # still bench what we can
        errors["_warmup"] = repr(exc)

    # session-hygiene guard: a query that leaks temp views or cached
    # RDDs into the session makes every LATER query pay for it (the
    # r8 driver bench showed a within-run monotonic slowdown on
    # tpch_q14ish that pointed at accumulating state). Snapshot the
    # session state once, assert nothing grows across the run, and
    # name the offender if it does.
    def _session_state():
        jsc = spark.sparkContext._jsc
        return (len(spark.catalog.listTables()),
                jsc.getPersistentRDDs().size())

    # settle before baselining: fixture-era frames whose last
    # reference died with the build are reaped by the ContextCleaner
    # asynchronously, and the first timed query would get blamed for
    # them — force that reap and wait for the persistent-RDD map to
    # stabilize.
    import gc as _gc
    import time as _time

    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    _prev = None
    for _ in range(20):
        _cur = _session_state()
        if _cur == _prev:
            break
        _prev = _cur
        _time.sleep(0.5)

    state0 = _session_state()
    hygiene = {}

    # measurement-only subset filter (additions-only harness knob):
    # SPARK_GRAFT_BENCH_ONLY="a,b,c" times just those entries (same
    # order, same fixtures, same methodology) for interleaved
    # per-entry A/Bs; unset = the full driver contract, unchanged
    _only = {n for n in os.environ.get(
        "SPARK_GRAFT_BENCH_ONLY", "").split(",") if n}

    timings = {}
    runs_detail = {}
    total = 0.0
    for name in BENCH_QUERIES:
        if _only and name not in _only:
            continue
        fn = qs.get(name)
        if fn is None:
            errors[name] = "missing queries() entry"
            continue
        # best of 4: the first run pays one-time Janino codegen
        # compilation for this plan shape; later runs are steady
        # state, which is what a long-lived cluster session would
        # see. Four samples because the box carries outside
        # noisy-neighbor load AND JVM heap/GC state depends on which
        # queries ran before this one — round-6's "sim-family
        # regressions" (up to 2.4×) turned out to be exactly this
        # (interleaved isolated A/B showed identical mins), so the
        # raw samples are now recorded per query: a future
        # round-over-round delta is only real if it clears the
        # recorded sample spread.
        samples = []
        try:
            for _ in range(int(os.environ.get(
                    "SPARK_GRAFT_BENCH_RUNS", "4"))):
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:
            # one broken query must not zero out the whole bench:
            # record the failure and keep timing the rest
            errors[name] = repr(exc)[:500]
            state0 = _session_state()
            continue
        best = min(samples)
        timings[name] = round(best, 3)
        runs_detail[name] = [round(s, 3) for s in samples]
        total += best
        state1 = _session_state()
        if state1 != state0:
            hygiene[name] = {"tables": state1[0] - state0[0],
                             "cached_rdds": state1[1] - state0[1]}
            state0 = state1

    # ingest throughput: canonicalize + partitioned-store append of
    # the full events table (the reference's envelope is thousands of
    # points per insert batch; this is one 100k-point batch at sf0.1)
    import shutil
    import tempfile

    from siridb_server_spark.sources.store import PointsStore
    from siridb_server_spark.sources.testdata import events_points

    tmp = tempfile.mkdtemp(prefix="sparksiri-bench-")
    try:
        if _only and "ingest_events_store" not in _only:
            raise StopIteration  # subset sweep skips ingest
        # best of 2 over FRESH stores (an append mutates state, so
        # repeating on the same store wouldn't measure the same work)
        pts = events_points(spark, SF_DIR)
        dt = None
        for i in range(2):
            store = PointsStore(f"{tmp}/db{i}", 604800 * 10 ** 9,
                                259200 * 10 ** 9)
            t0 = time.perf_counter()
            store.append_df(pts)
            d = time.perf_counter() - t0
            dt = d if dt is None else min(dt, d)
        timings["ingest_events_store"] = round(dt, 3)
        total += dt
    except StopIteration:
        pass
    except Exception as exc:
        errors["ingest_events_store"] = repr(exc)[:500]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "sparksiri headline queries wall-clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": CPUS,
        # raw per-query samples (first = codegen-cold): deltas vs a
        # previous round are only real if they clear this spread
        "runs": runs_detail,
    }
    if errors:
        out["errors"] = errors
    if hygiene:
        out["hygiene_leaks"] = hygiene
    print(json.dumps(out))
    # the driver's capture window truncates stdout to its LAST 2000
    # chars (measured: BENCH_r13.json "tail" is exactly 2000), so the
    # 141-query map can never reach it inline (compact-encoded it is
    # ~3.4 KB). Persist the FULL result — queries, raw samples,
    # errors, hygiene — as a repo file next to this script
    # (VERDICT r13 "Next round" #3: BENCH_perq.json), one per core
    # count so the driver's 32- and 8-core runs don't overwrite each
    # other's per-query map and the scaling comparison has both.
    here = os.path.dirname(os.path.abspath(__file__))
    for perq in ([] if _only else
                 (os.path.join(here, "BENCH_perq.json"),
                  os.path.join(here, f"BENCH_perq_c{CPUS}.json"))):
        try:
            with open(perq, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: stdout still has everything
    local_path = os.environ.get("SPARK_GRAFT_BENCH_LOCAL")
    if local_path:
        with open(local_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    headline = {k: v for k, v in out.items()
                if k not in ("queries", "runs")}
    headline["n_queries"] = len(timings)
    headline["n_errors"] = len(errors)
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
