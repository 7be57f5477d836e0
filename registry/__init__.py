"""Driver-contract entry registry: one declaration per entry.

Each family module (``registry/siri.py``, ``registry/dedup.py``, ...)
declares its entries on a module-level ``R = Family(name)``:

- ``R.add(name, body, oracle)`` for an expression body, or
- ``@R.entry(name, oracle)`` above a ``def`` body.

A declaration holds the entry's name, family, Spark body
``(spark, sf_dir) -> DataFrame`` and DuckDB oracle SQL. An entry
whose headline timing should not include its gate body's untimed
work also names ``bench``: ``bench(spark, sf_dir)`` builds the
fixture once, untimed, and returns the timed body. An entry with
only ``bench`` is timed by bench.py and is not part of the driver
contract. ``__spark_entry__.queries()``/``oracle_sql()`` and bench.py
assemble from :func:`entries`; helpers more than one family uses live
in ``registry/_common.py``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterable
from dataclasses import dataclass

FAMILIES = ("siri", "dedup", "text", "sim", "ts", "tpch", "multimodal",
            "curation", "events", "sketch", "corpus")

#: the driver contract's name sequence. The driver's correctness run
#: checks the first 50 names only (CORRECTNESS_r14.json); every entry
#: keeps its oracle (scripts/check_oracle.py checks them all). The
#: sequence leads with the entries whose hashed contract changed last
#: (the transcendental-removal sweep and the P-frame decode) and ends
#: with entries that carry redundant pytest/golden coverage.
ORDER = """
text_unigram_lm text_bigram_lm text_trigram_lm text_vocab_stats
curation_mix_weights curation_epoch_plan curation_dsir text_quality_score
text_tfidf_sources text_bm25_search curation_sample_sources
multimodal_h264_pframes multimodal_image_phash dedup_image_phash_pairs
multimodal_audio_fingerprint dedup_audio_match dedup_video_match
curation_pipeline_report siri_count_bucket siri_sum_bucket siri_mean_bucket
siri_median_bucket siri_variance_bucket siri_first_bucket
siri_derivative_bucket siri_difference_points siri_derivative_points
siri_interval siri_filter_range siri_count_to_one siri_set_algebra
siri_where_length siri_merge_using_mean siri_offset_bucket
siri_limit_downsample siri_count_series_length dedup_exact dedup_cross_source
dedup_similar_docs dedup_cdc_tiling dedup_cdc_resync io_tfrecord_roundtrip
io_arrowipc_roundtrip sketch_hll_registers sketch_hll_merge
sketch_bloom_membership sketch_kmv_values sketch_kmv_merge
sketch_quantile_sample sketch_quantile_merge sketch_quantile_estimates
sketch_quantile_accuracy curation_quantile_filter corpus_skew_report
corpus_datacard ts_dtw_topk ts_sax_words ts_dtw_prefilter ts_dtw_knn_join
corpus_assign_ids curation_nb_lang_gate curation_nb_lang_gate_word
text_nb_confusion_ngram eval_retrieval_metrics curation_corpus_diff
text_vocab_drift curation_leakage_safe_split dedup_pipeline_summary
dedup_minhash_lsh dedup_minhash_accuracy dedup_simhash dedup_contamination
text_ngram_novelty dedup_bloom_novelty dedup_resolve dedup_resolve_quality
dedup_spans text_quality text_tokens text_approx_top_ngrams text_cms_accuracy
text_chunking text_sentences text_readability text_phrase_search
text_char_diversity curation_stratified_sample text_bpe_merges text_bpe_encode
text_wordpiece_vocab text_wordpiece_encode text_wordpiece_tiling
text_unigram_vocab text_unigram_encode text_unigram_tiling sim_label_centroids
sim_centroid_shift sim_standardize ts_asof_join ts_resample_interp
ts_backtest_seasonal ts_decompose ts_sessionize events_funnel ts_counter_rate
ts_zscore_anomalies curation_token_budget curation_shard_export
curation_length_buckets curation_curriculum sim_ann_recall ts_ewma
text_boilerplate dedup_containment events_cohorts events_flow
ts_seasonal_profile ts_latency_quantiles ts_seasonal_anomalies ts_corr_topk
ts_range_join sim_bruteforce_topk sim_dim_truncation_recall sim_knn_join
sim_ivf_knn_join sim_ivf_sq_knn_join sim_ivf_topk sim_cosine_pairs
multimodal_ppm_decode multimodal_png_decode multimodal_gif_decode
multimodal_jpeg_decode multimodal_gif_frames multimodal_mp4_decode
multimodal_mp4_frames multimodal_h264_frames multimodal_resize_any
multimodal_wav_features multimodal_ppm_resize multimodal_wav_decode
multimodal_audio_meta multimodal_wav_resample tpch_q1ish tpch_join_revenue
events_json_props tpch_q6ish tpch_monthly_revenue tpch_q3ish tpch_q5ish
tpch_q14ish tpch_q4ish tpch_q12ish tpch_q16ish tpch_q18ish tpch_q19ish
tpch_q10ish tpch_q13ish tpch_q17ish tpch_q22ish tpch_q15ish tpch_q7ish
tpch_q8ish tpch_q9ish tpch_q2ish tpch_q11ish tpch_q20ish tpch_q21ish
ts_moving_avg ts_rolling_median ts_holt_forecast ts_winsorize ts_mad ts_acf
ts_linear_trend ts_level_shifts ts_value_hist ts_pct_change ts_uptime
events_gap_stats events_stickiness events_rfm events_sessions_rollup
events_funnel_steps events_funnel_ci events_coverage ts_top_series
text_length_hist text_hybrid_rrf sim_mmr sim_dup_clusters sim_semdedup
sim_pq_ann sim_pq_knn_join sim_pq_index_append sim_pq_index_drift
dedup_embedding_contamination sim_sq_codes sim_sq_scores sim_sq_recall
sim_ivf_sq_topk sim_sq_index sim_sq_index_append sim_sq_index_drift
sim_sq_index_rebuild text_nb_model text_nb_confusion text_hash_embed
text_hash_embed_sim text_hash_embed_tfidf text_quality_percentile
text_quality_gate text_langid_confusion corpus_sketch_stats corpus_integrity
siri_min_bucket siri_max_bucket siri_median_low_bucket siri_median_high_bucket
siri_pvariance_bucket siri_stddev_bucket siri_last_bucket siri_timeval
siri_head siri_tail siri_first_to_one siri_difference_bucket
siri_minmax_int_to_one siri_sum_int_bucket siri_between_mean siri_catalog
text_langid text_clean text_pii_mask text_top_ngrams text_fingerprint
text_repetition text_topk_per_source dedup_ngram_jaccard
curation_pack_sequences curation_split sim_ivf_kmeans sim_lsh_topk
multimodal_meta multimodal_frames
""".split()


@dataclass(frozen=True)
class Entry:
    name: str
    family: str
    body: Callable | None
    oracle: str | None
    bench: Callable | None = None


class Family:
    """The entries one family module declares, in declaration order."""

    def __init__(self, name: str):
        self.name = name
        self.entries: list[Entry] = []

    def add(self, name: str, body: Callable | None, oracle: str | None,
            bench: Callable | None = None) -> None:
        self.entries.append(Entry(name, self.name, body, oracle, bench))

    def entry(self, name: str, oracle: str,
              bench: Callable | None = None) -> Callable:
        """Decorator form of :meth:`add` for a ``def`` body."""
        def declare(body: Callable) -> Callable:
            self.add(name, body, oracle, bench)
            return body
        return declare


def family_modules() -> list[Family]:
    return [importlib.import_module(f"registry.{f}").R for f in FAMILIES]


def entries(families: Iterable[Family] | None = None,
            order: list[str] = ORDER) -> dict[str, Entry]:
    """Every declared entry: the contract entries in ``order``, then
    the bench-only ones. A name declared twice, or a contract entry
    missing from ``order`` (or vice versa), fails here."""
    found: dict[str, Entry] = {}
    for fam in family_modules() if families is None else families:
        for e in fam.entries:
            if e.name in found:
                raise ValueError(
                    f"entry {e.name!r} declared by both "
                    f"{found[e.name].family!r} and {e.family!r}")
            found[e.name] = e
    contract = {n for n, e in found.items() if e.body is not None}
    if contract != set(order):
        raise ValueError(
            "ORDER and the declared entries differ: "
            f"{sorted(contract.symmetric_difference(order))}")
    return {**{n: found[n] for n in order},
            **{n: e for n, e in found.items() if n not in contract}}
