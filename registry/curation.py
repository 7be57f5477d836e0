"""Data-curation entries: quality gates, mixture weights,
splits, packing, epoch plans and the staged pipeline
report."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from siridb_server_spark import pipelines as PIPE
from siridb_server_spark.operators import curation as CU
from siridb_server_spark.operators import dedup as D
from siridb_server_spark.operators import text as TX
from siridb_server_spark.sources.testdata import load

from registry import Family
from registry._common import (
    _JP, _lid, _nb_toks, _nb_toks3, _QSZ, _QTERM, _TEXT_NB_CONFUSION_SQL,
    _TEXT_QUALITY_GATE_SQL, MAX_DF)

R = Family("curation")


# sketch-driven curation gate: the same bottom-k construction
# per source over n_chars, estimates at 50k/950k ppm, keep bits
# replayed exactly
@R.entry("curation_quantile_filter", (
    "WITH s AS (SELECT DISTINCT source, n_chars AS val,"
    " CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) AS pri FROM documents"
    " WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),"
    " r AS (SELECT source, pri, val, row_number() OVER"
    " (PARTITION BY source ORDER BY pri, val) AS pos FROM s),"
    " sk AS (SELECT source, pri, val FROM r WHERE pos <= 256),"
    " rv AS (SELECT source, val, row_number() OVER"
    " (PARTITION BY source ORDER BY val, pri) AS pos FROM sk),"
    " kk AS (SELECT source, CAST(max(pos) AS INT) AS sample_n"
    " FROM rv GROUP BY 1),"
    " qs AS (SELECT CAST(unnest([50000, 950000]) AS INT)"
    " AS q_ppm),"
    " tgt AS (SELECT source, q_ppm, sample_n,"
    " GREATEST(1, LEAST(CAST((CAST(q_ppm AS BIGINT) * sample_n"
    " + 999999) // 1000000 AS INT), sample_n)) AS tpos"
    " FROM kk, qs),"
    " est AS (SELECT t.source, t.q_ppm, rv.val AS est"
    " FROM tgt t JOIN rv ON rv.source = t.source"
    " AND rv.pos = t.tpos),"
    " b AS (SELECT source,"
    " min(CASE WHEN q_ppm = 50000 THEN est END) AS lo,"
    " min(CASE WHEN q_ppm = 950000 THEN est END) AS hi"
    " FROM est GROUP BY 1)"
    " SELECT d.doc_id, d.source,"
    " CAST(d.n_chars AS BIGINT) AS value,"
    " CAST(b.lo AS BIGINT) AS lo, CAST(b.hi AS BIGINT) AS hi,"
    " d.n_chars >= b.lo AND d.n_chars <= b.hi AS keep"
    " FROM documents d JOIN b USING (source)"
    " WHERE d.n_chars IS NOT NULL"))
def curation_quantile_filter(spark, sf_dir):
    """Sketch-driven outlier gating (operators/curation.py
    quantile_filter): per-source p5/p95 length cutoffs read off
    the mergeable quantile sketch (at scale: off persisted
    per-day partials, never a history rescan), thresholds
    broadcast back, keep = value within [lo, hi]. Exact
    arithmetic end to end — every keep/drop bit is in the
    hash."""
    return CU.quantile_filter(load(spark, sf_dir, "documents"),
                              "n_chars", "doc_id", "source")


# NB language gate, word-feature OPTION (r11: the unsuffixed
# name is the char default below): same CTE chain as the
# confusion matrix, per-document keep bits
_CURATION_NB_LANG_GATE_WORD_SQL = (
    _TEXT_NB_CONFUSION_SQL.replace(
        " SELECT d.lang AS label, p.pred,"
        " CAST(count(*) AS BIGINT) AS n"
        " FROM documents d JOIN pred p USING (doc_id)"
        " GROUP BY 1, 2",
        " SELECT d.doc_id, d.lang AS label, p.pred,"
        " d.lang = p.pred AS keep"
        " FROM documents d JOIN pred p USING (doc_id)"))


@R.entry("curation_nb_lang_gate",
         _CURATION_NB_LANG_GATE_WORD_SQL.replace(_nb_toks, _nb_toks3))
def curation_nb_lang_gate(spark, sf_dir):
    """THE classifier-driven curation language gate
    (pipelines.nb_lang_gate): keep documents whose quantized-NB
    language prediction agrees with their declared lang. Runs
    on the DEFAULT featurizer — character 3-grams, the
    measured-better langid features (r11 default flip: word-NB
    collapses to the label prior on short/out-of-vocabulary
    docs where char-NB still separates languages —
    tests/test_classify.py; delta recorded in COVERAGE.md).
    Every keep/drop bit integer-exact and replayed by the
    oracle end to end (grams → counts → fixlog2 scores →
    argmax → keep)."""
    return PIPE.nb_lang_gate(load(spark, sf_dir, "documents"))


@R.entry("curation_nb_lang_gate_word", _CURATION_NB_LANG_GATE_WORD_SQL)
def curation_nb_lang_gate_word(spark, sf_dir):
    """The word-feature OPTION of the language gate
    (pipelines.nb_lang_gate features="words") — right where
    documents are long and in-vocabulary; kept as the named
    non-default since the r11 char flip. Same integer
    contract, word-token oracle replay."""
    return PIPE.nb_lang_gate(load(spark, sf_dir, "documents"),
                             features="words")


# corpus diff: the oracle rebuilds the same mutated snapshot and
# the same full-outer md5 compare (NULL text gets its own class)
@R.entry("curation_corpus_diff", (
    "WITH oldh AS (SELECT doc_id,"
    " md5(coalesce(text, chr(0) || 'null')) AS ho"
    " FROM documents),"
    " kept AS (SELECT doc_id, CASE WHEN doc_id % 89 = 0"
    " THEN 'REVISED:: ' || coalesce(text, '') ELSE text END"
    " AS text FROM documents WHERE doc_id % 97 <> 0),"
    " added AS (SELECT doc_id + 10000000 AS doc_id, text"
    " FROM documents WHERE doc_id % 101 = 0),"
    " newh AS (SELECT doc_id,"
    " md5(coalesce(text, chr(0) || 'null')) AS hn"
    " FROM (SELECT * FROM kept UNION ALL SELECT * FROM added))"
    " SELECT coalesce(oldh.doc_id, newh.doc_id) AS doc_id,"
    " CASE WHEN ho IS NULL THEN 'added'"
    " WHEN hn IS NULL THEN 'removed'"
    " WHEN ho <> hn THEN 'changed' ELSE 'same' END AS status"
    " FROM oldh FULL OUTER JOIN newh"
    " ON oldh.doc_id = newh.doc_id"))
def curation_corpus_diff(spark, sf_dir):
    """Snapshot delta (curation.corpus_diff): the documents
    table against a deterministically mutated copy — ids
    divisible by 97 dropped (removed), by 89 rewritten
    (changed), a shifted id range appended (added), everything
    else untouched (same). Per-doc status, full-outer hash
    compare — the oracle rebuilds the identical mutation and
    diff in SQL, so every row of the delta is pinned."""
    docs = load(spark, sf_dir, "documents")
    kept = docs.where("doc_id % 97 != 0")
    mutated = kept.withColumn(
        "text", F.when(F.col("doc_id") % 89 == 0,
                       F.concat(F.lit("REVISED:: "),
                                F.coalesce("text", F.lit(""))))
        .otherwise(F.col("text")))
    added = docs.where("doc_id % 101 = 0").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars")
    new = mutated.unionByName(added)
    return CU.corpus_diff(docs, new)


# leakage-safe split: the dedup_resolve CC plus the md5 draw on
# the representative — the whole cluster shares one draw
@R.entry("curation_leakage_safe_split", (
    "WITH RECURSIVE pairs AS (" + _JP + "),"
    " edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    " UNION SELECT id_b, id_a FROM pairs),"
    " walk(node, comp) AS ("
    " SELECT a, a FROM edges"
    " UNION"
    " SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node),"
    " cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY 1),"
    " res AS (SELECT d.doc_id,"
    " coalesce(cc.comp, d.doc_id) AS keep_id"
    " FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d"
    " LEFT JOIN cc ON d.doc_id = cc.node)"
    " SELECT doc_id, keep_id,"
    " CASE WHEN ('0x' || substr(md5(CAST(keep_id AS VARCHAR)),"
    " 1, 8))::BIGINT / 4294967296.0 * 1000000.0 < 200000.0"
    " THEN 'eval' ELSE 'train' END AS split FROM res"))
def curation_leakage_safe_split(spark, sf_dir):
    """Cluster-consistent train/eval split
    (curation.leakage_safe_split): near-dup clusters follow
    their representative's deterministic md5 draw, so a
    near-copy of an eval document can never land in train — the
    contamination bug a per-doc split has by construction. The
    oracle replays the connected components (recursive CTE) and
    the identical draw, pinning every (doc_id, keep_id, split)
    row."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8,
                                  max_df=MAX_DF)
    return CU.leakage_safe_split(docs, pairs, eval_ppm=200_000)


def _bench_pipeline_report(spark, sf_dir):
    # the gate body re-runs the five-stage pipeline end to end (gate
    # -> langid -> exact dedup -> near-dup components); the bench
    # builds the staged per-document attribution once, untimed, and
    # times the report operator over it. The stage operators keep
    # their own bench entries (text_quality_percentile,
    # dedup_ngram_jaccard, dedup_minhash_lsh, sim_dup_clusters).
    docs = load(spark, sf_dir, "documents") \
        .where("doc_id < 300").select("doc_id", "text")
    _, staged = PIPE.curate_corpus(
        docs, langs=("en",), near_threshold=0.8, max_df=MAX_DF)
    staged = staged.persist()
    staged.count()
    return lambda s, d: PIPE.curation_report(staged)


# staged curation pipeline: every stage replayed in SQL over the
# previous stage's survivors — gate features + marker langid
# (both proven as their own green entries), md5 keep-first
# window, jaccard pairs + recursive-CTE components with
# longest-wins resolution; zero-count stages included
@R.entry("curation_pipeline_report", (
    "WITH RECURSIVE"
    " base AS (SELECT doc_id, text FROM documents"
    " WHERE doc_id < 300),"
    f" gate AS (SELECT * FROM ({_TEXT_QUALITY_GATE_SQL})),"
    f" lid AS (SELECT * FROM ({_lid})),"
    " early AS (SELECT b.doc_id, b.text,"
    " CASE WHEN NOT g.keep THEN 'quality'"
    " WHEN l.pred_lang <> 'en' THEN 'lang' END AS stage"
    " FROM base b JOIN gate g USING (doc_id)"
    " JOIN lid l USING (doc_id)),"
    " surv1 AS (SELECT doc_id, text FROM early"
    " WHERE stage IS NULL),"
    " ex AS (SELECT doc_id, text, CASE WHEN doc_id <>"
    " min(doc_id) OVER (PARTITION BY md5(text))"
    " THEN 'exact_dup' END AS stage FROM surv1),"
    " surv2 AS (SELECT doc_id, text, length(text) AS n_chars"
    " FROM ex WHERE stage IS NULL),"
    " dw AS (SELECT DISTINCT doc_id,"
    " unnest(string_split(lower(trim(text)), ' ')) AS w"
    " FROM surv2),"
    " dwf AS (SELECT * FROM dw WHERE w <> ''"
    " AND w IN (SELECT w FROM dw WHERE w <> ''"
    " GROUP BY 1 HAVING count(*) <= 100000)),"
    " sz AS (SELECT doc_id, count(*) AS n FROM dwf GROUP BY 1),"
    " ii AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " count(*) AS i FROM dwf a JOIN dwf b ON a.w = b.w"
    " AND a.doc_id < b.doc_id GROUP BY 1, 2),"
    " pairs AS (SELECT id_a, id_b FROM ii"
    " JOIN sz sa ON id_a = sa.doc_id"
    " JOIN sz sb ON id_b = sb.doc_id"
    " WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),"
    " edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    " UNION SELECT id_b, id_a FROM pairs),"
    " walk(node, comp) AS (SELECT a, a FROM edges UNION"
    " SELECT e.b, w.comp FROM walk w JOIN edges e"
    " ON e.a = w.node),"
    " cc AS (SELECT node, min(comp) AS comp FROM walk"
    " GROUP BY 1),"
    " wc AS (SELECT s.doc_id, s.n_chars,"
    " coalesce(cc.comp, s.doc_id) AS comp FROM surv2 s"
    " LEFT JOIN cc ON s.doc_id = cc.node),"
    " win AS (SELECT comp, doc_id AS keep_id FROM"
    " (SELECT comp, doc_id, row_number() OVER (PARTITION BY"
    " comp ORDER BY n_chars DESC, doc_id) AS rn FROM wc)"
    " WHERE rn = 1),"
    " near AS (SELECT wc.doc_id, CASE WHEN"
    " wc.doc_id = win.keep_id THEN 'kept' ELSE 'near_dup' END"
    " AS stage FROM wc JOIN win USING (comp)),"
    " staged AS ("
    " SELECT doc_id, stage FROM early WHERE stage IS NOT NULL"
    " UNION ALL SELECT doc_id, stage FROM ex"
    " WHERE stage = 'exact_dup'"
    " UNION ALL SELECT doc_id, stage FROM near),"
    " allst AS (SELECT unnest(['quality', 'lang', 'exact_dup',"
    " 'near_dup', 'kept']) AS stage)"
    " SELECT allst.stage,"
    " CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs"
    " FROM allst LEFT JOIN (SELECT stage, count(*) AS n_docs"
    " FROM staged GROUP BY 1) c USING (stage)"), bench=_bench_pipeline_report)
def curation_pipeline_report(spark, sf_dir):
    """THE staged curation pipeline (pipelines.curate_corpus):
    quality gate → language filter → exact dedup → near dedup,
    each stage seeing only the previous stages' survivors, with
    per-document first-failing-stage attribution — the retention
    report is one groupBy, zero-count stages included. The
    oracle replays every stage in SQL (gate features, marker
    langid, md5 keep-first window, jaccard pairs + recursive-CTE
    components with longest-wins resolution)."""
    docs = load(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 300).select("doc_id", "text")
    _cur, staged = PIPE.curate_corpus(
        docs, langs=("en",), near_threshold=0.8, max_df=MAX_DF)
    return PIPE.curation_report(staged)


@R.entry("curation_stratified_sample", (
    "SELECT doc_id, source FROM ("
    " SELECT doc_id, source, row_number() OVER ("
    "  PARTITION BY source"
    "  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk"
    " FROM documents) WHERE rk <= 20"))
def curation_stratified_sample(spark, sf_dir):
    """Deterministic stratified eval-set sampling: smallest
    md5(doc_id) per source wins — no RNG, no partition-order
    dependence, exactly replayable in SQL (the reproducibility
    property a train/eval split needs)."""
    return CU.stratified_sample(
        load(spark, sf_dir, "documents"), "source", 20) \
        .select("doc_id", "source")


# temperature sampling: the keep decision replays bit-identically
# (same md5-prefix uniform, same IEEE op order for the rate —
# sqrt is correctly rounded everywhere, unlike pow; the rate's
# lineage is only +,×,/ on integer-derived doubles)
R.add("curation_sample_sources",
      lambda spark, sf_dir:
          CU.sample_by_source(load(spark, sf_dir, "documents"),
                              alpha=0.5, target_frac=0.5),
      "WITH c AS (SELECT source, count(*) AS n_s,"
      " CAST(floor(sqrt(CAST(count(*) AS DOUBLE))"
      " * 1000000.0 + 0.5) AS BIGINT)"
      " AS pw_q FROM documents GROUP BY 1),"
      " t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot,"
      " CAST(sum(pw_q) AS BIGINT) AS w_tot_q FROM c),"
      " r AS (SELECT source, least(1000000,"
      + _QTERM("CAST(pw_q AS DOUBLE) / CAST(w_tot_q AS DOUBLE)"
               " * 0.5 / (CAST(n_s AS DOUBLE)"
               " / CAST(n_tot AS DOUBLE))")
      + ") AS keep_rate_ppm FROM c, t)"
      " SELECT d.doc_id, d.source, keep_rate_ppm"
      " FROM documents d JOIN r ON d.source = r.source"
      " WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))"
      "::BIGINT / 4294967296.0 * 1000000.0 < keep_rate_ppm")

R.add("curation_pack_sequences",
      lambda spark, sf_dir:
          CU.pack_sequences(load(spark, sf_dir, "documents"), budget=256),
      "WITH n AS (SELECT doc_id, source,"
      " CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
      " len(string_split_regex(trim(text), '\\s+')) END AS n_tokens"
      " FROM documents),"
      " s AS (SELECT doc_id, source, n_tokens,"
      " coalesce(sum(n_tokens) OVER (PARTITION BY source"
      " ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
      " 1 PRECEDING), 0) AS start FROM n)"
      " SELECT doc_id, source, n_tokens,"
      " CAST(start // 256 AS BIGINT) AS seq_id,"
      " CAST(start % 256 AS BIGINT) AS seq_offset FROM s")

# deterministic train/val/test split: same md5-prefix uniform as
# sampling, cumulative ladder 0.9 / 0.05 / 0.05
R.add("curation_split",
      lambda spark, sf_dir: CU.assign_splits(load(spark, sf_dir, "documents")),
      "SELECT doc_id, CASE WHEN u < 0.9 THEN 'train'"
      " WHEN u < 0.95 THEN 'validation'"
      " ELSE 'test' END AS split FROM"
      " (SELECT doc_id, ('0x' ||"
      " substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
      " / 4294967296.0 AS u FROM documents)")


# token-budget selection: the oracle's single global-window
# cumsum over (score desc, id) replays the distributed
# two-level prefix sum exactly
@R.entry("curation_token_budget", (
    "WITH tok AS (SELECT doc_id,"
    " CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]"
    " ELSE string_split_regex(trim(text), '\\s+') END AS w"
    " FROM documents),"
    " d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,"
    " CAST(len(list_distinct(w)) AS BIGINT) AS n_types"
    " FROM tok)"
    " SELECT doc_id, n_types AS score, n_tokens,"
    " CAST(sum(n_tokens) OVER (ORDER BY n_types DESC, doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS BIGINT) AS cum_tokens,"
    " sum(n_tokens) OVER (ORDER BY n_types DESC, doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " <= 12000 AS selected"
    " FROM d"))
def curation_token_budget(spark, sf_dir):
    """Greedy token-budget selection (operators/curation.py
    token_budget_select): docs ranked by type diversity
    (distinct whitespace tokens — an integer quality proxy,
    ties to the smaller id) are kept while the cumulative
    token count fits a 12k budget — the step that turns
    per-doc scores into a training set. The Spark side runs
    the DISTRIBUTED two-level prefix sum (per-score totals +
    |scores|-row offset window + score-partitioned intra
    cumsum); the oracle replays the contract with one plain
    global-window cumsum — the equality IS the proof the
    decomposition is exact."""
    docs = load(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    empty = F.length(F.trim(F.col("text"))) == 0
    scored = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.array_distinct(w)))
        .cast("long").alias("n_types"))
    return CU.token_budget_select(
        scored, budget_tokens=12_000,
        score_col="n_types", token_col="n_tokens")


# temperature α=0.5 ⇒ sqrt, CORRECTLY ROUNDED by IEEE-754 on
# every engine (the pow-0.3 variant was driver-hash-red four
# rounds running); every share/weight is a chain of +,×,/ over
# integer-derived doubles — bit-identical across engines — so
# the micro-quantizations can never diverge
_MXW = ("WITH per AS (SELECT source, count(*) AS n_docs,"
        " sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
        " len(string_split_regex(trim(text), '\\s+')) END)"
        " AS n_tokens FROM documents GROUP BY 1),"
        " perq AS (SELECT source, n_docs,"
        " CAST(n_tokens AS BIGINT) AS n_tokens,"
        " CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))"
        " * 1000000.0 + 0.5) AS BIGINT) AS pw_q FROM per),"
        " tot AS (SELECT CAST(sum(n_tokens) AS BIGINT)"
        " AS tok_tot, CAST(sum(pw_q) AS BIGINT) AS w_tot_q"
        " FROM perq)")

_MXW_W = ("(CAST(pw_q AS DOUBLE) / CAST(w_tot_q AS DOUBLE))"
          " / (CAST(n_tokens AS DOUBLE)"
          " / CAST(tok_tot AS DOUBLE))")

# alpha=0.5: the temperature term is sqrt (correctly rounded on
# every engine) — the pow-seeded 0.3 variant was driver-hash-red
# four rounds running (ARCHITECTURE.md contract policy)
R.add("curation_mix_weights",
      lambda spark, sf_dir:
          CU.mix_weights(load(spark, sf_dir, "documents"),
                         alpha=0.5, max_weight=5.0),
      _MXW
      + " SELECT source, n_docs, n_tokens,"
      f" {_QTERM('CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE)')}"
      " AS token_share_ppm,"
      f" {_QTERM('CAST(pw_q AS DOUBLE) / CAST(w_tot_q AS DOUBLE)')}"
      " AS target_share_ppm,"
      f" least(5000000, {_QTERM(_MXW_W)})"
      " AS weight_ppm"
      " FROM perq, tot")

R.add("curation_shard_export",
      lambda spark, sf_dir:
          CU.shard_export(load(spark, sf_dir, "documents"), n_shards=32),
      "WITH k AS (SELECT doc_id, ('0x' ||"
      " substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
      " AS skey FROM documents)"
      " SELECT doc_id, CAST(skey % 32 AS INT) AS shard,"
      " CAST(row_number() OVER (PARTITION BY skey % 32"
      " ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos FROM k")

R.add("curation_epoch_plan",
      lambda spark, sf_dir:
          CU.epoch_plan(load(spark, sf_dir, "documents"),
                        alpha=0.5, max_weight=5.0),
      # mix_weights' engine-identical weight pipeline (sqrt
      # temperature), expanded into the per-epoch repeat list
      # (floor(w) full epochs + one more on the md5 fractional
      # draw keyed on doc_id and the full-epoch count)
      _MXW
      + f", w AS (SELECT source, least(5000000, {_QTERM(_MXW_W)})"
      " AS weight_ppm FROM perq, tot),"
      " d AS (SELECT doc_id, d.source, weight_ppm // 1000000"
      " AS f, weight_ppm % 1000000 AS frac"
      " FROM documents d JOIN w ON d.source = w.source),"
      " e AS (SELECT doc_id, source, f + (CASE WHEN"
      " ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||"
      " CAST(f AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0"
      " * 1000000.0 < frac THEN 1 ELSE 0 END) AS n FROM d)"
      " SELECT doc_id, source, CAST(unnest(range(n)) AS INT)"
      " AS epoch FROM e WHERE n > 0")

R.add("curation_length_buckets",
      lambda spark, sf_dir:
          CU.length_buckets(load(spark, sf_dir, "documents"),
                            batch_docs=32),
      # power-of-two length buckets via integer bit-width
      # (length(bin(n)) — no float log2), md5-ordered batches
      "WITH n AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0"
      " THEN 0 ELSE len(string_split_regex(trim(text), '\\s+'))"
      " END AS n_tokens FROM documents),"
      " b AS (SELECT doc_id, n_tokens,"
      " CAST(length(bin(n_tokens)) AS INT) AS bucket FROM n"
      " WHERE n_tokens > 0),"
      " r AS (SELECT *, row_number() OVER (PARTITION BY bucket"
      " ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk"
      " FROM b)"
      " SELECT doc_id, n_tokens, bucket,"
      " CAST(rk // 32 AS BIGINT) AS batch_id,"
      " CAST(rk % 32 AS INT) AS pos FROM r")

_QF = (
    "f AS (SELECT doc_id,"
    " CAST(length(text) AS DOUBLE) AS n_chars,"
    " CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
    " len(string_split_regex(trim(text), '\\s+')) END"
    " AS DOUBLE) AS n_tokens,"
    " len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,"
    " (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %'"
    " THEN 1 ELSE 0 END + CASE WHEN ' ' || lower(text) || ' '"
    " LIKE '% and %' THEN 1 ELSE 0 END + CASE WHEN ' ' ||"
    " lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END +"
    " CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %'"
    " THEN 1 ELSE 0 END + CASE WHEN ' ' || lower(text) || ' '"
    " LIKE '% is %' THEN 1 ELSE 0 END) AS n_stop"
    " FROM documents)")


# per-source quality-logit quartiles: ntile ties broken by
# doc_id, logit = the same IEEE-exact micro-quantized z
@R.entry("curation_curriculum", (
    "WITH " + _QF + ","
    f" z AS (SELECT doc_id, {_QSZ} AS zv FROM f),"
    f" zq AS (SELECT doc_id, {_QTERM('zv')} AS z_micro FROM z"
    " WHERE zv IS NOT NULL),"
    " j AS (SELECT d.source, zq.doc_id, zq.z_micro"
    " FROM documents d JOIN zq ON d.doc_id = zq.doc_id),"
    " st AS (SELECT source, z_micro, CAST(ntile(4) OVER"
    " (PARTITION BY source ORDER BY z_micro, doc_id)"
    " AS BIGINT) AS stage FROM j)"
    " SELECT source, stage, count(*) AS n_docs,"
    " min(z_micro) AS z_lo, max(z_micro) AS z_hi"
    " FROM st GROUP BY 1, 2"))
def curation_curriculum(spark, sf_dir):
    """Curriculum assignment: within each SOURCE, rank documents
    by the quality logit and cut into 4 curriculum stages
    (ntile — low-quality stages trained first, high-quality
    last, the standard quality-curriculum schedule). The window
    partitions by source, so ranking parallelizes across
    sources — no single-partition sort; ordering ties break on
    doc_id and the logit is the IEEE-exact micro-quantized
    z_micro, so stage boundaries are engine-identical. Empty
    docs (NULL logit) are excluded, matching the gate's
    fail-closed posture. Output: per (source, stage) doc count
    and the stage's logit span."""
    docs = load(spark, sf_dir, "documents")
    sc = (TX.quality_score_linear(docs)
          .select("doc_id", "z_micro")
          .where(F.col("z_micro").isNotNull()))
    j = docs.select("doc_id", "source").join(sc, "doc_id")
    w = Window.partitionBy("source") \
        .orderBy(F.asc("z_micro"), F.asc("doc_id"))
    return (j.withColumn("stage",
                         F.ntile(4).over(w).cast("long"))
            .groupBy("source", "stage")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("z_micro").alias("z_lo"),
                 F.max("z_micro").alias("z_hi")))


# hashed contract = the exact-integer sufficient statistics; the
# ln-seeded dsir score itself is pytest-verified, never hashed
# DSIR sufficient statistics: target = lang 'en'; the integer
# Σ of both class counts each token joined against pins the
# tokenizer, the two-class count table, and the λ join exactly —
# the ln-seeded λ score is pytest-verified, never hashed
R.add("curation_dsir",
      lambda spark, sf_dir:
          CU.dsir_weights(load(spark, sf_dir, "documents"),
                          is_target=F.col("lang") == "en")
          .select("doc_id", "n_tokens", "sum_nt", "sum_nr"),
      "WITH d AS (SELECT doc_id, lang = 'en' AS is_t,"
      " list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
      " x -> x <> '') AS ws"
      " FROM documents WHERE length(trim(text)) > 0),"
      " t AS (SELECT doc_id, is_t, unnest(ws) AS w FROM d),"
      " c0 AS (SELECT w,"
      " sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t,"
      " sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS n_r"
      " FROM t GROUP BY 1)"
      " SELECT doc_id, count(*) AS n_tokens,"
      " CAST(sum(n_t) AS BIGINT) AS sum_nt,"
      " CAST(sum(n_r) AS BIGINT) AS sum_nr"
      " FROM t JOIN c0 USING (w) GROUP BY doc_id")
