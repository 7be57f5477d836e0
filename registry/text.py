"""Text-analysis entries: language models, tokenizers,
quality scoring, tf-idf/BM25 retrieval, classification."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from siridb_server_spark.functions.stable import INT_PPM_SQL, SCALED_TERM_SQL
from siridb_server_spark.localdf import arrow_df
from siridb_server_spark.operators import bpe as BPE
from siridb_server_spark.operators import classify as CL
from siridb_server_spark.operators import dedup as D
from siridb_server_spark.operators import text as TX
from siridb_server_spark.sources.testdata import load, table_bytes

from registry import Family
from registry._common import (
    _fix, _hits, _lid, _nb_counts, _nb_toks, _nb_toks3, _QSZ, _QTERM,
    _query_vec, _TEXT_NB_CONFUSION_SQL, _TEXT_QUALITY_GATE_SQL, marks)

R = Family("text")


# char-3-gram confusion matrix: the word chain with the token
# stream swapped, same matrix tail
@R.entry("text_nb_confusion_ngram",
         _TEXT_NB_CONFUSION_SQL.replace(_nb_toks, _nb_toks3))
def text_nb_confusion_ngram(spark, sf_dir):
    """The char-3-gram model's full confusion matrix — the
    accuracy surface the word-feature text_nb_confusion pins,
    on the featurizer real langid uses (same exact fixlog2
    integer scorer; zero-token short docs score the prior,
    r10). Oracle replays grams → counts → quantized scores →
    argmax → matrix end to end in SQL."""
    docs = load(spark, sf_dir, "documents")
    m = CL.nb_train(docs, label_col="lang",
                    features="chars", ngram_n=3)
    pred = CL.nb_predict_int(m, docs)
    return CL.nb_confusion(docs, pred, label_col="lang")


# vocab drift: identical mutation, tokenization, integer
# cross-product deviation, and top-k tie-break in SQL
@R.entry("text_vocab_drift", (
    "WITH newdocs AS (SELECT doc_id, CASE WHEN source = 'web'"
    " THEN coalesce(text, '') ||"
    " ' driftmarker phrase injected' ELSE text END AS text"
    " FROM documents),"
    " wo AS (SELECT unnest(string_split_regex(lower(text),"
    " '[^a-z0-9'']+')) AS term FROM documents),"
    " wn AS (SELECT unnest(string_split_regex(lower(text),"
    " '[^a-z0-9'']+')) AS term FROM newdocs),"
    " co AS (SELECT term, count(*) AS c_old FROM wo"
    " WHERE term <> '' GROUP BY 1),"
    " cn AS (SELECT term, count(*) AS c_new FROM wn"
    " WHERE term <> '' GROUP BY 1),"
    " t AS (SELECT (SELECT sum(c_old) FROM co) AS t_old,"
    " (SELECT sum(c_new) FROM cn) AS t_new),"
    " j AS (SELECT coalesce(co.term, cn.term) AS term,"
    " coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new"
    " FROM co FULL OUTER JOIN cn ON co.term = cn.term)"
    " SELECT term, CAST(c_old AS BIGINT) AS c_old,"
    " CAST(c_new AS BIGINT) AS c_new,"
    " CAST(abs(c_old * t_new - c_new * t_old) AS BIGINT) AS dev,"
    " CAST(t_old AS BIGINT) AS t_old,"
    " CAST(t_new AS BIGINT) AS t_new FROM j, t"
    " ORDER BY dev DESC, term LIMIT 20"))
def text_vocab_drift(spark, sf_dir):
    """Vocabulary drift between corpus snapshots
    (text.vocab_drift): top-20 terms by the integer
    cross-product deviation |c_old·T_new − c_new·T_old| against
    a mutated copy (every source='web' doc suffixed with a
    drift marker phrase) — the pre-training "did the crawl
    shift?" gate. TV distance replays as Σdev/(2·T_old·T_new)
    from the returned integers; no float in the contract."""
    docs = load(spark, sf_dir, "documents")
    new = docs.withColumn(
        "text", F.when(
            F.col("source") == "web",
            F.concat(F.coalesce("text", F.lit("")),
                     F.lit(" driftmarker phrase injected")))
        .otherwise(F.col("text")))
    return TX.vocab_drift(docs, new, k=20)


# n-gram novelty: the contamination CTE reversed — the scored
# slice left_anti-joins the reference's distinct shingles; the
# oracle joins on shingle STRINGS where Spark joins on their
# xxhash64 (the family's established hash↔string equivalence)
@R.entry("text_ngram_novelty", (
    "WITH tok AS (SELECT doc_id,"
    " list_filter(string_split(lower(trim(text)), ' '),"
    " x -> x <> '') AS w FROM documents),"
    " grams AS (SELECT doc_id, list_distinct(list_transform("
    " range(1, greatest(len(w) - 2, 1) + 1),"
    " i -> array_to_string(w[i:i+2], ' '))) AS gs FROM tok),"
    " x AS (SELECT doc_id, unnest(gs) AS g FROM grams),"
    " new AS (SELECT doc_id, g FROM x WHERE doc_id % 20 = 0),"
    " ref AS (SELECT DISTINCT g FROM x WHERE doc_id % 20 <> 0),"
    " tot AS (SELECT doc_id, count(*) AS n_ngrams FROM new"
    " GROUP BY 1),"
    " nov AS (SELECT doc_id, count(*) AS n_novel FROM new"
    " ANTI JOIN ref USING (g) GROUP BY 1)"
    " SELECT t.doc_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams,"
    " CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel"
    " FROM tot t LEFT JOIN nov USING (doc_id)"))
def text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (operators/dedup.py
    ngram_novelty): of each scored document's distinct 3-word
    shingles, how many never appear in the reference corpus —
    the freshness/memorization score of a new crawl against
    what the model already saw (the scoring mirror of
    dedup_contamination's threshold flag). Docs with doc_id %
    20 == 0 are the scored 'new' slice, the rest the
    reference; integer sufficient statistics (n_ngrams,
    n_novel), the ratio left to the caller."""
    docs = load(spark, sf_dir, "documents")
    return D.ngram_novelty(
        docs.where(F.col("doc_id") % 20 == 0),
        docs.where(F.col("doc_id") % 20 != 0), n=3)


R.add("text_quality",
      lambda spark, sf_dir: TX.quality_features(
          load(spark, sf_dir, "documents")),
      "SELECT doc_id, length(text) AS n_chars,"
      " CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
      " len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,"
      " round(length(text) * 1.0 /"
      " len(string_split_regex(trim(text), '\\s+')), 6)"
      " + 0.0 AS avg_token_len,"
      " len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,"
      " round(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0"
      " / length(text), 6) + 0.0 AS punct_ratio,"
      " round(len(regexp_extract_all(text, '[0-9]')) * 1.0"
      " / length(text), 6) + 0.0 AS digit_ratio,"
      " (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1"
      " ELSE 0 END + CASE WHEN ' ' || lower(text) || ' ' LIKE"
      " '% and %' THEN 1 ELSE 0 END + CASE WHEN ' ' || lower(text)"
      " || ' ' LIKE '% of %' THEN 1 ELSE 0 END + CASE WHEN ' ' ||"
      " lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END +"
      " CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1"
      " ELSE 0 END) AS n_stopwords FROM documents")


@R.entry("text_langid", _lid)
def text_langid(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       TX.lang_id(F.col("text")).alias("pred_lang"))


@R.entry("text_tokens", (
    "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
    " len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,"
    " len(regexp_extract_all(text,"
    " '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens"
    " FROM documents"))
def text_tokens(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_token_count(F.col("text")).alias("bpe_tokens"))


# cleaning / PII masking: regexes stay in the Java-regex ∩ RE2
# subset so both engines apply identical semantics (DuckDB needs
# the 'g' flag; Spark replaces all matches by default)
@R.entry("text_clean", (
    "SELECT doc_id, trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace(text, '<[^>]*>', ' ', 'g'),"
    " '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),"
    " '&quot;', '\"'), '&#39;', ''''), '&amp;', '&'),"
    " '\\s+', ' ', 'g')) AS cleaned FROM documents"))
def text_clean(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.clean_text(F.col("text")).alias("cleaned"))


@R.entry("text_pii_mask", (
    "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace("
    "text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',"
    " '<EMAIL>', 'g'),"
    " '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',"
    " '<IP>', 'g'),"
    " '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g')"
    " AS masked FROM documents"))
def text_pii_mask(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.mask_pii(F.col("text")).alias("masked"))


@R.entry("text_fingerprint", (
    "SELECT doc_id, md5(array_to_string(list_sort("
    "string_split_regex(trim(lower(text)), '\\s+')), ' ')) AS fp"
    " FROM documents"))
def text_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp"))


# repetition features: the oracle recomputes via unnest + GROUP BY
# (different algorithm, same result as the row-local sorted-run
# fold). All ratios: round(x,6)+0.0, empty docs → 0.0.
R.add("text_repetition",
      lambda spark, sf_dir: TX.repetition_features(
          load(spark, sf_dir, "documents")),
      "WITH w AS (SELECT doc_id, text,"
      " string_split_regex(trim(lower(text)), '\\s+') AS ws,"
      " list_filter(list_transform(string_split(text, chr(10)),"
      " l -> trim(l)), l -> l <> '') AS lines"
      " FROM documents),"
      " bg AS (SELECT doc_id, unnest(list_transform("
      " range(1, greatest(len(ws), 1)),"
      " i -> ws[i] || ' ' || ws[i+1])) AS g FROM w),"
      " bgc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM"
      " (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)"
      " GROUP BY 1),"
      " tg AS (SELECT doc_id, unnest(list_transform("
      " range(1, greatest(len(ws) - 1, 1)),"
      " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g"
      " FROM w),"
      " tgc AS (SELECT doc_id, sum(c) - count(*) AS dup_tg,"
      " sum(c) AS n_tg FROM (SELECT doc_id, g, count(*) AS c"
      " FROM tg GROUP BY 1, 2) GROUP BY 1)"
      " SELECT w.doc_id,"
      " CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END"
      " AS n_words,"
      " CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE coalesce("
      " round((len(ws) - len(list_distinct(ws))) * 1.0 / len(ws), 6)"
      " + 0.0, 0.0) END AS dup_word_frac,"
      " CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE coalesce("
      " round((len(lines) - len(list_distinct(lines))) * 1.0"
      " / len(lines), 6) + 0.0, 0.0) END AS dup_line_frac,"
      " CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE coalesce("
      " round(top_c * 1.0 / n_bg, 6) + 0.0, 0.0) END"
      " AS top_bigram_frac,"
      " CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE coalesce("
      " round(dup_tg * 1.0 / n_tg, 6) + 0.0, 0.0) END"
      " AS dup_trigram_frac"
      " FROM w LEFT JOIN bgc ON w.doc_id = bgc.doc_id"
      " LEFT JOIN tgc ON w.doc_id = tgc.doc_id")

# hashed contract = the exact-integer sufficient statistics of
# the tokenizer + count table + score join; the ln-seeded xent
# is pytest-verified, never hashed (same for bigram/trigram)
# unigram-LM sufficient statistics: DuckDB rebuilds the same
# corpus frequency table and score join (Spark groups by
# xxhash64(w), DuckDB by w itself — identical classes); only the
# exact-integer statistics are hashed, the ln-seeded xent is
# pytest-verified (ARCHITECTURE.md contract policy)
R.add("text_unigram_lm",
      lambda spark, sf_dir: TX.unigram_logprob(
          load(spark, sf_dir, "documents"))
          .select("doc_id", "n_tokens", "n_types", "sum_nw", "max_nw"),
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
      "trim(lower(text)), '\\s+')) AS w FROM documents"
      " WHERE length(trim(text)) > 0),"
      " t2 AS (SELECT doc_id, w FROM toks WHERE w <> ''),"
      " f AS (SELECT w, count(*) AS n_w FROM t2 GROUP BY 1)"
      " SELECT doc_id, count(*) AS n_tokens,"
      " count(DISTINCT w) AS n_types,"
      " CAST(sum(n_w) AS BIGINT) AS sum_nw,"
      " CAST(max(n_w) AS BIGINT) AS max_nw"
      " FROM t2 JOIN f USING (w) GROUP BY doc_id")

# corpus bigram census: exact counts, deterministic tie-break
R.add("text_top_ngrams",
      lambda spark, sf_dir: TX.top_ngrams(
          load(spark, sf_dir, "documents"), n=2, k=50),
      "WITH w AS (SELECT string_split_regex(trim(lower(text)),"
      " '\\s+') AS ws FROM documents"
      " WHERE length(trim(text)) > 0),"
      " g AS (SELECT unnest(list_transform(range(1, len(ws)),"
      " i -> array_to_string(ws[i:i+1], ' '))) AS ngram"
      " FROM w WHERE len(ws) >= 2),"
      " c AS (SELECT ngram, count(*) AS n_occurrences FROM g"
      " GROUP BY 1)"
      " SELECT ngram, n_occurrences FROM c"
      " ORDER BY n_occurrences DESC, ngram LIMIT 50")

# count-min heavy hitters: the md5-derived sketch hashes make the
# full estimate (including collision inflation) replayable in SQL
R.add("text_approx_top_ngrams",
      lambda spark, sf_dir:
          TX.approx_top_ngrams(load(spark, sf_dir, "documents"),
                               n=2, k=20,
                               est_bytes=table_bytes(sf_dir,
                                                     "documents")),
      "WITH w AS (SELECT doc_id, string_split_regex("
      "trim(lower(text)), '\\s+') AS ws FROM documents"
      " WHERE length(trim(text)) > 0),"
      " g AS (SELECT doc_id, unnest(list_transform("
      "range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')))"
      " AS g FROM w WHERE len(ws) >= 2),"
      " cells AS (SELECT r, ('0x' || substr(md5(g),"
      " CAST(1 + 8 * r AS INT), 8))::BIGINT % 4096"
      " AS c, count(*) AS cnt"
      " FROM g, range(0, 4) t(r) GROUP BY 1, 2),"
      " samp AS (SELECT g FROM g WHERE ('0x' ||"
      " substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
      " / 4294967296.0 < 0.25),"
      " cand AS (SELECT g, count(*) AS s_cnt FROM samp"
      " GROUP BY 1 ORDER BY s_cnt DESC, g LIMIT 200),"
      " cc AS (SELECT g, r, ('0x' || substr(md5(g),"
      " CAST(1 + 8 * r AS INT), 8))::BIGINT % 4096"
      " AS c FROM cand, range(0, 4) t(r)),"
      " est AS (SELECT g, min(cnt) AS est_count"
      " FROM cc JOIN cells USING (r, c) GROUP BY 1)"
      " SELECT g AS ngram, est_count FROM est"
      " ORDER BY est_count DESC, g LIMIT 20")

# count-min audit: same sketch/candidate CTEs, plus the exact
# count of each candidate gram — overshoot >= 0 is the sketch's
# never-underestimate theorem, carried row by row
R.add("text_cms_accuracy",
      lambda spark, sf_dir:
          TX.cms_accuracy(load(spark, sf_dir, "documents"), n=2,
                          est_bytes=table_bytes(sf_dir, "documents")),
      "WITH w AS (SELECT doc_id, string_split_regex("
      "trim(lower(text)), '\\s+') AS ws FROM documents"
      " WHERE length(trim(text)) > 0),"
      " g AS (SELECT doc_id, unnest(list_transform("
      "range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')))"
      " AS g FROM w WHERE len(ws) >= 2),"
      " cells AS (SELECT r, ('0x' || substr(md5(g),"
      " CAST(1 + 8 * r AS INT), 8))::BIGINT % 4096"
      " AS c, count(*) AS cnt"
      " FROM g, range(0, 4) t(r) GROUP BY 1, 2),"
      " samp AS (SELECT g FROM g WHERE ('0x' ||"
      " substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
      " / 4294967296.0 < 0.25),"
      " cand AS (SELECT g, count(*) AS s_cnt FROM samp"
      " GROUP BY 1 ORDER BY s_cnt DESC, g LIMIT 200),"
      " cc AS (SELECT g, r, ('0x' || substr(md5(g),"
      " CAST(1 + 8 * r AS INT), 8))::BIGINT % 4096"
      " AS c FROM cand, range(0, 4) t(r)),"
      " est AS (SELECT g, min(cnt) AS est_count"
      " FROM cc JOIN cells USING (r, c) GROUP BY 1),"
      " exact AS (SELECT g.g, count(*) AS exact_count FROM g"
      " WHERE g.g IN (SELECT g FROM cand) GROUP BY 1)"
      " SELECT est.g AS ngram, est_count, exact_count,"
      " est_count - exact_count AS overshoot"
      " FROM est JOIN exact ON est.g = exact.g")

# sliding-window chunking: chunk i = tokens [i·48, i·48+64);
# n_chunks = max(1, ceil((n−16)/48)) so short docs chunk once
R.add("text_chunking",
      lambda spark, sf_dir:
          TX.chunk_documents(load(spark, sf_dir, "documents"),
                             chunk_tokens=64, overlap=16),
      "WITH d AS (SELECT doc_id, list_filter(string_split_regex("
      "trim(lower(text)), '\\s+'), x -> x <> '') AS ws"
      " FROM documents WHERE length(trim(text)) > 0),"
      " d2 AS (SELECT doc_id, ws, len(ws) AS n FROM d"
      " WHERE len(ws) > 0),"
      " c AS (SELECT doc_id, ws, unnest(range(0, greatest(1,"
      " CAST(ceil((n - 16) / 48.0) AS BIGINT)))) AS chunk_id"
      " FROM d2)"
      " SELECT doc_id, chunk_id,"
      " array_to_string(ws[chunk_id * 48 + 1 : chunk_id * 48 + 64],"
      " ' ') AS chunk_text,"
      " CAST(len(ws[chunk_id * 48 + 1 : chunk_id * 48 + 64])"
      " AS BIGINT) AS n_tokens FROM c")

# sentence count / mean / max length in words per document
R.add("text_sentences",
      lambda spark, sf_dir:
          TX.sentence_features(load(spark, sf_dir, "documents")),
      "WITH f AS (SELECT doc_id, list_filter(list_transform("
      "string_split_regex(text, '[.!?]+'), s -> trim(s)),"
      " s -> s <> '') AS fr FROM documents),"
      " c AS (SELECT doc_id, list_transform(fr,"
      " s -> len(string_split_regex(s, '\\s+'))) AS wc FROM f)"
      " SELECT doc_id, CAST(len(wc) AS BIGINT) AS n_sentences,"
      " round(CAST(list_sum(wc) AS DOUBLE)"
      " / nullif(CAST(len(wc) AS DOUBLE), 0), 6) + 0.0"
      " AS avg_sentence_words,"
      " CAST(list_max(list_concat(wc, [0])) AS BIGINT)"
      " AS max_sentence_words FROM c")


# Flesch-style readability inputs: exact counts + integer-ppm
# ratios; the float grade formula stays with the consumer
@R.entry("text_readability", (
    "WITH c AS (SELECT doc_id,"
    " CAST(len(list_filter(list_transform("
    "string_split_regex(text, '[.!?]+'), s -> trim(s)),"
    " s -> s <> '')) AS BIGINT) AS n_sentences,"
    " CAST(len(list_filter(string_split_regex("
    "trim(lower(text)), '\\s+'), w -> w <> '')) AS BIGINT)"
    " AS n_words,"
    " CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))"
    " AS BIGINT) AS n_syllables FROM documents)"
    " SELECT doc_id, n_sentences, n_words, n_syllables,"
    " coalesce("
    + INT_PPM_SQL.format(
        num="n_words",
        den="CASE WHEN n_sentences > 0 THEN n_sentences END")
    + ", 0) AS words_per_sentence_ppm,"
    " coalesce("
    + INT_PPM_SQL.format(
        num="n_syllables",
        den="CASE WHEN n_words > 0 THEN n_words END")
    + ", 0) AS syllables_per_word_ppm FROM c"))
def text_readability(spark, sf_dir):
    """Readability signal (Flesch-style inputs): per document,
    the exact sentence / word / syllable counts (syllables =
    vowel-group runs, the standard heuristic) and the two
    Flesch ratios as exact integer ppm — words-per-sentence and
    syllables-per-word. The grade-level combination is a linear
    float formula over these ratios, so the contract ships the
    exact rational sufficient statistics and leaves the float
    combination to the consumer (contract policy). Row-local —
    fuses into the scan, zero shuffles."""
    from siridb_server_spark.functions.stable import int_ppm
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    sents = F.size(F.filter(
        F.transform(F.split(t, r"[.!?]+"), F.trim),
        lambda s: s != ""))
    words_ = F.size(F.filter(
        F.split(F.lower(F.trim(t)), r"\s+"),
        lambda w: w != ""))
    syl = F.size(F.regexp_extract_all(
        F.lower(t), F.lit("[aeiouy]+"), F.lit(0)))
    out = docs.select(
        "doc_id",
        sents.cast("long").alias("n_sentences"),
        words_.cast("long").alias("n_words"),
        syl.cast("long").alias("n_syllables"))
    nz = lambda c: F.when(F.col(c) > 0, F.col(c))
    return out.select(
        "doc_id", "n_sentences", "n_words", "n_syllables",
        F.coalesce(int_ppm(F.col("n_words"),
                           nz("n_sentences")), F.lit(0))
        .alias("words_per_sentence_ppm"),
        F.coalesce(int_ppm(F.col("n_syllables"),
                           nz("n_words")), F.lit(0))
        .alias("syllables_per_word_ppm"))


# BPE training/encoding is exactly deterministic (count-desc,
# lexicographic tie-breaks; greedy left-to-right merges), so the
# fixture-corpus results are constants — independently re-derived
# by a second in-memory implementation in tests/test_bpe.py
# positional phrase search, replayed in SQL: lateral
# generate_series indexes the token list, overlapping anchors
# count separately ("scan scan scan" holds two)
@R.entry("text_phrase_search", (
    "WITH toks AS ("
    " SELECT doc_id, i - 1 AS pos, l[i] AS term FROM ("
    "  SELECT doc_id, l,"
    "   unnest(generate_series(1, len(l))) AS i FROM ("
    "   SELECT doc_id,"
    "    regexp_extract_all(lower(text), '[a-z0-9'']+') AS l"
    "   FROM documents))),"
    " anchors AS ("
    " SELECT doc_id, anchor FROM ("
    "  SELECT doc_id, pos - j AS anchor, j FROM toks,"
    "   (VALUES (0), (1)) AS slots(j)"
    "  WHERE term = 'scan' AND pos - j >= 0)"
    " GROUP BY 1, 2 HAVING count(DISTINCT j) = 2)"
    " SELECT doc_id, count(*) AS n_matches,"
    " min(anchor) AS first_pos FROM anchors GROUP BY 1"))
def text_phrase_search(spark, sf_dir):
    """Exact phrase search ('scan scan' — a repeated term, the
    positional edge case) via the single-shuffle anchor trick:
    token at pos p matching phrase slot j emits anchor p-j; a
    (doc, anchor) group holding all k distinct slots is a hit.
    No self-joins; the term IN-list prunes the exploded stream
    before the exchange. Oracle replays it positionally in SQL."""
    return TX.phrase_search(load(spark, sf_dir, "documents"),
                            "scan scan")


# whitespace-token vocabulary (the driver-green tokenizer shared
# by every other text entry); hashed contract = the three exact
# COUNT columns — the ppm ratios are derived pure functions of
# them, pytest-verified (this entry was driver-hash-red in r6+r7
# with the [a-z0-9']+ extraction + ppm surface)
@R.entry("text_vocab_stats", (
    "WITH t AS (SELECT source, unnest(list_filter("
    "string_split_regex(trim(lower(text)), '\\s+'),"
    " x -> x <> '')) AS word FROM documents"
    " WHERE length(trim(text)) > 0),"
    " wc AS (SELECT source, word, count(*) AS n FROM t"
    " GROUP BY 1, 2)"
    " SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,"
    " count(*) AS n_vocab,"
    " CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_hapax"
    " FROM wc GROUP BY 1"))
def text_vocab_stats(spark, sf_dir):
    """Per-source corpus vocabulary statistics: one exploded
    pass collapsed by map-side combine into (source, word)
    counts, then a vocabulary-sized rollup — the corpus-scale
    exchange is bounded by |vocab|. Hashed contract = the three
    exact COUNT columns; the ppm ratios are derived pure
    functions of them and are pytest-verified instead of hashed
    (driver-red r6+r7 — ARCHITECTURE.md contract policy)."""
    return TX.vocab_stats(load(spark, sf_dir, "documents")) \
        .select("source", "n_tokens", "n_vocab", "n_hapax")


# character diversity: positional substr char explode (identical
# semantics on both engines — no empty-delimiter split quirks),
# exact integer counts + int_ppm collision mass
@R.entry("text_char_diversity", (
    "WITH ch AS (SELECT doc_id, substr(text, CAST(i AS INT), 1)"
    " AS ch FROM (SELECT doc_id, text,"
    " unnest(range(1, length(text) + 1)) AS i FROM documents"
    " WHERE length(text) > 0)),"
    " cc AS (SELECT doc_id, ch, count(*) AS c FROM ch"
    " GROUP BY 1, 2)"
    " SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,"
    " count(*) AS n_distinct_chars,"
    + INT_PPM_SQL.format(
        num="sum(c * c)",
        den="CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT)")
    + " AS collision_ppm FROM cc GROUP BY 1"))
def text_char_diversity(spark, sf_dir):
    """Exact-integer character-diversity signal: counts +
    Simpson collision mass as half-up ppm of a rational — the
    contract-policy-compliant proxy for character entropy
    (repetitive/mashed text scores high collision, prose low)."""
    return TX.char_diversity(load(spark, sf_dir, "documents"))


def _bpe_fixture(spark):
    return arrow_df(spark, [
        (1, "The lower the better when lowering lowers."),
        (2, "New, newer, NEWEST: lower and lowest!"),
        (3, "Wider and wider widths widen the widest cases"),
        (4, "low lows lowest lower low low"),
        (5, "the the the and and a 42 42's"),
        (6, None),
        (7, ""),
    ], "doc_id bigint, text string")


@R.entry("text_bpe_merges", (
    "SELECT CAST(0 AS INT) AS rank, 'l' AS left,"
    " 'o' AS right, CAST(11 AS BIGINT) AS pair_count"
    " UNION ALL SELECT 1, 'lo', 'w', 11"
    " UNION ALL SELECT 2, 'e', 'r', 9"
    " UNION ALL SELECT 3, 'er', '</w>', 7"
    " UNION ALL SELECT 4, 'h', 'e', 7"
    " UNION ALL SELECT 5, 'he', '</w>', 6"
    " UNION ALL SELECT 6, 't', 'he</w>', 6"
    " UNION ALL SELECT 7, 'e', 's', 5"))
def text_bpe_merges(spark, sf_dir):
    """REAL BPE tokenizer training (operators/bpe.py — the
    public Sennrich merge-learning algorithm): one corpus-scale
    word-count shuffle, then a driver-side merge loop over the
    vocabulary-sized frequency table (bounded like the k-means
    centroid loop). Deterministic tie-breaks make the learned
    table an exact constant on this fixture corpus, which the
    oracle pins in full (verified against an independent
    in-memory implementation in tests/test_bpe.py)."""
    return BPE.bpe_train(_bpe_fixture(spark), num_merges=8,
                         vocab_cap=1000, min_count=2)


@R.entry("text_bpe_encode", (
    "SELECT CAST(1 AS BIGINT) AS doc_id,"
    " CAST(23 AS BIGINT) AS n_tokens,"
    " 'the</w> low er</w> the</w> b e t t er</w> w he n </w>"
    " low er i n g </w> low er s </w>' AS token_str"
    " UNION ALL SELECT 2, 24, 'n e w </w> n e w er</w> n e w"
    " es t </w> low er</w> a n d </w> low es t </w>'"
    " UNION ALL SELECT 3, 37, 'w i d er</w> a n d </w> w i d"
    " er</w> w i d t h s </w> w i d e n </w> the</w> w i d es"
    " t </w> c a s es </w>'"
    " UNION ALL SELECT 4, 15, 'low </w> low s </w> low es t"
    " </w> low er</w> low </w> low </w>'"
    " UNION ALL SELECT 5, 21, 'the</w> the</w> the</w> a n d"
    " </w> a n d </w> a </w> 4 2 </w> 4 2 '' s </w>'"
    " UNION ALL SELECT 6, 0, ''"
    " UNION ALL SELECT 7, 0, ''"))
def text_bpe_encode(spark, sf_dir):
    """Apply the learned merge table: Arrow-batched row-local
    tokenization (no shuffle; the merge table rides the task
    closure) with lowest-rank-first pair application and greedy
    left-to-right replacement — every output token sequence is
    an exact constant the oracle pins."""
    df = _bpe_fixture(spark)
    merges = BPE.bpe_train(df, num_merges=8, vocab_cap=1000,
                           min_count=2)
    return (BPE.bpe_encode(df, merges)
            .select("doc_id", "n_tokens",
                    F.array_join("tokens", " ")
                    .alias("token_str")))


# WordPiece: the fixture vocabulary and encodings are exact
# deterministic constants (likelihood-scored merges with
# integer cross-multiplied comparisons, lexical ties); the
# corpus-wide contract is the tiling oracle below
@R.entry("text_wordpiece_vocab",
         "SELECT * FROM (VALUES ('''', CAST(0 AS INT)), ('2', CAST(1 AS INT)), ('4', CAST(2 AS INT)), ('a', CAST(3 AS INT)), ('b', CAST(4 AS INT)), ('c', CAST(5 AS INT)), ('d', CAST(6 AS INT)), ('e', CAST(7 AS INT)), ('g', CAST(8 AS INT)), ('h', CAST(9 AS INT)), ('i', CAST(10 AS INT)), ('l', CAST(11 AS INT)), ('n', CAST(12 AS INT)), ('o', CAST(13 AS INT)), ('r', CAST(14 AS INT)), ('s', CAST(15 AS INT)), ('t', CAST(16 AS INT)), ('w', CAST(17 AS INT)), ('##''', CAST(18 AS INT)), ('##2', CAST(19 AS INT)), ('##4', CAST(20 AS INT)), ('##a', CAST(21 AS INT)), ('##b', CAST(22 AS INT)), ('##c', CAST(23 AS INT)), ('##d', CAST(24 AS INT)), ('##e', CAST(25 AS INT)), ('##g', CAST(26 AS INT)), ('##h', CAST(27 AS INT)), ('##i', CAST(28 AS INT)), ('##l', CAST(29 AS INT)), ('##n', CAST(30 AS INT)), ('##o', CAST(31 AS INT)), ('##r', CAST(32 AS INT)), ('##s', CAST(33 AS INT)), ('##t', CAST(34 AS INT)), ('##w', CAST(35 AS INT)), ('42', CAST(36 AS INT)), ('wi', CAST(37 AS INT)), ('th', CAST(38 AS INT)), ('an', CAST(39 AS INT)), ('and', CAST(40 AS INT)), ('wid', CAST(41 AS INT)), ('lo', CAST(42 AS INT)), ('low', CAST(43 AS INT)), ('##st', CAST(44 AS INT)), ('##er', CAST(45 AS INT)), ('##est', CAST(46 AS INT)), ('##ew', CAST(47 AS INT))) AS t(piece, rank)")
def text_wordpiece_vocab(spark, sf_dir):
    """REAL WordPiece training (operators/wordpiece.py — the
    BERT-style likelihood-scored merge: count(pair)/(count(l)·
    count(r)) compared as exact cross-multiplied integers) on
    the BPE fixture corpus. Alphabet pieces first, then merges
    in learn order — a deterministic constant the oracle pins
    in full; the corpus-wide contract is the tiling entry."""
    from siridb_server_spark.operators import wordpiece as WP
    return WP.wordpiece_train(_bpe_fixture(spark),
                              num_merges=12, min_count=2)


@R.entry("text_wordpiece_encode",
         "SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(23 AS BIGINT), CAST(0 AS BIGINT), 'th ##e low ##er th ##e b ##e ##t ##t ##er w ##h ##e ##n low ##er ##i ##n ##g low ##er ##s'), (CAST(2 AS BIGINT), CAST(13 AS BIGINT), CAST(0 AS BIGINT), 'n ##ew n ##ew ##er n ##ew ##est low ##er and low ##est'), (CAST(3 AS BIGINT), CAST(21 AS BIGINT), CAST(0 AS BIGINT), 'wid ##er and wid ##er wid ##t ##h ##s wid ##e ##n th ##e wid ##est c ##a ##s ##e ##s'), (CAST(4 AS BIGINT), CAST(9 AS BIGINT), CAST(0 AS BIGINT), 'low low ##s low ##est low ##er low low'), (CAST(5 AS BIGINT), CAST(13 AS BIGINT), CAST(0 AS BIGINT), 'th ##e th ##e th ##e and and a 42 42 ##'' ##s'), (CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), ''), (CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), '')) AS t(doc_id, n_tokens, n_unk, token_str)")
def text_wordpiece_encode(spark, sf_dir):
    """Greedy longest-match-first WordPiece encoding with the
    learned vocabulary (the standard serving-time algorithm —
    no merge ranks needed): Arrow-batched, row-local, vocab in
    the task closure. Every token sequence is an exact constant
    the oracle pins, n_unk included."""
    from siridb_server_spark.operators import wordpiece as WP
    df = _bpe_fixture(spark)
    v = WP.wordpiece_train(df, num_merges=12, min_count=2)
    return (WP.wordpiece_encode(df, v)
            .select("doc_id", "n_tokens", "n_unk",
                    F.array_join("tokens", " ")
                    .alias("token_str")))


@R.entry("text_wordpiece_tiling", (
    "SELECT doc_id, CAST(0 AS BIGINT) AS n_unk,"
    " CAST(length(regexp_replace(lower("
    "coalesce(text, '')), '[^a-z0-9'']', '', 'g')) AS BIGINT)"
    " AS tok_chars FROM documents"))
def text_wordpiece_tiling(spark, sf_dir):
    """WordPiece over the FULL documents corpus, verified
    through the tiling invariant: per doc, Σ(piece chars minus
    the ## prefixes) must equal the word characters the oracle
    counts by stripping non-word characters — and n_unk must be
    zero, because the alphabet is seeded from the corpus itself
    (both word-initial and continuation forms). One mis-sliced
    match anywhere flips the hash."""
    from siridb_server_spark.operators import wordpiece as WP
    docs = load(spark, sf_dir, "documents")
    v = WP.wordpiece_train(docs, num_merges=40, min_count=2)
    enc = WP.wordpiece_encode(docs, v)
    piece_chars = F.aggregate(
        "tokens", F.lit(0).cast("long"),
        lambda a, t: a + F.length(t)
        - F.when(t.startswith("##"), 2).otherwise(0))
    return enc.select("doc_id", "n_unk",
                      piece_chars.alias("tok_chars"))


@R.entry("text_unigram_vocab", (
    "SELECT CAST(rank AS INT) AS rank, piece,"
    " CAST(cnt AS BIGINT) AS count FROM (VALUES"
    " (0, 'the', 6), (1, 'and', 4), (2, 'low', 3),"
    " (3, 'lower', 3), (4, 'lowest', 2), (5, 'wider', 2))"
    " AS t(rank, piece, cnt)"))
def text_unigram_vocab(spark, sf_dir):
    """REAL unigram-LM tokenizer training (operators/unigram.py
    — SentencePiece-style hard-EM, Kudo 2018) on the BPE fixture
    corpus. The trainer is float-free: segmentations compare as
    exact integers (Π count · total^(L−k)), ties to fewer pieces
    then lexicographic order, so the learned vocabulary is a
    pure function of the corpus — the oracle pins every
    multi-occurrence piece. (An independent check of the same
    determinism claim lives in tests/test_unigram.py.)"""
    from siridb_server_spark.operators import unigram as U
    v = U.unigram_train(_bpe_fixture(spark), vocab_size=60,
                        seed_size=600, n_iters=3)
    return v.where(F.col("count") >= 2) \
        .select("rank", "piece", "count")


@R.entry("text_unigram_encode", (
    "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
    " CAST(n AS BIGINT) AS n_tokens, stream FROM (VALUES"
    " (1, 7, 'the|lower|the|better|when|lowering|lowers'),"
    " (2, 6, 'new|newer|newest|lower|and|lowest'),"
    " (3, 8, 'wider|and|wider|widths|widen|the|widest|cases'),"
    " (4, 6, 'low|lows|lowest|lower|low|low'),"
    " (5, 8, 'the|the|the|and|and|a|42|42''s'),"
    " (6, 0, ''), (7, 0, ''))"
    " AS t(doc_id, n, stream)"))
def text_unigram_encode(spark, sf_dir):
    """Viterbi encoding under the trained unigram vocabulary:
    the full token stream of every fixture document, pinned
    verbatim (joined with '|') — frequent words surface as
    single pieces, morphology falls back to learned subwords,
    NULL/empty docs tokenize to nothing."""
    from siridb_server_spark.operators import unigram as U
    docs = _bpe_fixture(spark)
    v = U.unigram_train(docs, vocab_size=60, seed_size=600,
                        n_iters=3)
    enc = U.unigram_encode(docs, v)
    return enc.select(
        "doc_id", "n_tokens",
        F.concat_ws("|", "tokens").alias("stream"))


# unigram tiling: the oracle strips non-word characters — no
# tokenizer on its side; equality proves every token stream
# tiles its document's word characters exactly
@R.entry("text_unigram_tiling", (
    "SELECT doc_id, CAST(length(regexp_replace(lower("
    "coalesce(text, '')), '[^a-z0-9'']', '', 'g')) AS BIGINT)"
    " AS tok_chars FROM documents"))
def text_unigram_tiling(spark, sf_dir):
    """Unigram tokenization over the FULL documents corpus,
    verified through its tiling invariant: the characters of a
    document's tokens, concatenated, are exactly the word
    characters of the document — so per doc, total token chars
    must equal what the oracle computes by just stripping
    non-word characters. Training runs on a 1-in-10 doc slice
    (the capped driver-side EM), encoding covers every doc —
    tiling holds for ANY total-coverage vocabulary, which is
    precisely why it is a safe corpus-wide contract."""
    from siridb_server_spark.operators import unigram as U
    docs = load(spark, sf_dir, "documents")
    v = U.unigram_train(docs.where("doc_id % 10 = 0"),
                        vocab_size=400, seed_size=4000,
                        n_iters=2)
    enc = U.unigram_encode(docs, v)
    return enc.select(
        "doc_id",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, t: a + F.length(t))
        .alias("tok_chars"))


R.add("text_bigram_lm",
      lambda spark, sf_dir:
          TX.bigram_logprob(load(spark, sf_dir, "documents"))
          .select("doc_id", "n_bigrams", "sum_nab", "sum_na", "v"),
      "WITH d AS (SELECT doc_id, list_filter(string_split_regex("
      "trim(lower(text)), '\\s+'), x -> x <> '') AS ws"
      " FROM documents WHERE length(trim(text)) > 0),"
      " d2 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 2),"
      " bi AS (SELECT doc_id, unnest(list_transform("
      "range(1, len(ws)),"
      " i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS p"
      " FROM d2),"
      " b2 AS (SELECT doc_id, struct_extract(p, 'a') AS a,"
      " struct_extract(p, 'b') AS b FROM bi),"
      " c2 AS (SELECT a, b, count(*) AS n_ab FROM b2 GROUP BY 1, 2),"
      " c1 AS (SELECT a, count(*) AS n_a FROM b2 GROUP BY 1),"
      " v AS (SELECT count(DISTINCT b) AS v FROM b2)"
      " SELECT doc_id, count(*) AS n_bigrams,"
      " CAST(sum(n_ab) AS BIGINT) AS sum_nab,"
      " CAST(sum(n_a) AS BIGINT) AS sum_na,"
      " CAST(min(v) AS BIGINT) AS v"
      " FROM b2 JOIN c2 USING (a, b) JOIN c1 USING (a), v"
      " GROUP BY doc_id")

# interpolated trigram LM sufficient statistics: every count
# table over the same trigram stream; the λ-interpolated
# ln-score is pytest-verified, never hashed
R.add("text_trigram_lm",
      lambda spark, sf_dir:
          TX.trigram_logprob(load(spark, sf_dir, "documents"))
          .select("doc_id", "n_trigrams", "sum_nabc", "sum_nab",
                  "sum_nbc", "sum_nb", "sum_nc", "v"),
      "WITH d AS (SELECT doc_id, list_filter(string_split_regex("
      "trim(lower(text)), '\\s+'), x -> x <> '') AS ws"
      " FROM documents WHERE length(trim(text)) > 0),"
      " d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 3),"
      " tr AS (SELECT doc_id, unnest(list_transform("
      "range(1, len(ws) - 1),"
      " i -> struct_pack(a := ws[i], b := ws[i + 1],"
      " c := ws[i + 2]))) AS t FROM d3),"
      " t3 AS MATERIALIZED (SELECT doc_id, struct_extract(t, 'a') AS a,"
      " struct_extract(t, 'b') AS b, struct_extract(t, 'c') AS c"
      " FROM tr),"
      " c3 AS (SELECT a, b, c, count(*) AS n_abc FROM t3"
      " GROUP BY 1, 2, 3),"
      " cab AS (SELECT a, b, count(*) AS n_ab FROM t3"
      " GROUP BY 1, 2),"
      " cbc AS (SELECT b, c, count(*) AS n_bc FROM t3"
      " GROUP BY 1, 2),"
      " cb AS (SELECT b, count(*) AS n_b FROM t3 GROUP BY 1),"
      " cc AS (SELECT c, count(*) AS n_c FROM t3 GROUP BY 1),"
      " k AS (SELECT count(*) AS n_tot, count(DISTINCT c) AS v"
      " FROM t3)"
      " SELECT doc_id, count(*) AS n_trigrams,"
      " CAST(sum(n_abc) AS BIGINT) AS sum_nabc,"
      " CAST(sum(n_ab) AS BIGINT) AS sum_nab,"
      " CAST(sum(n_bc) AS BIGINT) AS sum_nbc,"
      " CAST(sum(n_b) AS BIGINT) AS sum_nb,"
      " CAST(sum(n_c) AS BIGINT) AS sum_nc,"
      " CAST(min(v) AS BIGINT) AS v"
      " FROM t3 JOIN c3 USING (a, b, c) JOIN cab USING (a, b)"
      " JOIN cbc USING (b, c) JOIN cb USING (b)"
      " JOIN cc USING (c), k GROUP BY doc_id")


@R.entry("text_boilerplate", (
    "WITH d0 AS (SELECT doc_id, string_split_regex(trim(text),"
    " '\\s+') AS ws FROM documents),"
    " w AS (SELECT doc_id, array_to_string(list_transform("
    "range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),"
    " i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')),"
    " chr(10)) AS text FROM d0),"
    " dl AS (SELECT doc_id, string_split(text, chr(10)) AS ls"
    " FROM w),"
    " ln AS (SELECT doc_id, ls,"
    " unnest(range(1, len(ls) + 1)) AS i FROM dl),"
    " l AS (SELECT doc_id, CAST(i AS BIGINT) AS i, ls[i] AS line"
    " FROM ln),"
    " f AS (SELECT trim(line) AS t FROM l WHERE trim(line) <> ''"
    " GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),"
    " k AS (SELECT doc_id, i, line FROM l"
    " WHERE NOT EXISTS (SELECT 1 FROM f"
    " WHERE f.t = trim(line))),"
    " reb AS (SELECT doc_id, count(*) AS n_kept,"
    " string_agg(line, chr(10) ORDER BY i, line) AS text_clean"
    " FROM k GROUP BY 1),"
    " tot AS (SELECT doc_id, count(*) AS n_lines FROM l"
    " GROUP BY 1)"
    " SELECT doc_id, n_lines, coalesce(n_kept, 0) AS n_kept,"
    " coalesce(text_clean, '') AS text_clean"
    " FROM tot LEFT JOIN reb USING (doc_id)"))
def text_boilerplate(spark, sf_dir):
    """C4-style boilerplate-line removal. The synthetic docs are
    single-line, so wrap each into 8-word lines first (row-local)
    — cross-doc repeated 8-word lines (which dedup_spans proved
    exist) then read as boilerplate and are dropped."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(ws)
    wrapped = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(8)) - 1),
            lambda i: F.concat_ws(
                " ", F.slice(ws, i * 8 + 1, 8))), "\n")
    return TX.remove_boilerplate_lines(
        docs.select("doc_id", wrapped.alias("text")), min_docs=2)


@R.entry("text_topk_per_source", (
    "WITH q AS (SELECT doc_id, source, (" + _hits(marks["en"])
    + ") AS n_stopwords, CASE WHEN length(trim(text)) = 0 THEN 0"
    " ELSE len(string_split_regex(trim(text), '\\s+')) END"
    " AS n_tokens FROM documents),"
    " r AS (SELECT *, row_number() OVER (PARTITION BY source"
    " ORDER BY n_stopwords DESC, doc_id) AS rk FROM q)"
    " SELECT doc_id, source, n_stopwords, n_tokens"
    " FROM r WHERE rk <= 5"))
def text_topk_per_source(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    scored = TX.quality_features(docs, keep=("source",))
    return TX.topk_per_group(
        scored.select("doc_id", "source", "n_stopwords",
                      "n_tokens"),
        "source",
        [F.col("n_stopwords").desc(), F.col("doc_id")], k=5)


_TEXT_QUALITY_SCORE_SQL = (
    "WITH f AS (SELECT doc_id,"
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
    " FROM documents),"
    f" z AS (SELECT doc_id, {_QSZ} AS zv FROM f)"
    " SELECT doc_id,"
    f" {_QTERM('zv')} AS z_micro,"
    f" {_QTERM('zv')} >= 0 AS keep"
    " FROM z"
)


@R.entry("text_quality_score", _TEXT_QUALITY_SCORE_SQL)
def text_quality_score(spark, sf_dir):
    """Hashed contract = (doc_id, z_micro, keep): the logit's
    lineage is only correctly-rounded IEEE ops, so the quantized
    value is engine-identical; the sigmoid score_micro is
    transcendental and pytest-verified instead of hashed."""
    return TX.quality_score_linear(
        load(spark, sf_dir, "documents")) \
        .select("doc_id", "z_micro", "keep")


# token counting mirrors operators/text.py token_count():
# whitespace split of the trimmed text, empty text → 0
R.add("text_length_hist",
      lambda spark, sf_dir: TX.length_histogram(
          load(spark, sf_dir, "documents"), width=16),
      "WITH t AS (SELECT lang, CASE WHEN length(trim(text)) = 0"
      " THEN 0 ELSE len(string_split_regex(trim(text), '\\s+'))"
      " END AS n_tok, length(text) AS n_chars FROM documents)"
      " SELECT lang, n_tok - n_tok % 16 AS bucket,"
      " count(*) AS n_docs,"
      " round(sum(n_chars) / count(*), 4) + 0.0 AS avg_chars"
      " FROM t GROUP BY 1, 2")

# hashed contract = exact-integer posting statistics for a fixed
# probe set; the ln-seeded scores/rankings of tfidf_top_terms and
# bm25_topk are pytest-verified with tolerance instead of hashed
# (ARCHITECTURE.md "Hashed oracle contract policy")
# terms = lowercase letter runs; hashed contract = exact-integer
# posting statistics (tf per source, df over sources, source
# count) for a fixed probe set — the ln-seeded tf-idf score and
# its top-k ranking are pytest-verified, never hashed
R.add("text_tfidf_sources",
      lambda spark, sf_dir: TX.tfidf_stats(
          load(spark, sf_dir, "documents"),
          ["scan", "merge", "window", "spark", "batch"]),
      "WITH terms AS (SELECT source, unnest(string_split_regex("
      "lower(text), '[^a-z]+')) AS term FROM documents),"
      " tf AS (SELECT source, term, count(*) AS tf FROM terms"
      " WHERE term IN ('scan', 'merge', 'window', 'spark',"
      " 'batch') GROUP BY 1, 2),"
      " dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),"
      " n AS (SELECT CAST(count(DISTINCT source) AS BIGINT)"
      " AS n_sources FROM documents WHERE source IS NOT NULL)"
      " SELECT source, term, tf, df, n_sources"
      " FROM tf JOIN dfreq USING (term) CROSS JOIN n")

# Okapi BM25 posting statistics over the letter-run tokenizer:
# (tf, dl, df) per matching (doc, query term) determine the
# score exactly; the ln-seeded score/ranking is pytest-verified
R.add("text_bm25_search",
      lambda spark, sf_dir: TX.bm25_stats(
          load(spark, sf_dir, "documents"),
          ["hash", "join", "vector"]),
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
      "lower(text), '[^a-z]+')) AS term FROM documents),"
      " t AS (SELECT doc_id, term FROM toks WHERE term <> ''),"
      " per_doc AS (SELECT doc_id, count(*) AS dl FROM t"
      " GROUP BY 1),"
      " tf AS (SELECT doc_id, term, count(*) AS tf FROM t"
      " WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),"
      " dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)"
      " SELECT doc_id, term, tf, dl, df"
      " FROM tf JOIN dfreq USING (term)"
      " JOIN per_doc USING (doc_id)")


# hybrid retrieval: exact-integer lexical rank (tf · ppm-idf)
# fused with the quantized cosine rank; RRF ships as an exact
# rational (num, den) pair — no float division in the contract
@R.entry("text_hybrid_rrf", (
    "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
    "lower(text), '[^a-z]+')) AS term FROM documents),"
    " t AS (SELECT doc_id, term FROM toks WHERE term <> ''),"
    " tf AS (SELECT doc_id, term, count(*) AS tf FROM t"
    " WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),"
    " dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),"
    " nd AS (SELECT count(*) AS n_docs FROM documents),"
    " lex AS (SELECT doc_id, CAST(sum(tf *"
    f" {INT_PPM_SQL.format(num='n_docs', den='df')}"
    ") AS BIGINT) AS score"
    " FROM tf JOIN dfreq USING (term) CROSS JOIN nd"
    " GROUP BY 1),"
    " lr AS (SELECT doc_id, r_lex FROM (SELECT doc_id,"
    " row_number() OVER (ORDER BY score DESC, doc_id)"
    " AS r_lex FROM lex) WHERE r_lex <= 20),"
    " qv AS (SELECT generate_subscripts(embedding, 1) AS pos,"
    " CAST(unnest(embedding) AS DOUBLE) AS q"
    " FROM embeddings WHERE vec_id = 0),"
    " qn AS (SELECT sqrt(sum(q * q)) AS nq FROM qv),"
    " x AS (SELECT vec_id, generate_subscripts(embedding, 1)"
    " AS pos, CAST(unnest(embedding) AS DOUBLE) AS v"
    " FROM embeddings WHERE vec_id <> 0),"
    " cosr AS (SELECT vec_id,"
    f" {SCALED_TERM_SQL.format(x='sum(v * q) / (sqrt(sum(v * v)) * max(nq))', s=10 ** 6)}"
    " AS cos_micro FROM x JOIN qv USING (pos) CROSS JOIN qn"
    " GROUP BY vec_id),"
    " vr AS (SELECT vec_id, r_vec FROM (SELECT vec_id,"
    " row_number() OVER (ORDER BY cos_micro DESC, vec_id)"
    " AS r_vec FROM cosr) WHERE r_vec <= 20)"
    " SELECT coalesce(lr.doc_id, vr.vec_id) AS doc_id,"
    " r_lex, r_vec,"
    " CAST(CASE WHEN r_lex IS NOT NULL AND r_vec IS NOT NULL"
    " THEN 120 + r_lex + r_vec ELSE 1 END AS BIGINT)"
    " AS rrf_num,"
    " CAST(coalesce(r_lex + 60, 1) * coalesce(r_vec + 60, 1)"
    " AS BIGINT) AS rrf_den"
    " FROM lr FULL JOIN vr ON lr.doc_id = vr.vec_id"))
def text_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: an
    exact-integer lexical ranker (idf-weighted tf with weights
    ``int_ppm(n_docs, df)`` — pure integer math standing in for
    BM25's ln-idf, which the contract policy keeps out of
    hashed lineage) fused with a dense cosine ranker over the
    id-aligned embedding table. Both rankers order by their
    exact/quantized integer score with id tie-breaks, so ranks
    are engine-identical; the RRF score 1/(60+r_lex)+1/(60+r_vec)
    ships in exact RATIONAL form — integer (rrf_num, rrf_den)
    columns, no float division anywhere in the hashed contract.
    At 100 TB both candidate streams arrive index-pruned
    (term postings / ANN cells) before the k-sized global rank,
    which is the only single-partition step."""
    from siridb_server_spark.functions.stable import (int_ppm,
                                                      scaled_term)
    K, k = 60, 20
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    stats = TX.bm25_stats(docs, ["hash", "join", "vector"])
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    lex = (stats.crossJoin(F.broadcast(nd))
           .select("doc_id",
                   (F.col("tf")
                    * int_ppm(F.col("n_docs"), F.col("df")))
                   .alias("w"))
           .groupBy("doc_id")
           .agg(F.sum("w").alias("score")))
    # top-k FIRST (TakeOrdered: per-partition heap + merge),
    # then the single-partition rank window sees only k rows
    wlex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lr = (lex.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
          .withColumn("r_lex", F.row_number().over(wlex)
                      .cast("long"))
          .select("doc_id", "r_lex"))
    qv = _query_vec(spark, sf_dir)
    vd = F.transform(F.col("embedding"),
                     lambda c: c.cast("double"))
    fold = (lambda arr: F.aggregate(
        arr, F.lit(0.0), lambda acc, y: acc + y))
    qlit = F.array(*[F.lit(float(v)) for v in qv])
    dot = fold(F.zip_with(vd, qlit, lambda a, b: a * b))
    nv = F.sqrt(fold(F.transform(vd, lambda a: a * a)))
    nq = float(sum(v * v for v in qv)) ** 0.5
    cosr = (emb.where(F.col("vec_id") != 0)
            .select("vec_id",
                    scaled_term(dot / (nv * F.lit(nq)), 6)
                    .alias("cos_micro")))
    wvec = Window.orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    vr = (cosr.orderBy(F.desc("cos_micro"), F.asc("vec_id"))
          .limit(k)
          .withColumn("r_vec", F.row_number().over(wvec)
                      .cast("long"))
          .select("vec_id", "r_vec"))
    f = (lr.join(vr, lr.doc_id == vr.vec_id, "full")
         .select(F.coalesce("doc_id", "vec_id").alias("doc_id"),
                 "r_lex", "r_vec"))
    both = F.col("r_lex").isNotNull() & F.col("r_vec").isNotNull()
    return f.select(
        "doc_id", "r_lex", "r_vec",
        F.when(both, F.lit(2 * K) + F.col("r_lex")
               + F.col("r_vec")).otherwise(F.lit(1))
        .cast("long").alias("rrf_num"),
        (F.coalesce(F.col("r_lex") + K, F.lit(1))
         * F.coalesce(F.col("r_vec") + K, F.lit(1)))
        .cast("long").alias("rrf_den"))


@R.entry("text_nb_model", (
    "SELECT label, term, CAST(cnt AS BIGINT) AS cnt FROM ("
    + _nb_counts + ")"))
def text_nb_model(spark, sf_dir):
    """Multinomial Naive Bayes training
    (operators/classify.py): the per-(language, term) token
    counts — ONE map-side-combinable groupBy whose shuffle is
    bounded by |labels|·|vocab| — which ARE the classifier
    (plus the per-label totals the oracle re-derives by
    summing). The trainable quality/domain-filter shape of
    corpus curation pipelines, as exact hashed integers."""
    m = CL.nb_train(load(spark, sf_dir, "documents"),
                    label_col="lang")
    return m.counts.select("label", "term", "cnt")


def _bench_nb_confusion(spark, sf_dir):
    # training (the per-(label, term) count tables, paid once per
    # model) runs once, untimed; the bench times scoring + argmax +
    # confusion, what a curation run pays per corpus pass. The count
    # tables are lazy frames: materialize them, or every timed sample
    # would re-run the training aggregates
    docs = load(spark, sf_dir, "documents")
    model = CL.nb_train(docs, label_col="lang")
    model.counts = model.counts.persist()
    model.labels = model.labels.persist()
    model.counts.count()
    model.labels.count()

    def timed(s, d):
        pred = CL.nb_predict_int(model, docs)
        return CL.nb_confusion(docs, pred, label_col="lang") \
            .select("label", "pred", "n")
    return timed


@R.entry("text_nb_confusion",
         _TEXT_NB_CONFUSION_SQL, bench=_bench_nb_confusion)
def text_nb_confusion(spark, sf_dir):
    """End-to-end NB classification pinned cross-engine: the
    confusion matrix of the QUANTIZED-LOG scorer (fixlog2 —
    exponent + linear mantissa off the binary string, exact
    int64, no libm) over the language labels. DuckDB replays
    tokenize → train → score → argmax entirely in integer SQL,
    so one flipped prediction anywhere flips the hash. The
    full-precision float path's accuracy (and its agreement
    with this path on separable data) is pytest-verified
    (tests/test_classify.py, transcendental-ban policy)."""
    docs = load(spark, sf_dir, "documents")
    m = CL.nb_train(docs, label_col="lang")
    pred = CL.nb_predict_int(m, docs)
    return (CL.nb_confusion(docs, pred, label_col="lang")
            .select("label", "pred", "n"))


# feature hashing: DuckDB rebuilds the md5 bucket/sign mapping
# and the signed-count sums; the neighbor entry replays the
# integer dot-product ranking
_he = (
    "SELECT doc_id, CAST("
    " CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 64 AS BIGINT)"
    " AS i,"
    " CASE WHEN CAST(('0x' || substr(h, 16, 1)) AS BIGINT) < 8"
    " THEN 1 ELSE -1 END AS s"
    " FROM (SELECT doc_id, md5(word) AS h FROM ("
    " SELECT doc_id, unnest(list_filter(string_split_regex("
    "trim(lower(text)), '\\s+'), x -> x <> '')) AS word"
    " FROM documents WHERE length(trim(text)) > 0))")


@R.entry("text_hash_embed", (
    "SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS v FROM ("
    + _he + ") GROUP BY 1, 2"))
def text_hash_embed(spark, sf_dir):
    """Feature-hashing document vectors (operators/text.py
    hash_embed — the hashing trick): md5-bucketed ±1 signed
    word counts in dim 64, one explode + one map-side-combined
    groupBy. Model-free embeddings for prefiltering; EXACT
    integers, the full matrix is the hashed contract."""
    return TX.hash_embed(load(spark, sf_dir, "documents"))


@R.entry("text_hash_embed_sim", (
    "WITH emb AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS v"
    " FROM (" + _he + ") GROUP BY 1, 2),"
    " qv AS (SELECT i, v AS qv FROM emb WHERE doc_id = 0)"
    " SELECT e.doc_id, CAST(sum(e.v * qv.qv) AS BIGINT) AS dot"
    " FROM emb e JOIN qv USING (i) WHERE e.doc_id <> 0"
    " GROUP BY 1 ORDER BY dot DESC, e.doc_id LIMIT 20"))
def text_hash_embed_sim(spark, sf_dir):
    """Cheap similarity search over the hash embeddings: top 20
    neighbors of doc 0 by exact integer dot product (query
    components broadcast onto the bucket index, one groupBy
    sum). Composes with the int8/ANN serving stack; every
    (doc_id, dot) pair is in the hash."""
    return TX.hash_embed_neighbors(
        load(spark, sf_dir, "documents"), query_id=0)


# tf-idf-weighted variant: same bucket/sign mapping, weights
# tf·(fixlog2(N) − fixlog2(df)) — the fixlog2 spelled with
# bin()/<<// exactly like the NB confusion oracle
@R.entry("text_hash_embed_tfidf", (
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "string_split_regex(trim(lower(text)), '\\s+'),"
    " x -> x <> '')) AS word FROM documents"
    " WHERE length(trim(text)) > 0),"
    " nd AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),"
    " dfreq AS (SELECT word, count(DISTINCT doc_id) AS df"
    " FROM toks GROUP BY 1),"
    " tf AS (SELECT doc_id, word, count(*) AS tf FROM toks"
    " GROUP BY 1, 2),"
    " j AS (SELECT t.doc_id, md5(t.word) AS h, t.tf,"
    " (" + _fix.format(x="nd.nd") + " - "
    + _fix.format(x="d.df") + ") AS idf"
    " FROM tf t JOIN dfreq d USING (word) CROSS JOIN nd)"
    " SELECT doc_id, CAST(CAST(('0x' || substr(h, 1, 15))"
    " AS BIGINT) % 64 AS BIGINT) AS i,"
    " CAST(sum((CASE WHEN CAST(('0x' || substr(h, 16, 1))"
    " AS BIGINT) < 8 THEN 1 ELSE -1 END) * tf * idf)"
    " AS BIGINT) AS v"
    " FROM j GROUP BY 1, 2"))
def text_hash_embed_tfidf(spark, sf_dir):
    """TF-IDF-weighted feature hashing (operators/text.py
    hash_embed_tfidf): each word contributes
    sign·tf·(fixlog2(N) − fixlog2(df)) — the exact fixed-point
    log₂(N/df), so rare terms dominate like real tf-idf while
    the whole matrix stays integer and hashable. Two partial
    aggregates + one vocab-sized hash join."""
    return TX.hash_embed_tfidf(load(spark, sf_dir, "documents"))


# within-source percentile of the same z_micro: rank with
# doc_id ties, (rank−1)·10⁶ // (n−1) — integer replay of the
# quality-score CTE plus one window
@R.entry("text_quality_percentile", (
    _TEXT_QUALITY_SCORE_SQL
    .replace(" SELECT doc_id,", " , zm AS (SELECT f2.doc_id,"
             " d.source,", 1)
    .replace(" FROM z",
             " FROM z f2 JOIN documents d ON f2.doc_id ="
             " d.doc_id)"
             " SELECT doc_id, source,"
             " CAST(row_number() OVER (PARTITION BY source"
             " ORDER BY z_micro DESC, doc_id) AS BIGINT)"
             " AS rank,"
             " CAST(count(*) OVER (PARTITION BY source)"
             " AS BIGINT) AS n,"
             " CAST((row_number() OVER (PARTITION BY source"
             " ORDER BY z_micro DESC, doc_id) - 1) * 1000000"
             " // GREATEST(count(*) OVER (PARTITION BY source)"
             " - 1, 1) AS BIGINT) AS pct_ppm"
             " FROM zm WHERE z_micro IS NOT NULL", 1)))
def text_quality_percentile(spark, sf_dir):
    """Within-source rank normalization of the quality logit
    (operators/text.py quality_percentile): curation thresholds
    set on per-source percentiles instead of raw scores. Ranks
    on the already-exact z_micro with doc_id ties —
    pct_ppm = (rank−1)·10⁶ div (n−1), integers end to end."""
    return TX.quality_percentile(load(spark, sf_dir,
                                      "documents"))


R.add("text_quality_gate",
      lambda spark, sf_dir: TX.quality_gate(load(spark, sf_dir, "documents")),
      _TEXT_QUALITY_GATE_SQL)


# confusion matrix over the same CASE expression as text_langid
@R.entry("text_langid_confusion", (
    "WITH pred AS (" + _lid.replace("SELECT doc_id,",
                                    "SELECT doc_id, lang,", 1)
    .replace("FROM documents) SELECT doc_id,",
             "FROM documents) SELECT doc_id, lang,", 1)
    + ") SELECT d.lang AS label, p.pred_lang AS pred,"
    " count(*) AS n FROM documents d JOIN pred p USING (doc_id)"
    " GROUP BY 1, 2"))
def text_langid_confusion(spark, sf_dir):
    """Heuristic-vs-label confusion matrix — the evaluation view
    of the language-ID operator (which slices of the corpus does
    the heuristic get wrong, and toward what)."""
    docs = load(spark, sf_dir, "documents")
    return (docs.select(F.col("lang").alias("label"),
                        TX.lang_id(F.col("text"))
                        .alias("pred"))
            .groupBy("label", "pred")
            .agg(F.count(F.lit(1)).alias("n")))
