"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (no Python UDFs): language-ID
(stopword n-gram heuristic), quality scoring (length/punctuation/
stopword/digit ratios), token counting (whitespace + BPE-ish regex),
and document fingerprinting. Designed to run over billions of
documents: every operator is a narrow projection — no shuffle, no
collect — so Catalyst fuses it into the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stable import int_ppm, scaled_term, stable_dsum

#: tiny per-language stopword lists for the n-gram language heuristic.
#: deliberately small & deterministic so the DuckDB oracle can mirror it.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
}

_WORD_RE = r"\s+"
#: BPE-ish token split: words, numbers, and single punctuation marks
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


#: regexes shared with the DuckDB oracle — kept inside the common
#: Java-regex/RE2 subset (no backrefs, no lookaround)
HTML_TAG_RE = r"<[^>]*>"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def strip_html(text: Column) -> Column:
    """Drop markup tags and unescape the common entities — the first
    pass of a web-scrape curation pipeline. Row-local regex, fuses
    into the scan."""
    out = F.regexp_replace(text, HTML_TAG_RE, " ")
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def normalize_ws(text: Column) -> Column:
    """Collapse all whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def mask_pii(text: Column) -> Column:
    """Mask emails, IPv4 addresses, and phone-ish number runs with
    typed placeholders — the standard pre-training privacy scrub.
    Order matters: emails first (their domains contain dots that the
    other patterns could chew on), then IPs, then phones."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return out


def clean_text(text: Column) -> Column:
    """strip_html → normalize_ws: the canonical cleaning pass."""
    return normalize_ws(strip_html(text))


def words(text: Column) -> Column:
    return F.split(F.trim(text), _WORD_RE)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
        .otherwise(F.size(words(text))).cast("long")


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count via regex extraction."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0))) \
        .cast("long")


def _marker_hits(text: Column, markers: list) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = F.lit(0)
    for m in markers:
        out = out + F.when(padded.contains(f" {m} "), 1).otherwise(0)
    return out


def lang_id(text: Column) -> Column:
    """Heuristic language-ID: the language whose stopword markers hit
    the most; 'und' (undetermined) when nothing matches. Deterministic
    tie-break by language code order en < es < de < fr via strictly-
    greater comparison in that order."""
    scores = [(lang, _marker_hits(text, ms))
              for lang, ms in LANG_MARKERS.items()]
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_features(df: DataFrame, text_col: str = "text",
                     keep: tuple = ()) -> DataFrame:
    """Quality-scoring features per document (round-trippable in ANSI
    SQL for the correctness oracle). ``keep`` names extra columns to
    carry through (e.g. the source/domain for downstream per-group
    curation — cheaper than re-joining on doc_id)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.size(F.regexp_extract_all(
        t, F.lit(r"[^\w\s]"), F.lit(0))).cast("long")
    n_digits = F.size(F.regexp_extract_all(
        t, F.lit(r"[0-9]"), F.lit(0))).cast("long")
    n_stop = _marker_hits(t, LANG_MARKERS["en"]).cast("long")
    return df.select(
        "doc_id",
        *keep,
        n_chars.cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.round(F.try_divide(n_chars.cast("double"),
                              n_tokens.cast("double")), 6) + F.lit(0.0))
        .alias("avg_token_len"),
        n_punct.alias("n_punct"),
        (F.round(F.try_divide(n_punct.cast("double"),
                              n_chars.cast("double")), 6) + F.lit(0.0))
        .alias("punct_ratio"),
        (F.round(F.try_divide(n_digits.cast("double"),
                              n_chars.cast("double")), 6) + F.lit(0.0))
        .alias("digit_ratio"),
        n_stop.alias("n_stopwords"),
    )


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted,
    lower-cased word multiset (classic shingle-free near-dup key)."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(words(F.lower(text)))))


def rolling_fingerprints(text: Column, window: int = 8) -> Column:
    """Rolling window fingerprints (winnowing-style): md5 of each
    ``window``-word shingle — the building block for fuzzy containment
    checks. Returns array<string>.

    The token array is let-bound (functions/bind.py) so each window
    position slices a BOUND variable — referencing the split
    expression inside the lambda would re-tokenize the document per
    position, O(|doc|²)."""
    from ..functions.bind import let

    def build(a):
        n = F.size(a)
        idx = F.sequence(F.lit(1),
                         F.greatest(n - window + 1, F.lit(1)))
        return F.transform(
            idx,
            lambda i: F.md5(F.concat_ws(" ", F.slice(a, i, window))))

    return let(words(F.lower(text)), build)


def _ngrams(ws: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the
    document has fewer than n words (guards sequence() descending).

    ``ws`` is let-bound (functions/bind.py) before the per-position
    ``element_at`` lookups: callers pass the tokenizer EXPRESSION,
    and an expression referenced inside a transform lambda is
    re-evaluated per element — each n-gram position would re-split
    the whole document, O(|doc|²) per doc (measured 10×+ on real
    corpus queries). Bound, each lookup is O(1) on the one
    materialized array."""
    from ..functions.bind import let

    def build(a):
        size = F.size(a)
        return F.when(
            size >= n,
            F.transform(
                F.sequence(F.lit(1), size - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(a, i + j) for j in range(n)]))
        ).otherwise(F.array().cast("array<string>"))

    return let(ws, build)


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — the
    count of the most frequent element, computed row-locally in
    O(n log n) (sort + one linear fold) instead of an explode +
    groupBy shuffle. This is what keeps per-document n-gram stats
    shuffle-free at corpus scale."""
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def _frac(num: Column, den: Column) -> Column:
    return F.coalesce(
        F.round(F.try_divide(num.cast("double"), den.cast("double")), 6)
        + F.lit(0.0),
        F.lit(0.0))


def repetition_features(df: DataFrame, text_col: str = "text",
                        keep: tuple = ()) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rule
    family): duplicate-word fraction, duplicate-line fraction, the
    frequency share of the most common word bigram, and the duplicate
    trigram fraction. Machine-generated and boilerplate text scores
    high on all four; the classic curation rule drops documents above
    per-feature thresholds.

    Everything is row-local column algebra — array_distinct for
    duplicate fractions, sort + run-length fold (``_max_run``) for the
    top-bigram share — so the operator is a narrow projection with
    zero shuffles that Catalyst fuses into the scan, at any corpus
    size. Mirrors the reference's per-series derived stats idea
    (series.c length/start/end) applied to documents."""
    t = F.col(text_col)
    ws = words(F.lower(t))
    n_words = token_count(t)
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "")
    n_lines = F.size(lines)
    bg = _ngrams(ws, 2)
    tg = _ngrams(ws, 3)
    empty = F.length(F.trim(t)) == 0
    z = F.lit(0.0)
    return df.select(
        "doc_id",
        *keep,
        n_words.alias("n_words"),
        F.when(empty, z).otherwise(
            _frac(n_words - F.size(F.array_distinct(ws)), n_words)
        ).alias("dup_word_frac"),
        F.when(empty, z).otherwise(
            _frac(n_lines - F.size(F.array_distinct(lines)), n_lines)
        ).alias("dup_line_frac"),
        F.when(empty, z).otherwise(
            _frac(_max_run(F.array_sort(bg)), F.size(bg))
        ).alias("top_bigram_frac"),
        F.when(empty, z).otherwise(
            _frac(F.size(tg) - F.size(F.array_distinct(tg)), F.size(tg))
        ).alias("dup_trigram_frac"),
    )


def topk_per_group(df: DataFrame, group_col: str, order_by: list,
                   k: int) -> DataFrame:
    """Per-group top-k selection (corpus curation: keep the k best
    documents per source/domain by a quality ordering).

    One window row_number over a single hash shuffle on the group
    key. At 100 TB this is the canonical shape — no global sort, and
    skewed groups are bounded by AQE skew handling; callers must
    include a deterministic tie-break column (e.g. doc_id) in
    ``order_by`` for reproducible corpora."""
    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k).drop("_rk"))


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Unigram language-model scoring: cross-entropy of each document
    under the corpus's own unigram distribution (the stand-in for a
    CCNet/KenLM perplexity filter — rare-token-heavy gibberish scores
    high, repetitive boilerplate scores low).

    Two aggregates, both with map-side partial combine: (1) corpus
    token counts grouped by the 8-byte token hash (the vocabulary is
    tiny relative to the corpus, so this shuffle carries ~|vocab|
    rows per task); (2) per-doc mean of -ln p(token) after a hash
    join of the token stream against the frequency table — AQE
    broadcasts the frequency side whenever the vocabulary fits, which
    at web scale (~10^7 types) it does. No Python anywhere.
    Output: (doc_id, n_tokens, n_types, sum_nw, max_nw, xent) —
    the integer columns are EXACT sufficient statistics of the
    tokenizer + frequency-table + score-join pipeline (token count,
    distinct types in the doc, Σ and max of the corpus counts the
    doc's tokens joined against); they form the cross-engine hashed
    contract. ``xent`` (double, mean -ln p) is the user-facing score
    and is verified in pytest against a Python oracle with tolerance
    — engine-recomputed transcendentals never sit in a hashed column
    (ARCHITECTURE.md "Hashed oracle contract policy")."""
    toks = (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(words(F.lower(F.col(text_col))))
                    .alias("w"))
            .where(F.col("w") != "")
            .select("doc_id", F.xxhash64("w").alias("h")))
    freq = toks.groupBy("h").agg(F.count(F.lit(1)).alias("n_w"))
    total = freq.agg(F.sum("n_w").alias("n_tot"))
    logp = F.log(F.col("n_w") / F.col("n_tot"))
    scored = (toks.join(freq, "h")
              .crossJoin(F.broadcast(total))
              .select("doc_id", "h", "n_w", (-logp).alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count_distinct("h").alias("n_types"),
                 F.sum("n_w").alias("sum_nw"),
                 F.max("n_w").alias("max_nw"),
                 F.avg("nll").alias("xent"))
            .select("doc_id", "n_tokens", "n_types", "sum_nw",
                    "max_nw", "xent"))


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   k: float = 0.5) -> DataFrame:
    """Bigram language-model scoring with add-k smoothing: per-doc
    cross-entropy under the corpus's own bigram distribution,
    P(b|a) = (c(a,b) + k) / (c(a) + k·V). One step up from
    ``unigram_logprob`` toward a KenLM-style perplexity filter —
    catches shuffled-word salad that a unigram model scores as
    perfectly normal.

    Scale shape: bigram construction is ROW-LOCAL (a transform over
    the token array — no self-join on positions); the two count
    aggregates both partial-combine map-side and their shuffles carry
    |bigram types| / |unigram types| rows, tiny next to the corpus;
    the score join is hash-on-(a,b), and AQE broadcasts the count
    side when the vocabulary fits. No Python anywhere.
    Output: (doc_id, n_bigrams, sum_nab, sum_na, v, xent2) — the
    integer columns are exact sufficient statistics (Σ of the bigram
    and unigram counts each bigram instance joined against, plus the
    smoothing vocabulary size V) and form the hashed cross-engine
    contract; ``xent2`` (double) is pytest-verified (ARCHITECTURE.md
    "Hashed oracle contract policy")."""
    ws = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                  lambda x: x != "")
    docs = (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
            .where(F.size("ws") >= 2))
    bi = (docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> struct(ws[i] AS a, ws[i + 1] AS b))")).alias("p"))
        .select("doc_id", "p.a", "p.b"))
    c2 = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    # NOTE r13: deriving c1/v from c2 (marginals of the joint table)
    # was tried and REVERTED — it halves the tokenize passes but
    # chains a second exchange level under every marginal, and the
    # interleaved A/B measured it 40-60% slower at sf0.1 (the
    # repartition exchange under the stream is REUSED across the
    # aggregate subtrees, so the repeated tokenize is cheaper than
    # the extra stage barriers)
    c1 = bi.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    v = bi.agg(F.countDistinct("b").alias("v"))
    # keep the float op order fixed — the oracle replays it verbatim
    p = (F.col("n_ab") + F.lit(k)) / \
        (F.col("n_a") + F.lit(k) * F.col("v"))
    scored = (bi.join(c2, ["a", "b"]).join(c1, ["a"])
              .crossJoin(F.broadcast(v))
              .select("doc_id", "n_ab", "n_a", "v",
                      (-F.log(p)).alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("n_ab").alias("sum_nab"),
                 F.sum("n_a").alias("sum_na"),
                 F.min("v").alias("v"),
                 F.avg("nll").alias("xent2"))
            .select("doc_id", "n_bigrams", "sum_nab", "sum_na",
                    "v", "xent2"))


def trigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: float = 0.5,
                    lambdas: tuple = (0.2, 0.3, 0.5)) -> DataFrame:
    """Interpolated trigram LM scoring — the top of the LM-quality
    ladder (unigram → bigram → this): per-doc cross-entropy under
    ``P(c|a,b) = λ₃·P₃ + λ₂·P₂ + λ₁·P₁`` with add-k smoothed
    components, all estimated from the corpus's own trigram stream.
    Catches text that is locally plausible two words at a time but
    incoherent at three — the failure mode a bigram model scores as
    normal.

    Every component is defined over the SAME trigram stream (P₃ =
    (c(a,b,c)+k)/(c(a,b)+kV), P₂ over the (b,c) suffix, P₁ over the
    final token), so one row-local Generate feeds five count
    aggregates — each shuffles |distinct keys| rows with map-side
    partial combine — and the score join hits vocab-sized tables
    that AQE broadcasts. No Python anywhere.
    Output: (doc_id, n_trigrams, sum_nabc, sum_nab, sum_nbc, sum_nb,
    sum_nc, v, xent3) — the integer columns are exact sufficient
    statistics (Σ of every count table each trigram instance joined
    against, plus V) and form the hashed cross-engine contract;
    ``xent3`` (double) is pytest-verified (ARCHITECTURE.md "Hashed
    oracle contract policy")."""
    l1, l2, l3 = (float(x) for x in lambdas)
    ws = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                  lambda x: x != "")
    docs = (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
            .where(F.size("ws") >= 3))
    tri = (docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws) - 3),"
            " i -> struct(ws[i] AS a, ws[i + 1] AS b,"
            " ws[i + 2] AS c))")).alias("t"))
        .select("doc_id", "t.a", "t.b", "t.c"))
    c3 = tri.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).alias("n_abc"))
    # NOTE r13: marginals-from-the-joint-table (cab = Σ_c c3 etc.)
    # was tried and REVERTED — see bigram_logprob's note; the
    # interleaved A/B measured the chained-exchange shape 40-60%
    # slower at sf0.1 than re-aggregating the stream off the reused
    # repartition exchange
    cab = tri.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    cbc = tri.groupBy("b", "c").agg(F.count(F.lit(1)).alias("n_bc"))
    cb = tri.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    cc = tri.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
    consts = tri.agg(F.count(F.lit(1)).alias("n_tot"),
                     F.countDistinct("c").alias("v"))
    kv = F.lit(k) * F.col("v")
    p3 = (F.col("n_abc") + F.lit(k)) / (F.col("n_ab") + kv)
    p2 = (F.col("n_bc") + F.lit(k)) / (F.col("n_b") + kv)
    p1 = (F.col("n_c") + F.lit(k)) / (F.col("n_tot") + kv)
    p = F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1
    scored = (tri.join(c3, ["a", "b", "c"]).join(cab, ["a", "b"])
              .join(cbc, ["b", "c"]).join(cb, ["b"]).join(cc, ["c"])
              .crossJoin(F.broadcast(consts))
              .select("doc_id", "n_abc", "n_ab", "n_bc", "n_b",
                      "n_c", "v", (-F.log(p)).alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_trigrams"),
                 F.sum("n_abc").alias("sum_nabc"),
                 F.sum("n_ab").alias("sum_nab"),
                 F.sum("n_bc").alias("sum_nbc"),
                 F.sum("n_b").alias("sum_nb"),
                 F.sum("n_c").alias("sum_nc"),
                 F.min("v").alias("v"),
                 F.avg("nll").alias("xent3"))
            .select("doc_id", "n_trigrams", "sum_nabc", "sum_nab",
                    "sum_nbc", "sum_nb", "sum_nc", "v", "xent3"))


def top_ngrams(df: DataFrame, n: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-level top-k n-gram census (vocabulary/boilerplate
    audit — the exact counterpart of a heavy-hitters sketch; at
    100 TB swap in count-min + TakeOrdered if the full n-gram key
    space stops fitting the shuffle).

    One groupBy with map-side partial counts, then a k-row
    TakeOrdered (no global sort). Ties broken lexicographically for
    a deterministic census. Output: (ngram, n_occurrences)."""
    ws = words(F.lower(F.trim(F.col(text_col))))
    grams = (df.where(F.length(F.trim(F.col(text_col))) > 0)
             .select(F.explode(_ngrams(ws, n)).alias("ngram")))
    counted = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    return (counted
            .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
            .limit(k))


def sentence_features(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Sentence-level quality features: sentence count and mean
    sentence length in words — the Gopher-style signals (too-short
    "sentences" mean listicles/navigation, absurdly long ones mean
    unpunctuated spam) that the word-level features can't express.
    Sentences split on ``.!?`` runs; blank fragments don't count.

    Row-local split/filter/aggregate — fuses into the scan, zero
    shuffles, same plan family as quality_features. Output:
    (doc_id, n_sentences, avg_sentence_words, max_sentence_words),
    6 decimals on the mean."""
    frags = F.filter(
        F.transform(F.split(F.col(text_col), r"[.!?]+"),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    wc = F.transform(frags, lambda s: F.size(F.split(s, r"\s+")))
    n = F.size(wc)
    total = F.aggregate(wc, F.lit(0),
                        lambda acc, x: acc + x)
    return (df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_sentences"),
        (F.round(F.try_divide(total.cast("double"),
                              n.cast("double")), 6) + F.lit(0.0))
        .alias("avg_sentence_words"),
        F.array_max(F.concat(wc, F.array(F.lit(0))))
        .cast("long").alias("max_sentence_words")))


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-prep
    pass that turns long documents into overlapping fixed-size token
    windows. Chunk ``i`` covers tokens ``[i·stride, i·stride +
    chunk_tokens)`` with ``stride = chunk_tokens − overlap``; the
    final window is the last one that still starts inside the
    document, so every token lands in ≥1 chunk and no empty chunks
    are emitted.

    Entirely row-local (split → sequence → transform → explode —
    fuses into the scan, zero shuffles, a pure map at any corpus
    size); output rows multiply by ~len/stride, the factor any
    chunker pays. Output: (doc_id, chunk_id, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            "need 0 <= overlap < chunk_tokens (the every-token-"
            "covered guarantee breaks otherwise)")
    stride = chunk_tokens - overlap
    ws = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                  lambda x: x != "")
    n = F.size("ws")
    # one chunk per stride of NEW tokens; a doc shorter than the
    # overlap still yields its single (short) chunk
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("long"))
    chunk = F.explode(F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.slice("ws", i * stride + 1,
                    chunk_tokens).alias("toks"))))
    return (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
            .where(n > 0)
            .select("doc_id", chunk.alias("c"))
            .select("doc_id", F.col("c.chunk_id").alias("chunk_id"),
                    F.array_join(F.col("c.toks"), " ")
                    .alias("chunk_text"),
                    F.size(F.col("c.toks")).cast("long")
                    .alias("n_tokens")))


def _md5_cell(md5_col: Column, row: int, width: int) -> Column:
    """Portable sketch hash: the ``row``-th 8-hex-digit slice of ONE
    md5 per gram, mod ``width`` — 32 hex chars give four independent
    32-bit hashes for the price of one digest, and the value is
    bit-identical in ANSI SQL, which is what makes the sketch's
    collision pattern (and therefore its estimates)
    oracle-checkable. Production swap: ``xxhash64(gram, row)`` —
    same shape, cheaper still."""
    return (F.conv(F.substring(md5_col, 1 + 8 * row, 8), 16, 10)
            .cast("long") % width)


#: input-size bound (optimizer estimate, bytes) under which the
#: count-min cell pass may aggregate the gram stream BY GRAM first
#: and sketch the distinct-gram table weighted by its count: the
#: digest then runs once per DISTINCT gram instead of once per
#: instance (measured 285× fewer md5+conv chains on the bench
#: corpus — 266k bigram instances, 931 distinct). The trade is a
#: gram-keyed shuffle whose key space is the distinct-gram
#: vocabulary, which is exactly what the sketch's depth×width
#: shuffle bound exists to avoid at corpus scale — so the rewrite
#: only applies when the INPUT is provably small enough (≤1 GB of
#: text ⇒ at most tens of millions of distinct grams, a trivial
#: wordcount shuffle on any cluster; cf. the exact top_ngrams,
#: which is this same shape). Identical integers either way:
#: Σ_{g∈cell} count(g) ≡ per-instance cell counting.
_GRAM_DEDUP_MAX_INPUT_BYTES = 1 << 30


def _gram_counts_if_small(grams: DataFrame,
                          est_bytes: int | None = None):
    """``grams.groupBy(g).count()`` when the input size estimate
    says the corpus is small (see ``_GRAM_DEDUP_MAX_INPUT_BYTES``),
    else None. ``est_bytes``: callers that know their source's
    on-disk size pass it (os.stat, microseconds); the fallback asks
    the optimizer for the plan's estimate, which costs ~0.1 s of
    driver time PER CALL — a real tax on sub-second queries."""
    if est_bytes is not None:
        est = int(est_bytes)
    else:
        est = int(str(grams._jdf.queryExecution()
                      .optimizedPlan().stats().sizeInBytes()))
    if not 0 < est < _GRAM_DEDUP_MAX_INPUT_BYTES:
        return None
    return grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("_cnt_g"))


def approx_top_ngrams(df: DataFrame, n: int = 2, k: int = 20,
                      depth: int = 4, width: int = 4096,
                      n_cand: int = 200, sample_frac: float = 0.25,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      est_bytes: int | None = None) -> DataFrame:
    """Approximate corpus heavy hitters: a count-min sketch plus
    sampled candidate generation — the bounded-shuffle replacement
    for :func:`top_ngrams` when the n-gram key space stops fitting a
    shuffle (the swap-in that function's docstring promises).

    Scale shape: the full-corpus sketch pass shuffles AT MOST
    depth×width rows per task (map-side partial combine folds every
    gram into the fixed cell space — corpus size never reaches the
    exchange); candidates are counted exactly but only on a
    deterministic md5 document sample (``sample_frac``); the
    estimate join touches |candidates|×depth rows against the
    depth×width sketch. Count-min never underestimates, so a true
    heavy hitter that enters the candidate set can only rank higher,
    never vanish; raise ``n_cand``/``sample_frac`` to tighten
    recall, ``width`` to tighten estimates.
    Output: (ngram, est_count) — top-k by estimate, ties broken
    lexicographically; deterministic and engine-independent."""
    from ..localdf import fan_out

    # the per-gram md5 sketch pass is the CPU bill here — spread a
    # few-split input across the cores first (no-op at production
    # split counts; row-preserving)
    df = fan_out(df)
    ws = words(F.lower(F.trim(F.col(text_col))))
    grams = (df.where(F.length(F.trim(F.col(text_col))) > 0)
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(_ngrams(ws, n)).alias("g")))

    if depth > 4:
        raise ValueError("depth > 4 needs more than one md5 digest")

    def cell_array(col):
        m = F.md5(col)
        return F.array(*[
            F.struct(F.lit(i).cast("long").alias("r"),
                     _md5_cell(m, i, width).alias("c"))
            for i in range(depth)])

    gcnt = _gram_counts_if_small(grams, est_bytes)
    if gcnt is not None:
        # small corpus: digest each DISTINCT gram once, weight its
        # cell contribution by the exact count — identical cell
        # integers, ~|vocab|/|instances| of the hash work
        cells = (gcnt.select("_cnt_g",
                             F.explode(cell_array(F.col("g")))
                             .alias("rc"))
                 .groupBy(F.col("rc.r").alias("r"),
                          F.col("rc.c").alias("c"))
                 .agg(F.sum("_cnt_g").alias("cnt")))
    else:
        cells = (grams.select(F.explode(cell_array(F.col("g")))
                              .alias("rc"))
                 .groupBy(F.col("rc.r").alias("r"),
                          F.col("rc.c").alias("c"))
                 .agg(F.count(F.lit(1)).alias("cnt")))
    # candidates are n_cand rows BY CONSTRUCTION: collect them once
    # and rejoin as a literal local relation — the former lazy shape
    # re-materialized the full sampled-count subtree per broadcast
    # consumer. Same rows, same order, one candidate pass.
    cand = _collect_cand_ngrams(grams, sample_frac, n_cand)
    cand_cells = (cand.select(
        "g", F.explode(cell_array(F.col("g"))).alias("rc"))
        .select("g", F.col("rc.r").alias("r"),
                F.col("rc.c").alias("c")))
    est = (cells.join(F.broadcast(cand_cells), ["r", "c"])
           .groupBy("g").agg(F.min("cnt").alias("est_count")))
    return (est.orderBy(F.desc("est_count"), F.asc("g")).limit(k)
            .select(F.col("g").alias("ngram"), "est_count"))


def _collect_cand_ngrams(grams: DataFrame, sample_frac: float,
                         n_cand: int) -> DataFrame:
    """The count-min candidate set (top ``n_cand`` grams by exact
    count over the deterministic md5 document sample) as a LITERAL
    local relation: one corpus pass, collected (≤ n_cand rows — the
    bound is the point of candidate generation), handed back as an
    arrow frame so downstream broadcasts never recompute the pass."""
    from .curation import uniform01
    from ..localdf import arrow_df

    cand_plan = (grams.where(uniform01(F.col("doc_id"))
                             < F.lit(sample_frac))
                 .groupBy("g").agg(F.count(F.lit(1)).alias("s_cnt"))
                 .orderBy(F.desc("s_cnt"), F.asc("g")).limit(n_cand))
    rows = cand_plan.collect()
    return arrow_df(grams.sparkSession,
                    [(r["g"], r["s_cnt"]) for r in rows],
                    cand_plan.schema)


def cms_accuracy(df: DataFrame, n: int = 2, depth: int = 4,
                 width: int = 4096, n_cand: int = 200,
                 sample_frac: float = 0.25,
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 est_bytes: int | None = None) -> DataFrame:
    """Estimator audit for :func:`approx_top_ngrams`'s count-min
    sketch: for every candidate gram, the sketch estimate NEXT TO
    its exact full-corpus count and the overshoot — count-min never
    underestimates, so ``overshoot ≥ 0`` is a theorem the data
    carries row by row (a negative value means the sketch or its
    oracle replay is broken, not that the corpus is unusual).

    Scale shape matches the sketch itself: the exact side counts
    ONLY the |candidates| grams (a broadcast semi-join prunes the
    gram stream before its shuffle), so the audit stays
    candidate-sized no matter the corpus. All integers end to end.
    Output: (ngram, est_count, exact_count, overshoot)."""
    from ..localdf import fan_out

    # see approx_top_ngrams: the md5 sketch pass wants core-width
    # parallelism even off a single-split scan
    df = fan_out(df)
    ws = words(F.lower(F.trim(F.col(text_col))))
    grams = (df.where(F.length(F.trim(F.col(text_col))) > 0)
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(_ngrams(ws, n)).alias("g")))
    if depth > 4:
        raise ValueError("depth > 4 needs more than one md5 digest")

    def cell_array(col):
        m = F.md5(col)
        return F.array(*[
            F.struct(F.lit(i).cast("long").alias("r"),
                     _md5_cell(m, i, width).alias("c"))
            for i in range(depth)])

    gcnt = _gram_counts_if_small(grams, est_bytes)
    if gcnt is not None:
        # small corpus (see _GRAM_DEDUP_MAX_INPUT_BYTES): one
        # gram-count aggregate feeds BOTH sides — the sketch cells
        # (distinct grams digested once, weighted by count) and the
        # exact candidate counts (a filter of the same table, no
        # second corpus pass). Identical integers.
        cells = (gcnt.select("_cnt_g",
                             F.explode(cell_array(F.col("g")))
                             .alias("rc"))
                 .groupBy(F.col("rc.r").alias("r"),
                          F.col("rc.c").alias("c"))
                 .agg(F.sum("_cnt_g").alias("cnt")))
    else:
        cells = (grams.select(F.explode(cell_array(F.col("g")))
                              .alias("rc"))
                 .groupBy(F.col("rc.r").alias("r"),
                          F.col("rc.c").alias("c"))
                 .agg(F.count(F.lit(1)).alias("cnt")))
    # see approx_top_ngrams: the candidate set is n_cand rows by
    # construction — collect once, rejoin as a local relation (the
    # lazy shape re-ran the sampled-count pass for EACH of its two
    # broadcast consumers: the cell probe and the exact-count
    # semi-join)
    cand = _collect_cand_ngrams(grams, sample_frac, n_cand)
    cand_cells = (cand.select(
        "g", F.explode(cell_array(F.col("g"))).alias("rc"))
        .select("g", F.col("rc.r").alias("r"),
                F.col("rc.c").alias("c")))
    est = (cells.join(F.broadcast(cand_cells), ["r", "c"])
           .groupBy("g").agg(F.min("cnt").alias("est_count")))
    if gcnt is not None:
        exact = (gcnt.join(F.broadcast(cand.select("g")), "g")
                 .select("g", F.col("_cnt_g")
                         .alias("exact_count")))
    else:
        exact = (grams.join(F.broadcast(cand.select("g")), "g")
                 .groupBy("g").agg(F.count(F.lit(1))
                                   .alias("exact_count")))
    return (est.join(exact, "g")
            .select(F.col("g").alias("ngram"), "est_count",
                    "exact_count",
                    (F.col("est_count") - F.col("exact_count"))
                    .alias("overshoot")))


def length_histogram(df: DataFrame, width: int = 16,
                     text_col: str = "text",
                     lang_col: str = "lang") -> DataFrame:
    """Per-language token-length histogram (corpus shape audit —
    the first chart anyone draws over a new crawl).

    Token counts are row-local expressions fused into the scan; the
    histogram is one groupBy on (lang, bucket) with map-side partial
    counts — the result is O(|langs| × |buckets|) rows no matter the
    corpus size. Output: (lang, bucket, n_docs, avg_chars) with
    bucket = floor(n_tokens / width) * width."""
    n_tok = token_count(F.col(text_col))
    bucket = (n_tok - n_tok % width).alias("bucket")
    return (df.select(F.col(lang_col).alias("lang"), bucket,
                      F.length(F.col(text_col)).alias("n_chars"))
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 # exact-int sum / count — order-free
                 (F.round(F.sum("n_chars") / F.count(F.lit(1)), 4)
                  + F.lit(0.0))
                 .alias("avg_chars")))


def tfidf_top_terms(df: DataFrame, k: int = 5,
                    text_col: str = "text",
                    group_col: str = "source") -> DataFrame:
    """Per-source characteristic terms by tf-idf (what distinguishes
    one slice of the corpus from the rest — boilerplate and
    source-specific vocabulary surface immediately).

    Terms are lowercase letter runs. Three aggregates, all with
    map-side partial combine: term count per (source, term), document
    frequency per term over sources, then a per-source top-k window.
    The df side joins on the term itself; at web scale the distinct
    term table is vocabulary-sized, so AQE broadcasts it. Ties break
    lexicographically for a deterministic result.
    Output: (source, term, tf, score_micro) — tf · ln(N/df) in
    micro-units as BIGINT (quantized at birth, so the hashed column
    and the top-k ordering both carry no float bits)."""
    from .dedup import _persist_bounded

    terms = (df.select(F.col(group_col).alias("source"),
                       F.explode(F.split(F.lower(F.col(text_col)),
                                         "[^a-z]+")).alias("term"))
             .where(F.col("term") != ""))
    # tf feeds BOTH join sides (scores and document frequency);
    # persist it so the corpus is tokenized once, not re-scanned per
    # branch — at 100 TB the tf table is vocabulary×sources-sized,
    # orders of magnitude smaller than the corpus
    tf = _persist_bounded(terms.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    # NULL groups don't count as a source (SQL COUNT(DISTINCT)
    # semantics — keeps the idf in lockstep with the oracle)
    n_sources = (df.where(F.col(group_col).isNotNull())
                 .select(group_col).distinct().count())
    scored = (tf.join(dfreq, "term")
              .select("source", "term", "tf",
                      scaled_term(F.col("tf")
                                  * F.log(F.lit(float(n_sources))
                                          / F.col("df")))
                      .alias("score_micro")))
    w = Window.partitionBy("source").orderBy(
        F.desc("score_micro"), F.asc("term"))
    return (scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k).drop("_rk"))


def tfidf_stats(df: DataFrame, probe_terms: list,
                text_col: str = "text",
                group_col: str = "source") -> DataFrame:
    """The exact-integer contract surface of :func:`tfidf_top_terms`
    for a fixed probe-term set: (source, term, tf, df, n_sources) —
    term frequency per source, document frequency over sources, and
    the source count. These sufficient statistics pin the tokenizer
    and both count aggregates exactly; the tf·ln(N/df) score is a
    pure function of them and is pytest-verified with tolerance
    (transcendentals never sit in a hashed column — ARCHITECTURE.md
    "Hashed oracle contract policy"). Same plan shape as the full
    operator with the probe IN-list pruning the exploded stream
    before the exchange."""
    probe = sorted({t.lower() for t in probe_terms})
    terms = (df.select(F.col(group_col).alias("source"),
                       F.explode(F.split(F.lower(F.col(text_col)),
                                         "[^a-z]+")).alias("term"))
             .where(F.col("term") != ""))
    tf = (terms.where(F.col("term").isin(probe))
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_sources = (df.where(F.col(group_col).isNotNull())
                 .select(group_col).distinct().count())
    return (tf.join(F.broadcast(dfreq), "term")
            .select("source", "term", "tf", "df",
                    F.lit(n_sources).cast("long").alias("n_sources")))


def bm25_stats(df: DataFrame, query_terms: list,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """The exact-integer contract surface of :func:`bm25_topk`:
    per (doc, query term) posting statistics (doc_id, term, tf, dl,
    df) — term frequency, the doc's total token length, and the
    term's document frequency over matching docs. Together with the
    corpus-level (n_docs, avgdl) these determine the BM25 score
    exactly; the ln-seeded score itself is pytest-verified and never
    hashed (ARCHITECTURE.md "Hashed oracle contract policy"). Plan
    shape matches the full operator: the IN-list prunes the exploded
    stream before the tf shuffle; dl comes from the same pass."""
    qset = sorted({t.lower() for t in query_terms})
    toks = (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        "[^a-z]+")).alias("term"))
            .where(F.col("term") != ""))
    per_doc = (toks.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("dl")))
    tf = (toks.where(F.col("term").isin(qset))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (tf.join(F.broadcast(dfreq), "term")
            .join(per_doc, "doc_id")
            .select("doc_id", "term", "tf", "dl", "df"))


def bm25_topk(df: DataFrame, query_terms: list, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 keyword search: score every document against a bag
    of query terms, return the top-k.

    Terms are lowercase letter runs (the tf-idf tokenizer). One
    explode+groupBy computes per-doc term frequencies for the query
    terms ONLY (the filter prunes before the shuffle, so the scored
    stream is |matching postings|, not |corpus tokens|); document
    frequencies and the corpus-size/average-length constants are
    one tiny aggregate broadcast back. Scoring is row-local; the
    top-k is a TakeOrdered. Ties break by doc id.
    Output: (doc_id, score_micro) — BIGINT micro-units; idf =
    ln(1 + (N-df+0.5)/(df+0.5)) (the standard non-negative variant),
    each per-term contribution quantized at birth so the hashed
    column and the top-k ordering carry no float bits."""
    qset = sorted({t.lower() for t in query_terms})
    toks = (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        "[^a-z]+")).alias("term"))
            .where(F.col("term") != ""))
    # per-doc length over ALL terms (BM25's dl), computed without a
    # second scan: count all tokens per doc, keep query-term tfs
    per_doc = (toks.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("dl")))
    tf = (toks.where(F.col("term").isin(qset))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    consts = per_doc.agg(F.avg("dl").alias("avgdl"),
                         F.count(F.lit(1)).alias("n_docs"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(per_doc, "doc_id")
              .crossJoin(F.broadcast(consts)))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf_part = (F.col("tf") * (k1 + 1)) / \
        (F.col("tf") + F.lit(k1)
         * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl")))
    return (scored
            .groupBy("doc_id")
            .agg(F.sum(scaled_term(idf * tf_part))
                 .alias("score_micro"))
            .orderBy(F.desc("score_micro"), F.asc("doc_id"))
            .limit(k))


def quality_gate(df: DataFrame, min_tokens: int = 10,
                 max_tokens: int = 1000,
                 min_avg_token: float = 2.0,
                 max_avg_token: float = 12.0,
                 max_punct_ratio: float = 0.2,
                 max_digit_ratio: float = 0.2,
                 text_col: str = "text") -> DataFrame:
    """Composed Gopher-style quality filter: the keep/drop decision a
    corpus pipeline actually applies, built from quality_features'
    length, word-length, punctuation, and digit rules. Row-local on
    top of the feature projection — still fuses into the scan, no
    shuffle. NULL features (empty docs) fail closed.
    Output: (doc_id, n_tokens, keep)."""
    feats = quality_features(df, text_col=text_col)
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("avg_token_len") >= min_avg_token)
        & (F.col("avg_token_len") <= max_avg_token)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("digit_ratio") <= max_digit_ratio))
    return feats.select(
        "doc_id", "n_tokens",
        F.coalesce(keep, F.lit(False)).alias("keep"))


def remove_boilerplate_lines(df: DataFrame, min_docs: int = 3,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """C4-style boilerplate-line removal: a (trimmed, non-empty) line
    that occurs in ≥ ``min_docs`` DISTINCT documents is boilerplate
    (cookie banners, nav bars, license headers) and is dropped from
    every document; each document is rebuilt from its kept lines in
    original order.

    Plan shape: posexplode lines (row-local), one distinct-count
    aggregate over trimmed lines (map-side partial), a hash join of
    the line stream against the frequency table (AQE broadcasts it
    when the boilerplate vocabulary fits — it is tiny next to the
    corpus), and one per-doc sort-free rebuild via array_sort on
    (idx, line) structs. At 100 TB the join key would be an 8-byte
    line hash rather than the line text; the string key here keeps
    the operator bit-identical to the SQL oracle.
    Output: (doc_id, n_lines, n_kept, text_clean)."""
    lines = (df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("idx", "line")))
    freq = (lines.where(F.trim("line") != "")
            .groupBy(F.trim("line").alias("t"))
            .agg(F.countDistinct("doc_id").alias("nd"))
            .where(F.col("nd") >= min_docs))
    kept = (lines.join(freq, F.trim(lines["line"]) == freq["t"],
                       "left_anti"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("idx", "line"))),
                            lambda s: s["line"]), "\n")
                    .alias("text_clean")))
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_clean", F.lit(""))
                    .alias("text_clean")))


def phrase_search(df: DataFrame, phrase: str,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact phrase search via a positional index, in ONE shuffle.

    Instead of k-1 self-joins (one per adjacent term pair — the
    naive positional-index plan), every token occurrence that
    matches phrase position j at text position p emits the anchor
    p - j; a (doc, anchor) group holding all k distinct j values is
    a phrase hit. One groupBy, no joins, and the term IN-list
    prunes the exploded stream before the exchange — at 100 TB the
    shuffle carries only occurrences of the phrase's terms.
    Repeated phrase terms (e.g. "scan scan") are handled by the
    distinct-j count, not occurrence counting.

    Returns (id_col, n_matches, first_pos) for matching docs.
    """
    import re as _re

    # the phrase goes through the SAME tokenizer as the text, so
    # punctuation in the query ("foo, bar") can't silently produce
    # unmatchable terms
    terms = _re.findall(r"[a-z0-9']+", phrase.lower())
    if not terms:
        raise ValueError("empty phrase")
    k = len(terms)
    tok = (df.select(
        id_col,
        F.posexplode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(r"[a-z0-9']+"), 0))
        .alias("pos", "term"))
        .where(F.col("term").isin(terms)))
    # one row per (doc, anchor, j): token at pos matches phrase slot j
    slots = None
    for j, t in enumerate(terms):
        s = (tok.where(F.col("term") == t)
             .select(id_col, (F.col("pos") - F.lit(j)).alias("anchor"),
                     F.lit(j).alias("j")))
        slots = s if slots is None else slots.unionAll(s)
    return (slots.where(F.col("anchor") >= 0)
            .groupBy(id_col, "anchor")
            .agg(F.count_distinct("j").alias("nj"))
            .where(F.col("nj") == k)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("anchor").alias("first_pos")))


def vocab_stats(df: DataFrame, text_col: str = "text",
                group_col: str = "source") -> DataFrame:
    """Per-group corpus vocabulary statistics: token count, distinct
    vocabulary, type-token ratio and hapax share (words seen once —
    the Zipf tail mass, a standard corpus-quality signal).
    Two aggregations over one exploded pass: (group, word) counts
    first (map-side combine collapses the Zipf head), then the
    vocabulary-sized rollup — the corpus-scale exchange carries at
    most |vocab| rows per partition.

    Words are the WHITESPACE tokens of the lowered, trimmed text —
    the exact tokenizer construction every driver-green text entry
    uses (the previous ``[a-z0-9']+`` extraction was the one
    construction unique to this entry across two driver-hash-red
    rounds, so it was retired from the contract surface). The hashed
    cross-engine contract is the three COUNT columns; the two ppm
    ratios are derived pure functions of them (pytest-verified) and
    stay out of the hash (ARCHITECTURE.md "Hashed oracle contract
    policy")."""
    ws = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                  lambda x: x != "")
    wc = (df.where(F.length(F.trim(F.col(text_col))) > 0)
          .select(F.col(group_col).alias("grp"),
                  F.explode(ws).alias("word"))
          .groupBy("grp", "word")
          .agg(F.count(F.lit(1)).alias("n")))
    return (wc.groupBy("grp")
            .agg(F.sum("n").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_vocab"),
                 F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select(F.col("grp").alias(group_col), "n_tokens",
                    "n_vocab", "n_hapax",
                    int_ppm(F.col("n_vocab"), F.col("n_tokens"))
                    .alias("type_token_ppm"),
                    int_ppm(F.col("n_hapax"), F.col("n_vocab"))
                    .alias("hapax_ppm")))


def quality_score_linear(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Model-based quality filtering stand-in: a fixed-weight
    logistic scorer over the quality features (stopword density up,
    punctuation density down, a saturating length prior) — the same
    interface a fastText/linear quality classifier has in a real
    pipeline, with deterministic public weights instead of learned
    ones. Row-local, fuses into the scan.

    The hashed cross-engine contract is (doc_id, z_micro, keep):
    the logit ``z`` is built ONLY from IEEE-exact ops (+, ×, /,
    least) over integer-derived doubles, so both engines compute a
    bit-identical double and its micro-unit quantization can never
    diverge; ``keep = z_micro ≥ 0`` (⇔ p ≥ 0.5 up to the 1e-6
    grid). The sigmoid probability ``score_micro`` is transcendental
    and therefore stays OUT of the hash — it is pytest-verified
    against a Python oracle (ARCHITECTURE.md "Hashed oracle
    contract policy"). Empty docs yield NULLs. Output: (doc_id,
    z_micro, keep, score_micro)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    n_tokens = token_count(t).cast("double")
    n_punct = F.size(F.regexp_extract_all(
        t, F.lit(r"[^\w\s]"), F.lit(0))).cast("double")
    n_stop = _marker_hits(t, LANG_MARKERS["en"]).cast("double")
    # fixed op order — the oracle replays it verbatim
    z = (F.lit(-1.0)
         + F.lit(8.0) * F.try_divide(n_stop, n_tokens)
         + F.lit(-6.0) * F.try_divide(n_punct, n_chars)
         + F.lit(1.5) * F.least(n_tokens, F.lit(400.0))
         / F.lit(400.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    z_q = scaled_term(z)
    return df.select(
        F.col(id_col), z_q.alias("z_micro"),
        (z_q >= F.lit(0)).alias("keep"),
        scaled_term(p).alias("score_micro"))


def char_diversity(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Character-level diversity signal (the exact-integer cousin of
    character entropy, per the hashed-contract policy): per doc, the
    character count, distinct-character count, and the Simpson
    collision mass Σc²/n² as exact half-up ppm — high collision =
    repetitive/low-diversity text (keyboard mashing, repeated
    padding), low = diverse prose. Pure integer end-to-end (counts
    and a rational ratio — no ln, unlike entropy, which this proxy
    orders almost identically on natural text). One explode +
    map-side-combined (doc, char) counts; the shuffle carries at
    most |alphabet| rows per doc. Output: (doc_id, n_chars,
    n_distinct_chars, collision_ppm)."""
    chars = (df.where(F.length(text_col) > 0)
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(F.sequence(
                         F.lit(1), F.length(text_col))).alias("i"),
                     F.col(text_col).alias("_t"))
             .select("doc_id",
                     F.expr("substring(_t, i, 1)").alias("ch")))
    cc = (chars.groupBy("doc_id", "ch")
          .agg(F.count(F.lit(1)).alias("c")))
    return (cc.groupBy("doc_id")
            .agg(F.sum("c").alias("n_chars"),
                 F.count(F.lit(1)).alias("n_distinct_chars"),
                 F.sum(F.col("c") * F.col("c")).alias("_c2"))
            .select("doc_id", "n_chars", "n_distinct_chars",
                    int_ppm(F.col("_c2"),
                            F.col("n_chars").cast("decimal(38,0)")
                            * F.col("n_chars"))
                    .alias("collision_ppm")))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """Compressibility quality signal (the Gopher/FineWeb-class
    repetitiveness heuristic): highly compressible text is
    boilerplate/templated/repeated, incompressible text is
    random-ish noise — both ends get filtered in production corpus
    pipelines. Ratio = compressed/raw bytes as exact integer ppm
    (zlib at a fixed level is deterministic for a given input, and
    the ppm math carries no float bits). Row-local Arrow map — a
    pure scan-side transform at any corpus size. Empty docs yield
    NULLs. Output: (doc_id, n_bytes, ratio_ppm)."""
    import zlib

    import pandas as pd

    schema = ("doc_id long, n_bytes long, ratio_ppm long")

    def run(batches):
        for pdf in batches:
            ids, nb, rp = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                ids.append(int(i))
                if not raw:
                    nb.append(None)
                    rp.append(None)
                    continue
                comp = zlib.compress(raw, level)
                n, c = len(raw), len(comp)
                nb.append(n)
                rp.append((2 * c * 1000000 + n) // (2 * n))
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": nb, "ratio_ppm": rp})

    return (df.select(F.col(id_col).alias(id_col), text_col)
            .mapInPandas(run, schema=schema))


# ------------------------------------------------------ retrieval eval
def tf_rank_runs(df: DataFrame, queries: list, k: int = 10,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic integer retrieval runs for evaluation: per
    query term, rank documents by raw term frequency (ties to the
    smaller id) and keep the top ``k``. Not the production ranker
    (bm25_topk is) — this one is integer-exact, so the EVALUATION
    machinery downstream can be pinned cross-engine end to end; the
    same metrics applied to the float bm25 ranking are
    pytest-verified. Output: (query, doc_id, rank)."""
    from pyspark.sql import Window

    from ..localdf import arrow_df
    q = F.broadcast(arrow_df(df.sparkSession,
                             [(t,) for t in queries],
                             "query string"))
    ws = F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
    tf = (df.select(F.col(id_col).alias("doc_id"),
                    F.explode(ws).alias("w"))
          .where(F.col("w") != "")
          .join(q, F.col("w") == F.col("query"))
          .groupBy("query", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    w = Window.partitionBy("query").orderBy(
        F.col("tf").desc(), F.col("doc_id"))
    return (tf.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query", "doc_id", "rank"))


def tf_rank_runs_with_qrels(df: DataFrame, queries: list,
                            k: int = 10, text_col: str = "text",
                            id_col: str = "doc_id"):
    """``(tf_rank_runs(...), containment_qrels(...))`` off ONE
    tokenize pass: a (query, doc) term-frequency row exists iff the
    term occurs as a whole word (the same split regex defines both
    operators), so the qrel set IS the tf table's key set — no
    second corpus tokenize, no array_contains nested-loop join.
    Row-identical to calling the two operators separately (pinned
    in pytest); the shared tf exchange is reused across the run and
    qrel branches of whatever plan consumes both."""
    run = tf_rank_runs(df, queries, k, text_col, id_col)
    # rebuild the identical tf subtree lazily; Catalyst's exchange
    # reuse dedupes it against run's copy inside a combined plan
    from ..localdf import arrow_df
    q = F.broadcast(arrow_df(df.sparkSession,
                             [(t,) for t in queries],
                             "query string"))
    ws = F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
    qrels = (df.select(F.col(id_col).alias("doc_id"),
                       F.explode(ws).alias("w"))
             .where(F.col("w") != "")
             .join(q, F.col("w") == F.col("query"))
             .groupBy("query", "doc_id")
             .agg(F.count(F.lit(1)).alias("tf"))
             .select("query", "doc_id"))
    return run, qrels


def containment_qrels(df: DataFrame, queries: list,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Ground-truth relevance by exact containment: a document is
    relevant to a query term iff the term occurs as a whole word —
    an oracle-computable qrel set (no ranker involved).
    Output: (query, doc_id)."""
    from ..localdf import arrow_df
    q = F.broadcast(arrow_df(df.sparkSession,
                             [(t,) for t in queries],
                             "query string"))
    ws = F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.array_distinct(ws).alias("ws"))
            .join(q, F.array_contains(F.col("ws"), F.col("query")))
            .select("query", "doc_id"))


def retrieval_metrics(run: DataFrame, qrels: DataFrame,
                      k: int = 10) -> DataFrame:
    """Per-query retrieval quality as EXACT integers: ``n_rel``
    (relevant set size), ``hits_at_k`` (relevant retrieved),
    ``rr_x2520`` (reciprocal rank of the first relevant result,
    scaled by 2520 = lcm(1..10) so 1/rank is integral for any rank
    ≤ 10; 0 when nothing relevant was retrieved). recall@k =
    hits/n_rel and precision@k = hits/k replay from these integers;
    MRR = avg(rr_x2520)/2520. Rational-exact end to end — no float
    enters the contract. Joins: run×qrels on (query, doc_id), one
    groupBy."""
    if k > 10:
        raise ValueError("rr_x2520 scaling requires k <= 10")
    hit = run.join(qrels, ["query", "doc_id"]) \
        .where(F.col("rank") <= k)
    per = (hit.groupBy("query")
           .agg(F.count(F.lit(1)).alias("hits_at_k"),
                F.min("rank").alias("first_rank")))
    nrel = qrels.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_rel"))
    return (nrel.join(per, "query", "left")
            .select("query", "n_rel",
                    F.coalesce("hits_at_k", F.lit(0))
                    .cast("long").alias("hits_at_k"),
                    F.coalesce(F.lit(2520) / F.col("first_rank"),
                               F.lit(0)).cast("long")
                    .alias("rr_x2520")))


def vocab_drift(old: DataFrame, new: DataFrame, k: int = 20,
                text_col: str = "text") -> DataFrame:
    """Distribution drift between two corpus snapshots, as exact
    integers: per term, the cross-product deviation
    ``|c_old·T_new − c_new·T_old|`` (the numerator of the term's
    total-variation contribution |p_old − p_new|·T_old·T_new — zero
    iff the term's relative frequency is unchanged), for the top
    ``k`` most-drifted terms (ties to the lexicographically smaller
    term). The TV distance itself replays as
    Σ dev / (2·T_old·T_new) — a pure rational of the returned
    integers, so no float enters the cross-engine contract.

    Scale shape: two word-count aggregations (map-side combinable),
    a full-outer join on the term, one TakeOrdered-style top-k —
    never a global sort of the vocabulary. The drift question this
    answers is the pre-training gate "did the crawl shift under
    us?". Output: (term, c_old, c_new, dev) + totals carried on
    every row (t_old, t_new)."""
    def counts(df):
        ws = F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
        return (df.select(F.explode(ws).alias("term"))
                .where(F.col("term") != "")
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("c")))

    co = counts(old)
    cn = counts(new)
    # totals ride the lazy plan as a broadcast 1-row frame instead
    # of two eager .first() actions: each side's term-count
    # EXCHANGE is then identical in its total branch and its join
    # branch, so Spark reuses it and each corpus is tokenized ONCE
    # (the eager shape ran every tokenize+count twice — 4 corpus
    # passes and 3 driver actions for what one action computes).
    # Same integers: c·T products over the same exact counts.
    totals = (co.agg(F.coalesce(F.sum("c"), F.lit(0))
                     .alias("t_old"))
              .crossJoin(cn.agg(F.coalesce(F.sum("c"), F.lit(0))
                                .alias("t_new"))))
    j = (co.withColumnRenamed("c", "c_old")
         .join(cn.withColumnRenamed("c", "c_new"), "term",
               "full_outer")
         .select("term",
                 F.coalesce("c_old", F.lit(0)).alias("c_old"),
                 F.coalesce("c_new", F.lit(0)).alias("c_new"))
         .crossJoin(F.broadcast(totals)))
    dev = F.abs(F.col("c_old") * F.col("t_new")
                - F.col("c_new") * F.col("t_old"))
    scored = j.select("term", "c_old", "c_new", dev.alias("dev"),
                      "t_old", "t_new")
    return (scored.orderBy(F.col("dev").desc(), F.col("term"))
            .limit(k))


def _hash_bucket_sign(word_col, dim: int):
    """(bucket index, ±1 sign) for the hashing trick — md5's first
    15 hex chars mod dim, sign from the 16th nibble. ONE definition:
    this pair is the cross-engine contract mirrored verbatim in the
    hash-embed oracles, so the plain and tf-idf embeddings must
    share it."""
    h = F.md5(word_col)
    idx = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") \
        % F.lit(dim)
    sign = F.when(F.conv(F.substring(h, 16, 1), 16, 10)
                  .cast("int") < 8, F.lit(1)).otherwise(F.lit(-1))
    return idx, sign


def hash_embed(df: DataFrame, dim: int = 64,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Feature-hashing document vectors (the hashing trick,
    Weinberger et al. 2009): each word lands in bucket
    md5(word) mod dim with a ±1 sign from the next md5 nibble, and
    the document vector is the signed count sum — a model-free
    dense embedding good enough for near-dup prefiltering and cheap
    clustering long before a learned encoder enters the pipeline.

    One explode + one (doc, bucket) groupBy with map-side combine;
    output is (doc_id, i, v) in long-exploded form — EXACT integers
    derived from md5 string ops, so the whole embedding matrix is
    cross-engine hashable (same determinism trick as the sketch
    family). Assemble arrays with collect_list when feeding the
    similarity operators; compose with similarity.scalar_quantize /
    sq_topk for the serving path."""
    from ..localdf import fan_out

    # per-token md5 bucketing is the CPU bill — fan a few-split
    # input out first (no-op at production split counts)
    df = fan_out(df)
    w = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                 lambda x: x != "")
    toks = (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(w).alias("word")))
    idx, sign = _hash_bucket_sign(F.col("word"), dim)
    return (toks.select("doc_id", idx.alias("i"),
                        sign.alias("s"))
            .groupBy("doc_id", "i")
            .agg(F.sum("s").cast("long").alias("v")))


def hash_embed_neighbors(df: DataFrame, query_id, dim: int = 64,
                         k: int = 20, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Top-k neighbors of one document by EXACT integer dot product
    over the hash embeddings — the cheap similarity search these
    vectors exist for. The query's ≤dim nonzero components broadcast
    to a hash join on the bucket index; the dot product is one
    groupBy-sum of v·v products, ties to the smaller doc_id. All
    integers — fully hashable. Output: (doc_id, dot)."""
    emb = hash_embed(df, dim, text_col, id_col)
    qv = (emb.where(F.col("doc_id") == query_id)
          .select(F.col("i"), F.col("v").alias("qv")))
    return (emb.where(F.col("doc_id") != query_id)
            .join(F.broadcast(qv), "i")
            .groupBy("doc_id")
            .agg(F.sum(F.col("v") * F.col("qv")).alias("dot"))
            .orderBy(F.col("dot").desc(), F.col("doc_id"))
            .limit(k))


def hash_embed_tfidf(df: DataFrame, dim: int = 64,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """TF-IDF-weighted feature hashing: like :func:`hash_embed` but
    each word contributes sign·tf·idf_fix instead of a raw signed
    count, with idf_fix = fixlog2(N) − fixlog2(df_w) — the exact
    fixed-point log₂(N/df) (operators/classify.py fixlog2, read off
    the binary string, no libm). The embedding stays ALL integers
    and cross-engine hashable while rare terms dominate common ones
    the way real tf-idf vectors behave.

    One explode + one (doc, word) tf aggregate; the document
    frequencies are the tf table's own per-word row counts (a tf
    row exists iff the (doc, word) pair exists — the r13 shape
    re-tokenized the corpus a second time through distinct() to
    count the same pairs; guide §1.2 "don't compute things twice").
    The |vocab|-row df table joins back onto tf — AQE broadcasts it
    whenever the vocabulary fits. Output: (doc_id, i, v) longs."""
    from ..localdf import fan_out
    from .classify import fixlog2

    # same CPU shape as hash_embed: md5 per token
    df = fan_out(df)
    w = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                 lambda x: x != "")
    base = df.where(F.length(F.trim(F.col(text_col))) > 0)
    toks = base.select(F.col(id_col).alias("doc_id"),
                       F.explode(w).alias("word"))
    n_docs = base.select(
        F.count_distinct(F.col(id_col)).alias("nd"))
    tf = (toks.groupBy("doc_id", "word")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("word")
             .agg(F.count(F.lit(1)).alias("df")))
    idx, sign = _hash_bucket_sign(F.col("word"), dim)
    idf = fixlog2(F.col("nd")) - fixlog2(F.col("df"))
    return (tf.join(dfreq, "word").crossJoin(F.broadcast(n_docs))
            .select("doc_id", idx.alias("i"),
                    (sign * F.col("tf") * idf).alias("t"))
            .groupBy("doc_id", "i")
            .agg(F.sum("t").cast("long").alias("v")))


def quality_percentile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       group_col: str = "source") -> DataFrame:
    """Per-group rank normalization of the quality logit: the raw
    quality score means different things in different sources (a
    mid-tier web doc outranks a mid-tier forum post), so curation
    thresholds are usually set on the WITHIN-SOURCE percentile. Rank
    on the micro-quantized logit z_micro (already integer and
    cross-engine exact), ties to the smaller doc_id;
    pct_ppm = (rank−1)·10⁶ div max(n−1, 1) — exact integers end to
    end.

    The window is a per-group sort — fine for gate-sized data and
    for per-source partitions at scale; when a group outgrows one
    task, the sketch path (curation.quantile_filter) serves the
    same thresholds without the sort. Output: (doc_id, group, rank,
    n, pct_ppm); empty/NULL docs (NULL z) are excluded."""
    from pyspark.sql import Window

    scores = quality_score_linear(df, text_col, id_col) \
        .select(id_col, "z_micro")
    base = df.select(F.col(id_col), F.col(group_col)) \
        .join(scores, id_col) \
        .where(F.col("z_micro").isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col("z_micro").desc(), F.col(id_col))
    wn = Window.partitionBy(group_col)
    out = (base.withColumn("rank", F.row_number().over(w))
           .withColumn("n", F.count(F.lit(1)).over(wn)))
    pct = F.expr("(CAST(rank - 1 AS BIGINT) * 1000000)"
                 " div greatest(n - 1, 1)")
    return out.select(id_col, group_col,
                      F.col("rank").cast("long").alias("rank"),
                      F.col("n").cast("long").alias("n"),
                      pct.alias("pct_ppm"))
