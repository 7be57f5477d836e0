"""Deduplication entries: exact, near-duplicate (n-gram
Jaccard, MinHash/LSH, SimHash), content-defined chunking,
span/contamination detection and media near-duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from siridb_server_spark.functions.stable import STABLE_DSUM_SQL
from siridb_server_spark.localdf import arrow_df
from siridb_server_spark.operators import dedup as D
from siridb_server_spark.operators import multimodal as MM
from siridb_server_spark.operators import similarity as SIM
from siridb_server_spark.sources.testdata import load

from registry import Family
from registry._common import (
    _audio_fixture, _bloom_pos, _JP, _media_df, _phash_fixture, _prop,
    _video_match_rows, MAX_DF)

R = Family("dedup")

R.add("dedup_exact",
      lambda spark, sf_dir: D.exact_duplicates(
          load(spark, sf_dir, "documents")),
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,"
      " count(*) AS n_copies FROM documents GROUP BY 1")

R.add("dedup_ngram_jaccard",
      lambda spark, sf_dir: D.ngram_jaccard_pairs(
          load(spark, sf_dir, "documents").where(F.col("doc_id") < 300),
          threshold=0.8, max_df=MAX_DF),
      _JP)

# cross-source duplication matrix over the same exact-Jaccard
# pairs; undirected source key ordered lexicographically
R.add("dedup_cross_source",
      lambda spark, sf_dir:
          D.cross_source_dup_rates(
              load(spark, sf_dir, "documents")
              .where(F.col("doc_id") < 300), threshold=0.8,
              max_df=MAX_DF),
      "WITH pairs AS (" + _JP + "),"
      " s AS (SELECT doc_id, coalesce(source, '(unknown)') AS source FROM documents)"
      " SELECT least(sa.source, sb.source) AS source_a,"
      " greatest(sa.source, sb.source) AS source_b,"
      " count(*) AS n_pairs,"
      f" round({STABLE_DSUM_SQL.format(x='jaccard')}, 6) + 0.0 AS sum_jaccard"
      " FROM pairs JOIN s sa ON pairs.id_a = sa.doc_id"
      " JOIN s sb ON pairs.id_b = sb.doc_id GROUP BY 1, 2")

# single-doc Jaccard retrieval: the query doc's distinct tokens
# prune the inverted index before any aggregation
R.add("dedup_similar_docs",
      lambda spark, sf_dir:
          D.similar_docs(load(spark, sf_dir, "documents"),
                         query_id=7, k=10),
      "WITH dw AS (SELECT DISTINCT doc_id, w FROM"
      " (SELECT doc_id, unnest(list_filter(string_split_regex("
      "trim(lower(text)), '\\s+'), x -> x <> '')) AS w"
      " FROM documents)),"
      " q AS (SELECT DISTINCT w FROM dw WHERE doc_id = 7),"
      " nq AS (SELECT count(*) AS n_q FROM q),"
      " i AS (SELECT doc_id, count(*) AS i FROM dw"
      " JOIN q USING (w) WHERE doc_id <> 7 GROUP BY 1),"
      " s AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY 1)"
      " SELECT i.doc_id,"
      " round(i.i / (s.n + nq.n_q - i.i), 6) + 0.0 AS jaccard"
      " FROM i JOIN s USING (doc_id), nq"
      " ORDER BY jaccard DESC, doc_id LIMIT 10")


# CDC tiling: the oracle computes the per-source byte totals
# WITHOUT running the chunker — equality proves every document
# in the corpus was tiled exactly (no lost/overlapping bytes)
@R.entry("dedup_cdc_tiling", (
    "SELECT source, count(*) AS n_docs,"
    " CAST(sum(strlen(text)) AS BIGINT) AS total_bytes"
    " FROM documents WHERE text IS NOT NULL AND strlen(text) > 0"
    " GROUP BY 1"))
def dedup_cdc_tiling(spark, sf_dir):
    """Content-defined chunking over the FULL documents table
    (dedup.cdc_chunks — the rsync/LBFS boundary trick: edits
    relocate only the chunks they touch, downstream chunks
    re-align byte-identically), verified corpus-wide through its
    tiling invariant: per source, the chunk table's byte total
    and doc count must equal what the documents table says
    directly — the oracle computes the right-hand side without
    running CDC, so a single mis-sliced boundary anywhere in the
    corpus flips the hash."""
    ch = D.cdc_chunks(load(spark, sf_dir, "documents"))
    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", "source")
    return (ch.join(F.broadcast(docs), "doc_id")
            .groupBy("source")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.sum("length").alias("total_bytes")))


def _cdc_gen(n, seed):
    # deterministic printable-ASCII corpus (LCG bytes; no RNG
    # seeding ambiguity across machines)
    out = bytearray()
    x = seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) \
            % (1 << 64)
        out.append(33 + (x >> 33) % 94)
    return out.decode("ascii")


@R.entry("dedup_cdc_resync", (
    "SELECT pair, CAST(n_shared AS BIGINT) AS n_shared,"
    " CAST(n_left AS BIGINT) AS n_left,"
    " CAST(n_right AS BIGINT) AS n_right FROM (VALUES"
    " ('header_insert', 18, 19, 19),"
    " ('mid_edit', 18, 19, 19),"
    " ('unrelated', 0, 19, 15))"
    " AS t(pair, n_shared, n_left, n_right)"))
def dedup_cdc_resync(spark, sf_dir):
    """THE content-defined-chunking property, pinned as
    constants: against a 2000-byte base document, a copy with an
    inserted header and a copy with a mid-document edit each
    share 18 of 19 chunk hashes (every chunk outside the edited
    window re-aligns), while an unrelated document shares none.
    Fixed-size blocks would share ZERO after the header insert —
    this row set is exactly the evidence CDC exists to produce."""
    base = _cdc_gen(2000, 12345)
    docs = arrow_df(spark, [
        (1, base),
        (2, "SHIFTED-HEADER-v2::" + base),
        (3, base[:800] + "[EDITED SEGMENT]" + base[800:]),
        (4, _cdc_gen(2000, 999)),
        (5, None),
        (6, ""),
    ], "doc_id long, text string")
    d = (D.cdc_chunks(docs)
         .select("doc_id", "chunk_hash").distinct())
    pairs = arrow_df(spark, [(1, 2, "header_insert"),
                             (1, 3, "mid_edit"),
                             (1, 4, "unrelated")],
                     "left long, right long, pair string")
    inter = (d.select(F.col("doc_id").alias("left"),
                      F.col("chunk_hash").alias("h"))
             .join(d.select(F.col("doc_id").alias("right"),
                            F.col("chunk_hash").alias("h")), "h")
             .groupBy("left", "right")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    counts = d.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"))
    return (pairs
            .join(inter, ["left", "right"], "left")
            .join(counts.select(F.col("doc_id").alias("left"),
                                F.col("n").alias("n_left")),
                  "left")
            .join(counts.select(F.col("doc_id").alias("right"),
                                F.col("n").alias("n_right")),
                  "right")
            .select("pair",
                    F.coalesce("n_shared", F.lit(0))
                    .alias("n_shared"),
                    "n_left", "n_right"))


# one-row corpus redundancy report composed from the verified
# exact-dedup, pair-join, and connected-components oracles
@R.entry("dedup_pipeline_summary", (
    "WITH RECURSIVE pairs AS (" + _JP + "),"
    " edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    " UNION SELECT id_b, id_a FROM pairs),"
    " walk(node, comp) AS ("
    " SELECT a, a FROM edges"
    " UNION"
    " SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node),"
    " cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY 1),"
    " d AS (SELECT doc_id, text FROM documents"
    " WHERE doc_id < 300),"
    " ex AS (SELECT md5(text) AS h, count(*) AS n FROM d"
    " GROUP BY 1),"
    " exs AS (SELECT count(*) AS n_contents,"
    " CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)"
    " AS n_docs_in_exact_dups FROM ex),"
    " r AS (SELECT d.doc_id,"
    " coalesce(cc.comp, d.doc_id) AS keep_id FROM d"
    " LEFT JOIN cc ON d.doc_id = cc.node),"
    " rs AS (SELECT count(*) AS n_docs,"
    " CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)"
    " AS BIGINT) AS n_keep,"
    " count(DISTINCT CASE WHEN doc_id <> keep_id"
    " THEN keep_id END) AS n_clusters FROM r),"
    " ps AS (SELECT count(*) AS n_near_pairs FROM pairs)"
    " SELECT n_docs, n_contents, n_docs_in_exact_dups,"
    " n_near_pairs, n_clusters, n_keep FROM rs, exs, ps"))
def dedup_pipeline_summary(spark, sf_dir):
    """End-to-end dedup report over one corpus slice: exact
    duplicate volume, near-dup pair/cluster counts, and the
    final keep count after cluster resolution — the one-row
    answer to "how much of this corpus is redundant?"."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    ex = D.exact_duplicates(docs)
    exact = ex.agg(
        F.count(F.lit(1)).alias("n_contents"),
        F.sum(F.when(F.col("n_copies") > 1,
                     F.col("n_copies")).otherwise(0))
        .alias("n_docs_in_exact_dups"))
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8,
                                  max_df=MAX_DF)
    res = D.resolve_duplicates(docs, pairs)
    near = (res.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_kept").cast("long")).alias("n_keep"),
        F.countDistinct(
            F.when(~F.col("is_kept"), F.col("keep_id")))
        .alias("n_clusters")))
    np_ = pairs.agg(F.count(F.lit(1)).alias("n_near_pairs"))
    return (near.crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(np_))
            .select("n_docs", "n_contents",
                    "n_docs_in_exact_dups", "n_near_pairs",
                    "n_clusters", "n_keep"))


# MinHash+LSH property oracle. high_j_pairs_total is genuinely
# cross-engine (DuckDB recomputes exact 3-word-shingle Jaccard
# from scratch); the other two rows pin recall/precision
# invariants that hold deterministically for these tables + fixed
# hash functions (no pairs in the (0.35, 0.9) Jaccard gap).
# Shingle construction mirrors operators/dedup.py shingles():
# w = split(lower(trim(text)), '\\s+') (unfiltered),
# grams = distinct concat of w[i:i+2], i in 1..max(len-2, 1).
_SHJ = (
    "WITH tok AS (SELECT doc_id,"
    " string_split_regex(trim(lower(text)), '\\s+') AS w"
    " FROM documents),"
    " g AS (SELECT doc_id, list_distinct(list_transform("
    " range(1, greatest(len(w) - 2, 1) + 1),"
    " i -> array_to_string(w[i:i+2], ' '))) AS gs FROM tok),"
    " x AS (SELECT doc_id, unnest(gs) AS s FROM g),"
    " sz AS (SELECT doc_id, count(*) AS n FROM x GROUP BY 1),"
    " i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " count(*) AS i FROM x a JOIN x b ON a.s = b.s"
    " AND a.doc_id < b.doc_id GROUP BY 1, 2),"
    " j AS (SELECT id_a, id_b, i * 1.0 / (sa.n + sb.n - i) AS j"
    " FROM i JOIN sz sa ON id_a = sa.doc_id"
    " JOIN sz sb ON id_b = sb.doc_id)"
)


def _bench_minhash_lsh(spark, sf_dir):
    # the bench times the RAW near-dup operator; the gate body wraps
    # it in property-verification joins
    return lambda s, d: D.minhash_lsh_pairs(
        load(s, d, "documents"), threshold=0.5)


@R.entry("dedup_minhash_lsh", (
    _SHJ +
    " SELECT 'high_j_pairs_total' AS prop,"
    " CAST(count(*) AS BIGINT) AS n FROM j WHERE j >= 0.5"
    " UNION ALL SELECT 'high_j_pairs_missed', 0"
    " UNION ALL SELECT 'emitted_below_floor', 0"), bench=_bench_minhash_lsh)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH checked against ground truth: the oracle
    computes the exact shingle-Jaccard pair count in SQL, and the
    recall/precision rows are pinned invariants (the documents
    tables have no pairs in (0.35, 0.9), so at (k=16, b=4) the
    emitted set provably equals the exact J>=0.5 set — verified
    empirically at sf0.001/0.01)."""
    docs = load(spark, sf_dir, "documents")
    emitted = D.minhash_lsh_pairs(docs, threshold=0.5)
    exact_hi = D.shingle_jaccard_pairs(docs, threshold=0.5)
    exact_floor = D.shingle_jaccard_pairs(docs, threshold=0.35)
    on = ["id_a", "id_b"]
    return (
        _prop("high_j_pairs_total", exact_hi)
        .unionByName(_prop(
            "high_j_pairs_missed",
            exact_hi.join(emitted, on, "left_anti")))
        .unionByName(_prop(
            "emitted_below_floor",
            emitted.join(exact_floor, on, "left_anti"))))


# estimator audit: the exact >=0.3 pair count is SQL ground
# truth (integer rational test, no float j); the second row pins
# the every-estimate-within-0.25 invariant (observed max 0.11 at
# sf0.001/0.01) as an equal count — MinHash itself has no SQL twin
@R.entry("dedup_minhash_accuracy", (
    _SHJ.replace(" j AS (SELECT", " jx AS (SELECT")
    .replace("FROM documents)",
             "FROM documents WHERE doc_id < 1500)") +
    ", truth AS (SELECT id_a, id_b, i, sa.n + sb.n - i AS u"
    " FROM i JOIN sz sa ON id_a = sa.doc_id"
    " JOIN sz sb ON id_b = sb.doc_id"
    " WHERE i * 10 >= (sa.n + sb.n - i) * 3)"
    " SELECT 'n_true_pairs' AS prop,"
    " CAST(count(*) AS BIGINT) AS n FROM truth"
    " UNION ALL SELECT 'est_within_quarter',"
    " CAST(count(*) AS BIGINT) FROM truth"))
def dedup_minhash_accuracy(spark, sf_dir):
    """Estimator-quality audit for the MinHash family: on the
    exact ground-truth pair set (3-gram shingle Jaccard ≥ 0.3,
    tested as the integer rational i·10 ≥ u·3), the k=16
    signature-agreement fraction must land within 0.25 of the
    exact Jaccard for EVERY pair — in exact integer math,
    |ag·u − 16·i| ≤ 4·u. (Observed max deviation on this corpus
    is 0.11; one MinHash component's sd at j≈0.3 is ~0.115/√k.)
    This is the audit a production dedup pipeline runs on a
    BOUNDED SAMPLE before trusting the sketch at corpus scale —
    the id-range cut below IS that bound (exact ground truth via
    the inverted-index join stays sample-sized however big the
    corpus grows; the estimator is row-local everywhere). The
    oracle pins the ground-truth pair count in SQL and the
    all-within-bound invariant as a matching count."""
    docs = (load(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 1500)
            .select("doc_id", "text"))
    pairs = D._shingle_intersections(docs, 3, "text", "doc_id")
    u = F.col("na") + F.col("nb") - F.col("i")
    truth = (pairs.where(F.col("i") * 10 >= u * 3)
             .select("id_a", "id_b", "i", u.alias("u")))
    sig = D.minhash_signatures(docs, 16, 3)
    s1 = sig.alias("s1")
    s2 = sig.alias("s2")
    agree = F.size(F.filter(
        F.zip_with(F.col("s1.sig"), F.col("s2.sig"),
                   lambda x, y: x == y), lambda m: m))
    j = (truth
         .join(s1, F.col("id_a") == F.col("s1.doc_id"))
         .join(s2, F.col("id_b") == F.col("s2.doc_id"))
         .select("id_a", "id_b", "i", "u", agree.alias("ag")))
    within = (F.abs(F.col("ag") * F.col("u")
                    - F.col("i") * 16)
              <= F.col("u") * 4)
    return (_prop("n_true_pairs", j)
            .unionByName(_prop("est_within_quarter",
                               j.where(within))))


def _bench_simhash(spark, sf_dir):
    # the RAW operator, as for dedup_minhash_lsh
    return lambda s, d: D.simhash_pairs(
        load(s, d, "documents"), max_hamming=3)


# SimHash property oracle: n_docs is cross-engine; the two zero
# rows pin the pigeonhole theorem (4 bands, hamming<=3 → at least
# one band collides → the banded join emits exactly the exact
# all-pairs close set).
@R.entry("dedup_simhash", (
    "SELECT 'n_docs' AS prop, CAST(count(*) AS BIGINT) AS n"
    " FROM documents"
    " UNION ALL SELECT 'close_pairs_missed', 0"
    " UNION ALL SELECT 'emitted_not_close', 0"), bench=_bench_simhash)
def dedup_simhash(spark, sf_dir):
    """SimHash banding checked against the exact all-pairs
    Hamming join (pigeonhole: 4 bands, hamming<=3 → at least one
    band collides, so the banded join must emit exactly the
    close-pair set). The all-pairs verify is the CHECK path only —
    the operator itself never goes all-pairs."""
    docs = load(spark, sf_dir, "documents")
    emitted = D.simhash_pairs(docs, max_hamming=3)
    sig = D.simhash(docs)
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    close = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     ham.alias("h"))
             .where(F.col("h") <= 3))
    on = ["id_a", "id_b"]
    return (
        _prop("n_docs", docs)
        .unionByName(_prop(
            "close_pairs_missed",
            close.join(emitted, on, "left_anti")))
        .unionByName(_prop(
            "emitted_not_close",
            emitted.join(close, on, "left_anti"))))


# train/eval decontamination: distinct shared 3-gram count per
# training doc against the eval slice's gram set (slice w[i:i+2]
# is 1-based inclusive — DuckDB's clamp at short docs matches
# Spark's slice(w, i, 3))
@R.entry("dedup_contamination", (
    "WITH tok AS (SELECT doc_id,"
    " list_filter(string_split(lower(trim(text)), ' '),"
    " x -> x <> '') AS w FROM documents),"
    " grams AS (SELECT doc_id, list_distinct(list_transform("
    " range(1, greatest(len(w) - 2, 1) + 1),"
    " i -> array_to_string(w[i:i+2], ' '))) AS gs FROM tok),"
    " x AS (SELECT doc_id, unnest(gs) AS g FROM grams),"
    " ev AS (SELECT DISTINCT g FROM x WHERE doc_id % 20 = 0),"
    " tr AS (SELECT doc_id, g FROM x WHERE doc_id % 20 <> 0)"
    " SELECT tr.doc_id, count(*) AS overlap"
    " FROM tr JOIN ev USING (g) GROUP BY 1 HAVING count(*) >= 1"))
def dedup_contamination(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return D.ngram_contamination(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0), n=3)


# bloom-approximate per-doc novelty: the same build replayed,
# probed per (doc, shingle) with the hits==4 verdict
@R.entry("dedup_bloom_novelty", (
    "WITH tok AS (SELECT doc_id,"
    " list_filter(string_split(lower(trim(text)), ' '),"
    " x -> x <> '') AS wl FROM documents),"
    " grams AS (SELECT doc_id, unnest(list_distinct("
    " list_transform(range(1, greatest(len(wl) - 2, 1) + 1),"
    " i -> array_to_string(wl[i:i+2], ' ')))) AS w FROM tok),"
    " ref AS (SELECT DISTINCT w FROM grams"
    " WHERE doc_id % 20 <> 0),"
    f" rpos AS (SELECT w, {_bloom_pos} FROM ref),"
    " bits AS (SELECT DISTINCT bit FROM rpos),"
    " new AS (SELECT doc_id, w FROM grams"
    " WHERE doc_id % 20 = 0),"
    f" npos AS (SELECT doc_id, w, {_bloom_pos} FROM new),"
    " nh AS (SELECT doc_id, w, count(*) AS hits FROM npos"
    " SEMI JOIN bits USING (bit) GROUP BY 1, 2),"
    " seen AS (SELECT doc_id, count(*) AS n_seen FROM nh"
    " WHERE hits = 4 GROUP BY 1),"
    " tot AS (SELECT doc_id, count(*) AS n_ngrams FROM new"
    " GROUP BY 1)"
    " SELECT t.doc_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams,"
    " CAST(coalesce(s.n_seen, 0) AS BIGINT) AS n_seen"
    " FROM tot t LEFT JOIN seen s USING (doc_id)"))
def dedup_bloom_novelty(spark, sf_dir):
    """Bloom-approximate n-gram novelty (operators/dedup.py
    bloom_novelty): text_ngram_novelty's 100 TB form — the
    reference corpus collapses to a 2¹⁶-bit Bloom
    (sketches.bloom_bits over its 3-word shingles) and each
    held-out doc's shingles probe it. n_seen can only
    OVERCOUNT (no false negatives), so the implied novelty
    lower-bounds the exact one — pinned in pytest; here the
    deterministic md5 positions make the approximate counts
    themselves exact cross-engine values (full build+probe SQL
    replay)."""
    from siridb_server_spark.operators import sketches as SK
    from siridb_server_spark.operators.dedup import shingles
    docs = load(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 20 != 0).select(
        F.explode(shingles("text", 3)).alias("s"))
    bloom = SK.bloom_bits(ref, [], "s", m_bits=1 << 16, k=4)
    return D.bloom_novelty(
        docs.where(F.col("doc_id") % 20 == 0), bloom, n=3,
        m_bits=1 << 16, k=4)


# duplicate-cluster resolution: connected components (min label
# reachable over the undirected near-dup graph) via recursive CTE
@R.entry("dedup_resolve", (
    "WITH RECURSIVE pairs AS (" + _JP + "),"
    " edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    " UNION SELECT id_b, id_a FROM pairs),"
    " walk(node, comp) AS ("
    " SELECT a, a FROM edges"
    " UNION"
    " SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node),"
    " cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY 1)"
    " SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS keep_id,"
    " d.doc_id = coalesce(cc.comp, d.doc_id) AS is_kept"
    " FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d"
    " LEFT JOIN cc ON d.doc_id = cc.node"))
def dedup_resolve(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8,
                                  max_df=MAX_DF)
    return D.resolve_duplicates(docs, pairs)


# policy-aware resolution: same recursive-CTE components, winner
# = max n_chars then min id per component
@R.entry("dedup_resolve_quality", (
    "WITH RECURSIVE pairs AS (" + _JP + "),"
    " edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    " UNION SELECT id_b, id_a FROM pairs),"
    " walk(node, comp) AS ("
    " SELECT a, a FROM edges"
    " UNION"
    " SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node),"
    " cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY 1),"
    " d AS (SELECT doc_id, n_chars FROM documents"
    " WHERE doc_id < 300),"
    " wc AS (SELECT d.doc_id, d.n_chars,"
    " coalesce(cc.comp, d.doc_id) AS comp"
    " FROM d LEFT JOIN cc ON d.doc_id = cc.node),"
    " win AS (SELECT comp, doc_id AS keep_id FROM"
    " (SELECT comp, doc_id, row_number() OVER"
    " (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn"
    " FROM wc) WHERE rn = 1)"
    " SELECT wc.doc_id, win.keep_id,"
    " wc.doc_id = win.keep_id AS is_kept"
    " FROM wc JOIN win USING (comp)"))
def dedup_resolve_quality(spark, sf_dir):
    """Keep the LONGEST member of each near-dup cluster (ties →
    smaller id) — the policy-aware canonicalization."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8,
                                  max_df=MAX_DF)
    return D.resolve_duplicates_by(docs, pairs, "n_chars")


# span-level exact dedup: keep-first over non-overlapping 10-word
# spans; winner = min (doc_id, position) per distinct span text.
# Spark groups by xxhash64(span), DuckDB by the span itself — the
# equivalence classes (and so the winners) are identical.
R.add("dedup_spans",
      lambda spark, sf_dir: D.duplicate_spans(
          load(spark, sf_dir, "documents"), k=10),
      "WITH w AS (SELECT doc_id,"
      " string_split_regex(trim(text), '\\s+') AS ws"
      " FROM documents WHERE length(trim(text)) > 0),"
      " s AS (SELECT doc_id, j,"
      " array_to_string(ws[(j*10+1):(j*10+10)], ' ') AS span"
      " FROM w, unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT)))"
      " AS t(j)),"
      " r AS (SELECT doc_id, j, span, row_number() OVER"
      " (PARTITION BY span ORDER BY doc_id, j) AS rn FROM s)"
      " SELECT doc_id, count(*) AS n_spans,"
      " CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)"
      " AS n_kept,"
      " coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' '"
      " ORDER BY j), '') AS cleaned_text"
      " FROM r GROUP BY doc_id")

# asymmetric containment (excerpt detection): shared distinct
# 3-shingles over each side's own shingle count
R.add("dedup_containment",
      lambda spark, sf_dir:
          D.containment_pairs(
              load(spark, sf_dir, "documents").where("doc_id < 300"),
              threshold=0.5, shingle_n=3),
      "WITH tok AS (SELECT doc_id, string_split_regex("
      "lower(trim(text)), '\\s+') AS w FROM documents"
      " WHERE doc_id < 300),"
      " sh AS (SELECT doc_id, unnest(list_distinct("
      "list_transform(range(1, greatest(len(w) - 2, 1) + 1),"
      " i -> array_to_string(w[i:i+2], ' ')))) AS s FROM tok),"
      " sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),"
      " i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
      " count(*) AS i FROM sh a JOIN sh b ON a.s = b.s"
      " AND a.doc_id < b.doc_id GROUP BY 1, 2)"
      " SELECT id_a, id_b,"
      " round(i * 1.0 / sa.n, 6) + 0.0 AS contain_a,"
      " round(i * 1.0 / sb.n, 6) + 0.0 AS contain_b"
      " FROM i JOIN sz sa ON id_a = sa.doc_id"
      " JOIN sz sb ON id_b = sb.doc_id"
      " WHERE i * 1.0 / sa.n >= 0.5 OR i * 1.0 / sb.n >= 0.5")


@R.entry("dedup_image_phash_pairs", (
    "SELECT CAST(1 AS BIGINT) AS id_a, CAST(2 AS BIGINT) AS id_b,"
    " CAST(0 AS BIGINT) AS hamming"
    " UNION ALL SELECT 1, 3, 2"
    " UNION ALL SELECT 2, 3, 2"))
def dedup_image_phash_pairs(spark, sf_dir):
    """Near-duplicate image pairs: pHash signatures through the
    generic banded Hamming join (dedup.hamming_pairs — banding
    guarantees recall below ``bands``, candidates verify via
    bit_count(xor), never all-pairs). The identical-pixels pair
    lands at 0, the brightness-shifted copy at 2, the unrelated
    image (hamming 30) is excluded."""
    return MM.phash_pairs(_phash_fixture(spark), max_hamming=6)


@R.entry("dedup_audio_match", (
    "SELECT CAST(1 AS BIGINT) AS id_a, CAST(2 AS BIGINT) AS id_b,"
    " CAST(-16 AS BIGINT) AS offset,"
    " CAST(909 AS BIGINT) AS n_matches"))
def dedup_audio_match(spark, sf_dir):
    """Audio near-dup/containment matching: fingerprints joined
    on the landmark hash, then the time-offset histogram — the
    delayed copy aligns EVERY landmark of the original at one
    constant offset (−16 frames = 4096 samples / 256 hop), the
    unrelated clip never clears min_matches. One equi-join + one
    groupBy; never all-pairs."""
    return MM.audio_match_pairs(_audio_fixture(spark),
                                min_matches=5)


@R.entry("dedup_video_match", (
    "SELECT CAST(1 AS BIGINT) AS id_a, CAST(2 AS BIGINT) AS id_b,"
    " CAST(2 AS BIGINT) AS offset,"
    " CAST(4 AS BIGINT) AS n_matches"))
def dedup_video_match(spark, sf_dir):
    """Video near-dup/excerpt detection — the multimodal dedup
    triad's third leg (text SimHash / image pHash / audio
    landmarks / video = per-frame pHash + offset histogram):
    three H.264 streams (a 6-frame textured pan, a 4-frame
    re-encode of its frames 2..5 — the excerpt case — and
    unrelated noise, plus junk). Frame pairs within the Hamming
    threshold come from the banded join (lossy re-encodes land a
    few bits apart, so exact equality is the wrong key); the
    excerpt aligns ALL four frames at offset 2; noise never
    pairs. Golden single-row oracle; separation margins are
    pytest-asserted."""
    media = _media_df(spark, _video_match_rows())
    return MM.video_match_pairs(media, max_hamming=8,
                                min_matches=2, bands=8)


# embedding contamination: the ivf_knn_join chain at k=1 with
# the planted-copy eval set and the micro-int verdict tail
@R.entry("dedup_embedding_contamination", (
    "WITH e AS (SELECT vec_id, label, embedding"
    " FROM embeddings WHERE vec_id % 19 <> 1),"
    " q AS (SELECT vec_id AS qid, embedding AS qe"
    " FROM embeddings WHERE vec_id % 19 = 1"
    " UNION ALL SELECT vec_id + 1000000, embedding"
    " FROM embeddings WHERE vec_id % 19 <> 1"
    " AND vec_id % 23 = 2),"
    " pos AS (SELECT label, CAST(unnest(embedding) AS DOUBLE)"
    " AS x, unnest(range(1, len(embedding) + 1)) AS i FROM e),"
    " cent AS (SELECT label, i, avg(x) AS c FROM pos"
    " GROUP BY 1, 2),"
    " qd AS (SELECT qid, CAST(unnest(qe) AS DOUBLE) AS y,"
    " unnest(range(1, len(qe) + 1)) AS i FROM q),"
    " cd AS (SELECT qid, label, sum(c * y) AS d,"
    " sum(y * y) AS na, sum(c * c) AS nb"
    " FROM cent JOIN qd USING (i) GROUP BY 1, 2),"
    " pr AS (SELECT qid, label FROM (SELECT qid, label,"
    " row_number() OVER (PARTITION BY qid ORDER BY"
    " CASE WHEN na = 0 OR nb = 0 THEN 0.0"
    " ELSE d / (sqrt(na) * sqrt(nb)) END DESC, label) AS rn"
    " FROM cd) WHERE rn <= 3),"
    " prod AS (SELECT p.qid, e.vec_id,"
    " CAST(unnest(e.embedding) AS DOUBLE) AS x,"
    " CAST(unnest(q.qe) AS DOUBLE) AS y"
    " FROM pr p JOIN e USING (label)"
    " JOIN q ON q.qid = p.qid),"
    " s AS (SELECT qid, vec_id, sum(x * y) AS d,"
    " sum(x * x) AS na, sum(y * y) AS nb"
    " FROM prod GROUP BY 1, 2),"
    " sc AS (SELECT qid, vec_id,"
    " round(CASE WHEN na = 0 OR nb = 0 THEN 0.0"
    " ELSE d / (sqrt(na) * sqrt(nb)) END, 6) + 0.0 AS cos"
    " FROM s),"
    " r AS (SELECT qid, vec_id, cos, row_number() OVER"
    " (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank"
    " FROM sc)"
    " SELECT qid, vec_id AS train_id, cos,"
    " CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_micro,"
    " floor(cos * 1000000 + 0.5) >= 900000 AS contaminated"
    " FROM r WHERE rank = 1"))
def dedup_embedding_contamination(spark, sf_dir):
    """Cross-snapshot eval-leakage sweep in EMBEDDING space
    (operators/similarity.py embedding_contamination): each
    eval vector's nearest TRAIN vector through the batch IVF
    join (k=1, nprobe=3 — both corpora distributed, candidates
    cell-bounded), verdict at threshold 0.9 as exact micro-int
    compare. The eval set is the held-out slice PLUS planted
    exact copies of train rows (qid = vec_id + 1e6) — the
    leaked-eval scenario the sweep exists to catch: copies that
    probe their source's cell flag contaminated at cos 1.0,
    clean evals on this near-orthogonal corpus stay far below
    threshold. Full SQL replay: centroids → per-eval probes →
    exact cosine → rank-1 → micro verdict."""
    emb = load(spark, sf_dir, "embeddings")
    train = emb.where("vec_id % 19 <> 1")
    clean = emb.where("vec_id % 19 = 1").select(
        F.col("vec_id").alias("qid"), "embedding")
    planted = train.where("vec_id % 23 = 2").select(
        (F.col("vec_id") + 1000000).alias("qid"), "embedding")
    return SIM.embedding_contamination(
        train, clean.unionByName(planted),
        threshold=0.9, nprobe=3)
