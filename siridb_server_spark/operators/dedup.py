"""Deduplication operators for training-data pipelines at 100 TB scale.

Four tiers, cheapest first:
- exact (hash-groupBy): one shuffle on md5(text).
- n-gram Jaccard: explode→self-join on shared tokens→pair agg. The
  join key (token) is the classic inverted-index trick: pairs sharing
  no token never materialize.
- MinHash + LSH banding: signature agg (one shuffle), band-bucket
  self-join (only same-bucket candidates materialize), then exact
  verify. This is the scale path: candidate count is tunable via
  (num_hashes, bands).
- SimHash: 64-bit signature via per-bit majority vote, banded join on
  signature chunks, Hamming verify with bit_count(xor).

Everything is JVM-side column expressions, with one exception: the
simhash bit-vote runs as an Arrow-batched numpy kernel (the
expression form exists behind arrow=False but higher-order functions
evaluate interpreted, outside whole-stage codegen — the vectorized
vote is ~10× cheaper per doc). No row-at-a-time Python anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stable import stable_dsum

# Signature frames feed both sides of a self-join, so they are
# persisted — but the result is returned lazily, so they can't be
# unpersisted here. Bound the footprint instead: keep the most recent
# few and evict the oldest (the engine's points cache does the same,
# one live entry).
_SIG_CACHE: list[DataFrame] = []
# 4, not 2: the staged-curation flags frame (pipelines.py) shares
# this cache with the signature frames, and one curate_corpus call
# can hold a sig frame + flags live at once
_SIG_CACHE_MAX = 4


def _persist_bounded(df: DataFrame) -> DataFrame:
    df = df.persist()
    _SIG_CACHE.append(df)
    while len(_SIG_CACHE) > _SIG_CACHE_MAX:
        try:
            _SIG_CACHE.pop(0).unpersist()
        except Exception:
            pass
    return df


def release_sig_cache() -> None:
    """Unpersist the bounded signature cache. The cache avoids
    recomputing shingle/minhash signatures when one call feeds both
    sides of a self-join (and across immediate re-runs); callers
    that need a clean session afterwards — the bench's per-query
    hygiene guard, long-lived services between jobs — release it
    explicitly."""
    while _SIG_CACHE:
        try:
            _SIG_CACHE.pop().unpersist()
        except Exception:
            pass


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash; keep the minimum id.
    Output: (content_hash, keep_id, n_copies)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def duplicate_spans(df: DataFrame, k: int = 10,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Span-level exact dedup (the C4 / "Deduplicating Training Data
    Makes Language Models Better" substring pass, at fixed-width
    granularity): cut every document into non-overlapping ``k``-word
    spans, keep each distinct span's globally-first occurrence
    (ordered by (doc_id, span position)), and rebuild documents from
    their surviving spans.

    Output: (doc_id, n_spans, n_kept, cleaned_text) — documents whose
    every span appeared earlier elsewhere come back with
    ``n_kept = 0`` and an empty ``cleaned_text``.

    Scale shape: span chunking is row-local array algebra (no
    shuffle); the keep-first decision is ONE groupBy on the 8-byte
    span hash with a map-side partial ``min(struct(doc_id, j))`` —
    skew-safe even for viral spans, the partial agg collapses hot
    keys per task — then a hash join back on the span hash (AQE skew
    join splits any residual hot bucket) and one groupBy(doc_id) to
    reassemble. The shuffle payload is hashes + ids, never the
    corpus: at 100 TB the wide span text stays columnar in the scan
    and only re-surfaces in the final per-doc rebuild. The input is
    deliberately scanned twice (spans side + winners side) instead of
    persisting the exploded span stream — re-chunking is cheap map
    work, while caching the explosion would hold a corpus-sized
    intermediate."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_spans = F.ceil(F.size("ws") / F.lit(k)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda j: F.array_join(
            F.slice(F.col("ws"), j * k + 1, k), " "))
    spans = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"), words.alias("ws"))
        .select("doc_id", F.posexplode(chunks).alias("j", "span"))
        .withColumn("h", F.xxhash64("span"))
    )
    winners = (spans.groupBy("h")
               .agg(F.min(F.struct("doc_id", "j")).alias("w")))
    kept = (F.col("w.doc_id") == F.col("doc_id")) & \
        (F.col("w.j") == F.col("j"))
    return (
        spans.join(winners, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(kept, F.struct("j", "span")))),
                    lambda s: s["span"]),
                " ").alias("cleaned_text"))
    )


def _doc_word_hashes(df: DataFrame, text_col: str,
                     id_col: str) -> DataFrame:
    """Distinct (doc_id, word-hash) pairs. Hashing BEFORE the
    distinct means the dedup shuffle moves 8-byte longs instead of
    raw tokens — at 100 TB that is the difference between shuffling
    the corpus and shuffling ~2% of it. Downstream set algebra
    (votes, intersections) is hash-based anyway."""
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                    r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .select("doc_id", F.xxhash64("w").alias("h"))
        .distinct()
    )


def ngram_contamination(train_df: DataFrame, eval_df: DataFrame,
                        n: int = 3, min_overlap: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Train/eval decontamination: flag training documents sharing
    ≥ min_overlap distinct n-gram shingles with ANY document of an
    evaluation/benchmark set (the standard leakage check before
    training on a crawled corpus).

    Scale shape: the training side is a pure map (row-local shingle
    hashing — ``shingles`` dedups per doc, so no pre-join distinct
    shuffle); the eval side collapses to a distinct-hash set that is
    tiny relative to any training corpus and is BROADCAST. One
    groupBy(doc_id) on the (rare) hits is the only shuffle, so a
    100 TB train scan stays embarrassingly parallel.
    Output: (doc_id, overlap) for contaminated training docs."""
    from ..localdf import fan_out

    hs = F.transform(shingles(text_col, n), lambda s: F.xxhash64(s))
    # the train side IS the per-row CPU bill (shingle hashing) —
    # spread a few-split input over the cores first (no-op at
    # production split counts); measured 1.78 -> 1.00 s at sf0.1
    tr = (fan_out(train_df)
          .select(F.col(id_col).alias("doc_id"),
                  F.explode(hs).alias("h")))
    ev = (eval_df.select(F.explode(hs).alias("h")).distinct())
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .where(F.col("overlap") >= min_overlap)
    )


def ngram_novelty(docs: DataFrame, reference: DataFrame,
                  n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id",
                  broadcast_reference: bool = True) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: of a
    document's distinct n-word shingles, how many never appear
    anywhere in ``reference``. The scoring mirror of
    :func:`ngram_contamination` (which flags overlap above a
    threshold; this scores EVERY doc): the freshness signal a
    data-mixing run uses to weight a new crawl against what the
    model has already seen, and the memorization-risk score for
    generated text judged against its training corpus.

    Scale shape: the docs side is a row-local shingle-hash map (no
    pre-join shuffle — ``shingles`` dedups per doc); the reference
    collapses to a distinct hash set, BROADCAST by default (eval
    sets, style guides — anything driver-small). For a
    corpus-scale reference pass ``broadcast_reference=False``: the
    novelty test becomes a plain left_anti hash join shuffling
    8-byte keys — the 100 TB shape. One groupBy(doc_id) each for
    the total and the novel count.

    Output: (doc_id, n_ngrams, n_novel) — integer sufficient
    statistics (distinct shingles and the unseen subset); the
    novelty ratio is the caller's division, so the contract hashes
    cross-engine with no float boundary."""
    from ..localdf import fan_out

    hs = F.transform(shingles(text_col, n), lambda s: F.xxhash64(s))
    # same shape as ngram_contamination: the docs side is the
    # row-local shingle-hash bill — fan a few-split input out
    d = fan_out(docs).select(F.col(id_col).alias("doc_id"),
                             F.explode(hs).alias("h"))
    ref = reference.select(F.explode(hs).alias("h")).distinct()
    if broadcast_reference:
        ref = F.broadcast(ref)
    total = d.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"))
    novel = (d.join(ref, "h", "left_anti")
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_novel")))
    return (total.join(novel, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce("n_novel", F.lit(0))
                    .cast("long").alias("n_novel")))


def bloom_novelty(docs: DataFrame, bloom: DataFrame, n: int = 3,
                  m_bits: int = 1 << 16, k: int = 4,
                  text_col: str = "text", id_col: str = "doc_id",
                  broadcast_bloom: bool = True) -> DataFrame:
    """Approximate per-document n-gram novelty against a BLOOM of
    the reference corpus (:func:`~.sketches.bloom_bits` over the
    reference's shingles) — the 100 TB form of
    :func:`ngram_novelty`: the reference rides along as ~m/8 bytes
    of set bits instead of a distinct-shingle set, so the probe is
    a semi-join against a (broadcastable) bit relation however big
    the reference corpus was. The error direction is SAFE for a
    freshness gate: a Bloom has no false negatives, so ``n_seen``
    can only OVERCOUNT (false positives) and the implied novelty
    LOWER-BOUNDS the exact one — a doc this scorer calls novel
    really is. Deterministic md5 positions make even the
    approximate counts exact cross-engine values (the oracle
    replays build and probe in SQL).

    One row-local shingle explode (distinct per doc), k position
    rows per shingle, one semi-join, two groupBys. Output:
    (doc_id, n_ngrams, n_seen) — novelty = (n_ngrams − n_seen) is
    the caller's subtraction."""
    from .sketches import _bloom_positions

    sh = docs.select(F.col(id_col).alias("doc_id"),
                     F.explode(shingles(text_col, n)).alias("s"))
    pb = sh.select(
        "doc_id", "s",
        F.explode(F.array(*_bloom_positions(F.col("s"), m_bits,
                                            k))).alias("bit"))
    b = bloom.select("bit")
    if broadcast_bloom:
        b = F.broadcast(b)
    seen = (pb.join(b, "bit", "semi")
            .groupBy("doc_id", "s")
            .agg(F.count(F.lit(1)).alias("_hits"))
            .where(F.col("_hits") == int(k))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_seen")))
    total = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"))
    return (total.join(seen, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce("n_seen", F.lit(0)).cast("long")
                    .alias("n_seen")))


def _cap_posting_lists(dw: DataFrame,
                       max_df: int | None) -> DataFrame:
    """Document-frequency cutoff for inverted-index self-joins: drop
    tokens/shingles whose posting list exceeds ``max_df`` documents.
    A token appearing in d documents emits d²/2 candidate pairs — at
    web scale one stopword in 10⁶ docs is 10¹² pairs, so WITHOUT a
    cutoff the exact join is quadratic in the hottest posting list.
    Dropping high-df keys is standard and principled: a key shared by
    "everyone" contributes negligible Jaccard discrimination (it adds
    ~1 to both |A∩B| and |A∪B| of every pair). The cutoff changes the
    measured sets, so it is mirrored verbatim in the DuckDB oracles
    (same df count over the same distinct (doc, key) relation).

    One extra groupBy on the 8-byte key (map-side partial count) and
    a join back on the key; the join output is exactly the surviving
    posting stream. None = no cutoff (exact ground-truth mode)."""
    if max_df is None:
        return dw
    hot = (dw.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
           .where(F.col("_df") <= max_df).select("h"))
    return dw.join(hot, "h")


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_df: int | None = None) -> DataFrame:
    """Word-set Jaccard similarity join (n=1 shingles).

    Inverted-index self-join: only pairs sharing ≥1 token are
    generated; |A∩B| falls out of the pair count, |A∪B| from the
    per-doc sizes (one row per doc_id — AQE broadcasts it while it
    fits; at billions of docs it becomes a plain hash join, which is
    why the hint is left to the optimizer). The join key is the
    token's 64-bit hash, not the token string — an 8-byte shuffle
    key regardless of token length.

    ``max_df`` bounds the quadratic hot-token blowup (see
    :func:`_cap_posting_lists`); sizes are counted AFTER the cutoff
    so Jaccard stays a true set similarity over the surviving
    vocabulary. None = exact mode — the documented ground-truth path
    for oracle checks on bounded slices; production sweeps at corpus
    scale should set it (or use :func:`minhash_lsh_pairs`).
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    # the size agg and both join sides read the same (capped) posting
    # relation — deliberately NOT persisted: all consumers live in ONE
    # plan, where AQE's exchange reuse dedups the shared shuffle, and
    # an explicit cache forces materialization through the block
    # manager (measured ~2× slower at sf0.1)
    dw = _cap_posting_lists(
        _doc_word_hashes(df, text_col, id_col), max_df)
    sizes = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = dw.alias("a")
    b = dw.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("nb"))
    jac = (F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b",
                (F.round(jac, 6) + F.lit(0.0)).alias("jaccard"))
    )


def similar_docs(df: DataFrame, query_id, k: int = 10,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Top-k documents most similar to ONE query document by
    word-set Jaccard — the serving-path question ("who copied
    this?") that :func:`ngram_jaccard_pairs` answers for every pair
    at once but a single lookup shouldn't pay a corpus self-join
    for.

    The query document's token-hash set (one doc's vocabulary —
    bounded, broadcastable) prunes the corpus-side inverted index
    BEFORE any shuffle: the scored stream is |postings of the
    query's tokens|, not the corpus. Exact Jaccard from the
    intersection count + per-doc sizes (the size table joins only
    the ≤|candidates| surviving docs), then a TakeOrdered top-k —
    no global sort. Ties break toward the smaller id.

    The tokenized (doc_id, hash) relation feeds three consumers
    (query set, candidate scoring, sizes) inside ONE plan, where
    AQE's exchange reuse shares the tokenize shuffle — an explicit
    persist was measured ~2× slower at sf0.1 (cache materialization
    through the block manager beats nothing here). |query-set| rides
    the plan as a broadcast 1-row aggregate instead of an eager
    ``count()`` action, so calling this function stays lazy.
    Output: (doc_id, jaccard), 6 decimals, the query itself
    excluded."""
    dw = _doc_word_hashes(df, text_col, id_col)
    qset = (dw.where(F.col("doc_id") == query_id)
            .select("h").distinct())
    n_q = qset.agg(F.count(F.lit(1)).alias("n_q"))
    inter = (dw.where(F.col("doc_id") != query_id)
             .join(F.broadcast(qset), "h")
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("i")))
    sizes = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = F.col("i") / (F.col("n") + F.col("n_q") - F.col("i"))
    return (inter.join(sizes, "doc_id")
            .crossJoin(F.broadcast(n_q))
            .select("doc_id",
                    (F.round(jac, 6) + F.lit(0.0)).alias("jaccard"))
            .orderBy(F.desc("jaccard"), F.asc("doc_id"))
            .limit(k))


def cross_source_dup_rates(df: DataFrame, threshold: float = 0.8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           group_col: str = "source",
                           max_df: int | None = None,
                           pairs: DataFrame | None = None) -> DataFrame:
    """Which sources duplicate each other: near-dup pairs rolled up
    into a source×source duplication matrix — the curation report
    that says which feeds to de-prioritize (or drop) before
    training, and whether a "new" source is mostly recycled content
    from an old one.

    Candidate source, scale-tiered: pass ``pairs`` (any (id_a, id_b,
    <score>) frame — e.g. :func:`minhash_lsh_pairs` output, the
    bucketed generator that stays linear on stopword-heavy corpora)
    to roll up precomputed pairs; otherwise the exact
    :func:`ngram_jaccard_pairs` join runs, with ``max_df`` bounding
    its hot-posting-list blowup (set it for any corpus-scale sweep;
    None is the exact oracle mode for bounded slices).

    The rollup adds two hash joins of the (id, source) projection
    and one groupBy over ≤|sources|² keys. The join sides are NOT
    force-broadcast: the pairs side is usually the small relation
    and the (id, source) side is |docs| rows — at web scale that
    exceeds any broadcast limit, so the build-side choice is left to
    AQE. Pairs are undirected, so the (source_a, source_b) key is
    ordered lexicographically and each pair counts once. Output:
    (source_a, source_b, n_pairs, sum_jaccard) — the mean is
    sum/n; the SUM is reported because summed 1e-6-grid pair scores
    round reproducibly across engines, while their mean lands on
    exact rounding boundaries (1/n fractions)."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, threshold, text_col, id_col,
                                    max_df=max_df)
    score_col = pairs.columns[2]
    # NULL sources surface as their own bucket — least/greatest skip
    # NULLs, which would silently misattribute such pairs
    src = df.select(F.col(id_col),
                    F.coalesce(F.col(group_col),
                               F.lit("(unknown)")).alias(group_col))
    ga = src.select(F.col(id_col).alias("id_a"),
                    F.col(group_col).alias("_ga"))
    gb = src.select(F.col(id_col).alias("id_b"),
                    F.col(group_col).alias("_gb"))
    return (pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .groupBy(F.least("_ga", "_gb").alias("source_a"),
                     F.greatest("_ga", "_gb").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 (F.round(stable_dsum(F.col(score_col)), 6)
                  + F.lit(0.0))
                 .alias("sum_jaccard")))


def shingles(text_col: str, n: int = 3):
    """n-word shingle array column.

    The token array is let-bound (functions/bind.py): slicing the
    split EXPRESSION inside the transform lambda would re-tokenize
    the document once per shingle position — O(|doc|²) per doc."""
    from ..functions.bind import let

    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    def build(a):
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(a) - n + 1, F.lit(1)))
        return F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(a, i, n))))

    return let(w, build)


def _shingle_intersections(df: DataFrame, shingle_n: int,
                           text_col: str, id_col: str,
                           max_df: int | None = None) -> DataFrame:
    """Shared inverted-index scaffolding for the shingle-set joins:
    candidate pairs (id_a < id_b) sharing >= 1 shingle, with the
    distinct-shingle intersection count ``i`` and each side's shingle
    count ``na``/``nb`` (one row per doc — build side left to AQE;
    at billions of docs the size table outgrows any broadcast
    limit). Join key is the shingle's 64-bit hash, never the shingle
    text. ``max_df`` drops shingles whose posting list exceeds it
    (see :func:`_cap_posting_lists`) — shingles are rarer than
    tokens, but boilerplate (headers, license blocks) still produces
    corpus-wide posting lists at scale."""
    sh = (df.select(F.col(id_col).alias("doc_id"),
                    F.explode(shingles(text_col, shingle_n))
                    .alias("s"))
          .select("doc_id", F.xxhash64("s").alias("h")))
    # not persisted — single-plan consumers share the shuffle via
    # AQE exchange reuse (see ngram_jaccard_pairs)
    sh = _cap_posting_lists(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("nb"))
    return (inter.join(sa, "id_a")
            .join(sb, "id_b"))


def shingle_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                          shingle_n: int = 3, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_df: int | None = None) -> DataFrame:
    """EXACT n-word-shingle-set Jaccard pairs — the ground truth that
    MinHash+LSH approximates (same shingle definition). Inverted-index
    self-join on 8-byte shingle hashes, so only pairs sharing at least
    one shingle ever materialize — never all-pairs. ``max_df`` caps
    boilerplate shingles' posting lists for corpus-scale runs.
    Output: (id_a, id_b, jaccard)."""
    jac = (F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
    return (
        _shingle_intersections(df, shingle_n, text_col, id_col,
                               max_df=max_df)
        .where(jac >= threshold)
        .select("id_a", "id_b",
                (F.round(jac, 6) + F.lit(0.0)).alias("jaccard"))
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 16,
                       shingle_n: int = 3, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """MinHash signatures as ONE array column.

    MinHash is per-document math, so the signature is computed ROW-
    LOCALLY: each shingle is hashed ONCE with xxhash64, then the k
    independent hash functions are derived as xxhash64(base_hash,
    seed) inside k ``array_min`` expressions over the shingle-hash
    array. ZERO shuffles — at 100 TB the signature stage is a pure
    map over the input splits (the earlier shape exploded shingles
    and shuffled the token stream into a groupBy vote).
    Output: (doc_id, sig array<long>[k])."""
    from ..localdf import fan_out

    # k hash families per shingle is the CPU bill — spread a
    # few-split input over the cores first (no-op at production
    # split counts; row-preserving)
    df = fan_out(df)
    hs = F.transform(shingles(text_col, shingle_n),
                     lambda s: F.xxhash64(s))
    return (
        df.select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
        .select(
            "doc_id",
            F.array(*[
                F.array_min(F.transform(
                    "hs", lambda h: F.xxhash64(h, F.lit(i))))
                for i in range(num_hashes)]).alias("sig"))
    )


def _cap_hot_buckets(banded: DataFrame, keys: list,
                     max_bucket: int | None) -> DataFrame:
    """Standard LSH hot-bucket cap: a band key shared by B docs emits
    B²/2 candidate pairs in ONE task — on dup-heavy corpora a single
    boilerplate bucket can dominate the whole job (the self-join skew
    AQE can't fully split, since the explosion happens inside the
    join). Dropping buckets above `max_bucket` bounds per-key work;
    members of such buckets are near-certain duplicates of each other
    and almost always still pair through their other bands (or get
    caught by exact dedup first). None = no cap."""
    if max_bucket is None:
        return banded
    w_cnt = F.count(F.lit(1)).over(
        Window.partitionBy(*[F.col(c) for c in keys]))
    return (banded.withColumn("_bsz", w_cnt)
            .where(F.col("_bsz") <= max_bucket).drop("_bsz"))


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      threshold: float = 0.5,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures into buckets; only
    same-bucket docs become candidates; verify with the estimated
    Jaccard (fraction of agreeing hash components). `max_bucket`
    bounds the per-bucket candidate blowup on dup-heavy corpora (see
    _cap_hot_buckets).
    Output: (id_a, id_b, est_jaccard)."""
    k = num_hashes
    if bands <= 0 or k % bands != 0:
        raise ValueError(
            f"num_hashes ({k}) must be a positive multiple of bands"
            f" ({bands}): a non-divisible split silently ignores the"
            " trailing signature rows and changes the LSH"
            " sensitivity curve")
    rows_per_band = k // bands
    sig = minhash_signatures(df, k, shingle_n, text_col, id_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.get("sig", i)
                         for i in range(b * rows_per_band,
                                        (b + 1) * rows_per_band)])
            .alias("bh"))
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", "sig", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "sig",
             F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    banded = _cap_hot_buckets(banded, ["band", "bh"], max_bucket)
    # signatures feed BOTH sides of the self-join: persist so the
    # shingle explode + min aggregation runs once, not twice
    banded = _persist_bounded(banded)
    a = banded.alias("a")
    b_ = banded.alias("b")
    agree = F.size(F.filter(
        F.zip_with(F.col("a.sig"), F.col("b.sig"),
                   lambda x, y: x == y), lambda m: m))
    cands = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                (agree / F.lit(float(k))).alias("est_jaccard"))
        # filter before distinct — see simhash_pairs
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )
    return cands.select("id_a", "id_b",
                        (F.round("est_jaccard", 6) + F.lit(0.0))
                        .alias("est_jaccard"))


def _union_find_min(edge_rows) -> list[tuple]:
    """Exact driver-side union-find with path compression; roots are
    component minima. Linear-ish in |edges|, no Spark jobs."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for n in parent]


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         driver_edge_cap: int = 1_000_000) -> DataFrame:
    """Duplicate-cluster resolution: connected components of the
    near-dup pair graph; comp = min node id of the component.

    Two-tier by measured edge count — the candidate-pair graph after
    banding is orders of magnitude smaller than the corpus, so the
    cheap tier is the common case at every scale:

    - ``|edges| <= driver_edge_cap`` (~30 MB of longs): exact
      union-find on the driver in one collect — zero iterative jobs.
      Iterative min-label diffusion can't beat its own fixed job
      latency here: it needs O(diameter) rounds (pointer-doubling
      does NOT help min-label convergence — a node's label is a local
      minimum whose own label is usually itself, so label[label] is a
      no-op; measured 16-21 rounds on a diameter-24 pair graph).
    - larger: distributed hash-to-min (Rastogi et al., CIKM'13
      "Finding Connected Components in Map-Reduce in Logarithmic
      Rounds"): every cluster set sends its minimum to all members
      and all members to the minimum, converging in O(log d) rounds
      (measured 8 rounds where min-label took 21). State skew is the
      output star itself (the min node holds its component), same as
      any CC output. Lineage is truncated per round
      (localCheckpoint); the probe is one ``exceptAll.limit(1)``.
    Output: (node, comp).
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"),
                              F.col("a").alias("b"))))\
        .distinct().persist()
    # the persist is load-bearing for the tier probe: count
    # materializes the pair-generation lineage ONCE into the cache
    # and collect reads it back. (A persist-free take(cap+1) was
    # measured 2.6× slower at sf0.1 — take's incremental partition
    # ramp-up re-evaluates the expensive pair join per retry.)
    n_edges = edges.count()
    if n_edges <= driver_edge_cap:
        rows = [(r["a"], r["b"]) for r in edges.collect()]
        edges.unpersist()
        labels = _union_find_min(rows)
        spark = pairs.sparkSession
        # label schema mirrors the caller's id type (string ids are
        # first-class across the dedup stack, not just bigint)
        from pyspark.sql import types as T
        idt = pairs.schema[id_a].dataType
        schema = T.StructType([T.StructField("node", idt, False),
                               T.StructField("comp", idt, False)])
        if not labels:
            return pairs.sparkSession.createDataFrame([], schema)
        from ..localdf import arrow_df
        return arrow_df(spark, labels, schema)

    # cluster state C(u): one row (u, v) per member v of u's set,
    # seeded with the adjacency plus self-loops
    from ..ckpt import (release_local_checkpoint,
                        tracked_local_checkpoint)

    C, c_ids = tracked_local_checkpoint(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(edges.select(F.col("a").alias("u"),
                                  F.col("a").alias("v")))
        .distinct())
    for _ in range(max_iter):
        m = C.groupBy("u").agg(F.min("v").alias("m"))
        Cm = C.join(m, "u")
        new, new_ids = tracked_local_checkpoint(
            Cm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(Cm.select(F.col("m").alias("u"),
                                   F.col("v").alias("v")))
            .distinct())
        changed = new.exceptAll(C).limit(1).count()
        # `new` was checkpointed EAGERLY, so it no longer reads the
        # superseded round's checkpoint — release it through the
        # JVM persistent-RDD map (only the final C stays cached for
        # the returned frame); the old df.rdd.unpersist() here was
        # a silent no-op and every CC round leaked one
        # session-lifetime cached RDD (ckpt.py)
        release_local_checkpoint(C, c_ids)
        C, c_ids = new, new_ids
        if changed == 0:
            break
    edges.unpersist()
    return (C.groupBy("u").agg(F.min("v").alias("comp"))
            .select(F.col("u").alias("node"), "comp"))


def resolve_duplicates(df: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Keep-one-per-cluster dedup decision: every doc mapped to its
    cluster representative (the minimum doc id of its component;
    singletons map to themselves). Output: (doc_id, keep_id,
    is_kept)."""
    comp = connected_components(pairs)
    return (df.select(F.col(id_col).alias("doc_id"))
            .join(comp, F.col("doc_id") == F.col("node"), "left")
            .select(
                "doc_id",
                F.coalesce("comp", F.col("doc_id")).alias("keep_id"))
            .withColumn("is_kept",
                        F.col("doc_id") == F.col("keep_id")))


def resolve_duplicates_by(df: DataFrame, pairs: DataFrame,
                          score_col: str, id_col: str = "doc_id",
                          skew_safe: bool = False) -> DataFrame:
    """Policy-aware keep-one-per-cluster dedup: the representative
    is the cluster member with the HIGHEST ``score_col`` (quality
    score, length, recency — whatever the pipeline optimizes),
    ties broken toward the smaller id; singletons keep themselves.
    ``resolve_duplicates`` is the min-id special case — this is what
    production pipelines actually want, because the first-crawled
    copy is often the worst one.

    Same connected-components machinery; picking winners (default
    path) is two window aggregates over the SAME component
    partitioning — max score per component, then min id among the
    rows that carry it (``eqNullSafe`` so an all-NULL-score
    component still elects its min id rather than vanishing).
    Catalyst collapses both into one Window node behind a single
    exchange on ``comp`` — one shuffle, zero joins, and it works
    for ANY orderable id/score type — a single
    ``max_by(id, struct(score, -id))`` would also be one pass but
    raises AnalysisException for string ids (negation), silently
    narrowing the id types the rest of the dedup stack supports.
    Everything carries |docs| rows, nothing quadratic.

    SKEW: the window path lands each component in ONE task and
    WindowExec buffers the whole partition — fine for dedup
    clusters (bounded by the candidate generators' caps), but a
    corpus-scale mega-component (site-wide boilerplate joining half
    the corpus into one cluster) would bottleneck and can OOM a
    task. ``skew_safe=True`` switches to groupBy aggregates with
    map-side partial combine (max score per comp, then min id among
    max-score rows, joined back): more jobs, but every reducer sees
    pre-combined partials no matter how large one component gets —
    use it when component sizes are unbounded.
    Output: (doc_id, keep_id, is_kept)."""
    comp = connected_components(pairs)
    scored = df.select(F.col(id_col).alias("doc_id"),
                       F.col(score_col).alias("_s"))
    withc = (scored.join(comp, F.col("doc_id") == F.col("node"),
                         "left")
             .select("doc_id", "_s",
                     F.coalesce("comp", F.col("doc_id"))
                     .alias("comp")))
    if skew_safe:
        smax = withc.groupBy("comp").agg(F.max("_s").alias("_smax"))
        winners = (withc.join(smax, "comp")
                   .where(F.col("_s").eqNullSafe(F.col("_smax")))
                   .groupBy("comp")
                   .agg(F.min("doc_id").alias("keep_id")))
        return (withc.join(winners, "comp")
                .select("doc_id", "keep_id",
                        (F.col("doc_id") == F.col("keep_id"))
                        .alias("is_kept")))
    from pyspark.sql import Window
    wc = Window.partitionBy("comp")
    withmax = withc.withColumn("_smax", F.max("_s").over(wc))
    keep = F.min(F.when(F.col("_s").eqNullSafe(F.col("_smax")),
                        F.col("doc_id"))).over(wc)
    return (withmax.withColumn("keep_id", keep)
            .select("doc_id", "keep_id",
                    (F.col("doc_id") == F.col("keep_id"))
                    .alias("is_kept")))


def _simhash_vote_arrow():
    """Arrow-batched majority vote: token hashes (computed JVM-side
    with xxhash64) arrive as one array column per doc; the per-bit
    vote runs as vectorized numpy bit-unpacking + reduceat over the
    whole batch. The pure-expression lane vote below is semantically
    identical but runs interpreted (higher-order functions sit
    outside whole-stage codegen) at ~0.4 ms/doc; this path is ~10×
    cheaper per doc and is the 100 TB shape for the signature map."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vote(hs: pd.Series) -> pd.Series:
        if len(hs) == 0:
            return pd.Series([], dtype="int64")
        arrs = [np.asarray(a, dtype=np.int64).view(np.uint64)
                for a in hs]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        out = np.zeros(len(arrs), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = (np.concatenate([a for a in arrs if len(a)])
                    .view(np.uint8).reshape(-1, 8))
            bits = np.unpackbits(flat, axis=1, bitorder="little")
            starts = np.zeros(int(nz.sum()), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            sums = np.add.reduceat(bits.astype(np.int64), starts,
                                   axis=0)
            maj = (sums * 2 > lens[nz, None]).astype(np.uint64)
            weights = np.left_shift(
                np.uint64(1), np.arange(64, dtype=np.uint64))
            out[nz] = (maj * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return vote


def simhash(df: DataFrame, bits: int = 64, text_col: str = "text",
            id_col: str = "doc_id", arrow: bool = True) -> DataFrame:
    """SimHash signatures: per-bit majority vote over token hashes.
    The full 64-bit signature packs one BIGINT (bit 63 lands in the
    sign bit — harmless, it's a bit pattern). Wider signatures mean
    wider LSH band keys downstream: 16-bit chunks give 65k buckets
    per band instead of 4k, which is what keeps candidate-pair
    counts linear instead of quadratic on dup-heavy corpora.
    Output: (doc_id, simhash)."""
    from ..localdf import fan_out

    assert bits == 64, "lane-packed simhash is fixed at 64 bits"
    # the per-token hash + bit vote is row-local CPU work — fan a
    # few-split input out first (no-op at production split counts)
    df = fan_out(df)
    if arrow:
        arr = F.array_distinct(F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda x: x != ""))
        hs = F.transform(arr, lambda x: F.xxhash64(x))
        return df.select(
            F.col(id_col).alias("doc_id"),
            _simhash_vote_arrow()(hs).alias("simhash"))
    # SimHash is per-document math — no cross-row dependency — so the
    # whole signature is computed ROW-LOCALLY with array expressions:
    # tokenize, array_distinct, hash, then a lane-packed bit vote via
    # F.aggregate over the hash array. Zero shuffles until the LSH
    # banding join; at 100 TB the signature stage is a pure map over
    # the input splits. Lane packing: bit positions {i, i+16, i+32,
    # i+48} share one long as four 16-bit counters, so the fold
    # carries 16 longs instead of 64. Bound: ≤ 65535 distinct tokens
    # per document (lane width); real documents are far below this.
    arr = F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: x != ""))
    hs = F.transform(arr, lambda x: F.xxhash64(x))

    def lane(i):
        def step(acc, h):
            e = None
            for k in range(4):
                term = F.shiftleft(
                    F.shiftright(h, i + 16 * k).bitwiseAND(F.lit(1)),
                    16 * k)
                e = term if e is None else e.bitwiseOR(term)
            return acc + e
        return F.aggregate("hs", F.lit(0).cast("long"), step) \
            .alias(f"p{i}")

    agg = (df.select(F.col(id_col).alias("doc_id"), hs.alias("hs"))
           .select("doc_id", F.size("hs").alias("n"),
                   *[lane(i) for i in range(16)]))
    # majority vote 2*s > n per position reassembles the signature
    word = None
    for i in range(64):
        s = F.shiftright(f"p{i % 16}", 16 * (i // 16)) \
            .bitwiseAND(F.lit(0xFFFF))
        # bit 63 is the sign bit of a two's-complement long
        v = (1 << i) if i < 63 else -(1 << 63)
        bit = F.when(s * 2 > F.col("n"), F.lit(v).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        word = bit if word is None else \
            word.bitwiseOR(bit) if i == 63 else word + bit
    return agg.select("doc_id", word.alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3, bits: int = 64,
                  bands: int = 4, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    Banding on signature chunks guarantees recall for distances <
    bands (pigeonhole); verify via bit_count(xor). `max_bucket`
    bounds per-band-key candidate blowup (see _cap_hot_buckets; note
    a cap weakens the pigeonhole completeness guarantee for members
    of dropped buckets).
    Output: (id_a, id_b, hamming)."""
    sig = simhash(df, bits, text_col, id_col)
    # both sides of the self-join read the signatures: persist so the
    # tokenize + 48-way vote aggregation runs once, not twice
    sig = _persist_bounded(sig)
    return hamming_pairs(sig, sig_col="simhash", id_col="doc_id",
                         bits=bits, bands=bands,
                         max_hamming=max_hamming,
                         max_bucket=max_bucket)


def banded_bits(sig: DataFrame, sig_col: str, id_col: str,
                bits: int = 64, bands: int = 4) -> DataFrame:
    """The band rows of a bit-signature column: (_id, _sig, band,
    key) with key = the band's ``bits/bands``-bit chunk — shared by
    the in-memory pair join and the persisted media dedup index so
    probe and index band math always align."""
    chunk = bits // bands
    return sig.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * chunk)
                .bitwiseAND(F.lit((1 << chunk) - 1)).alias("key"))
            for b in range(bands)])).alias("bb"))\
        .select("_id", "_sig", "bb.band", "bb.key")


def hamming_pairs(sig: DataFrame, sig_col: str, id_col: str,
                  bits: int = 64, bands: int = 4,
                  max_hamming: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """Generic banded Hamming-distance pair join over any 64-bit-or-
    less signature column (SimHash over text, perceptual image
    hashes, audio fingerprints): banding on signature chunks
    guarantees recall for distances < bands (pigeonhole); candidates
    verify via bit_count(xor); ``max_bucket`` caps per-band-key
    candidate blowup. One explode + one equi-join on (band, key) —
    never all-pairs, the 100 TB shape. Output: (id_a, id_b,
    hamming)."""
    banded = banded_bits(sig, sig_col, id_col, bits, bands)
    banded = _cap_hot_buckets(banded, ["band", "key"], max_bucket)
    a, b_ = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                ham.alias("hamming"))
        # filter BEFORE distinct: the Hamming cut drops most of the
        # candidate stream, so the dedup shuffle only carries real
        # near-dup pairs
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def containment_pairs(df: DataFrame, threshold: float = 0.5,
                      shingle_n: int = 3, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC containment: |shingles(A) ∩ shingles(B)| /
    |shingles(A)| — "how much of A appears inside B". Jaccard misses
    excerpts (a paragraph quoted inside a much longer document has
    tiny Jaccard but containment ≈ 1), and excerpt detection is what
    decontamination and license-compliance sweeps actually need.

    Same inverted-index shape as the Jaccard joins (shared
    ``_shingle_intersections`` scaffolding): pairs sharing no shingle
    never materialize, the join key is an 8-byte shingle hash,
    per-doc sizes broadcast. Both directions emit from ONE
    intersection pass (contain_a = i/na, contain_b = i/nb); rows
    keep whichever direction clears the threshold.
    Output: (id_a, id_b, contain_a, contain_b), id_a < id_b."""
    ca = F.col("i") / F.col("na")
    cb = F.col("i") / F.col("nb")
    return (
        _shingle_intersections(df, shingle_n, text_col, id_col,
                               max_df=max_df)
        .where((ca >= threshold) | (cb >= threshold))
        .select("id_a", "id_b",
                (F.round(ca, 6) + F.lit(0.0)).alias("contain_a"),
                (F.round(cb, 6) + F.lit(0.0)).alias("contain_b"))
    )


# ---------------------------------------------------------------
# Incremental dedup against a persisted index (the production
# shape: a new crawl batch dedups against the historical corpus
# WITHOUT re-scanning it — the index is orders of magnitude
# smaller than the text it summarizes)
# ---------------------------------------------------------------

def _exact_fp(text_col: str):
    """Exact-dup fingerprint: xxhash64 of the trimmed text."""
    return F.xxhash64(F.trim(F.col(text_col)))


def _banded_sigs(df: DataFrame, num_hashes: int, bands: int,
                 shingle_n: int, text_col: str,
                 id_col: str) -> DataFrame:
    """(doc_id, sig, band, bh) — the LSH band rows minhash_lsh_pairs
    builds, factored out so the persisted index and the incremental
    probe use the identical signature math."""
    k = num_hashes
    if bands <= 0 or k % bands != 0:
        raise ValueError(
            f"num_hashes ({k}) must be a positive multiple of bands"
            f" ({bands})")
    rows_per_band = k // bands
    sig = minhash_signatures(df, k, shingle_n, text_col, id_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.get("sig", i)
                         for i in range(b * rows_per_band,
                                        (b + 1) * rows_per_band)])
            .alias("bh"))
        for b in range(bands)]
    return (sig.select(
        "doc_id", "sig",
        F.explode(F.array(*band_cols)).alias("bb"))
        .select("doc_id", "sig", F.col("bb.band").alias("band"),
                F.col("bb.bh").alias("bh")))


def build_dedup_index(df: DataFrame, path: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3, text_col: str = "text",
                      id_col: str = "doc_id",
                      subdir: str | None = None) -> None:
    """Persist (or extend) the dedup index for a corpus:
    ``{path}/exact`` holds (doc_id, fp) exact fingerprints,
    ``{path}/bands`` holds the LSH band rows partitioned by band
    (probes prune to their band's directory). Parameters are the
    caller's contract — probe with the same (num_hashes, bands,
    shingle_n) or the band hashes won't align.

    Two write layouts — pick ONE per index and never mix (Spark
    can't read a directory holding both bare part files and
    partition subdirectories):

    - ``subdir=None`` (default): plain mode-append under
      ``{path}/exact`` / ``{path}/bands`` — the one-shot batch
      build.
    - ``subdir="batch=<id>"``: the delta lands in its OWN
      subdirectory with mode OVERWRITE, so re-running the same
      delta (streaming foreachBatch redelivery after a crash
      anywhere inside this function) replaces itself instead of
      appending twice — the idempotent-writer layout. Readers see
      ``subdir``'s key as an extra partition column, which the
      probes ignore."""
    exact_dir = path + "/exact" + (f"/{subdir}" if subdir else "")
    bands_dir = path + "/bands" + (f"/{subdir}" if subdir else "")
    mode = "overwrite" if subdir else "append"
    (df.select(F.col(id_col).alias("doc_id"),
               _exact_fp(text_col).alias("fp"))
     .write.mode(mode).parquet(exact_dir))
    (_banded_sigs(df, num_hashes, bands, shingle_n, text_col,
                  id_col)
     .write.mode(mode).partitionBy("band")
     .parquet(bands_dir))


def dedup_incremental(new_df: DataFrame, path: str,
                      threshold: float = 0.5,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_bucket: int | None = None) -> DataFrame:
    """Dedup a NEW batch against the persisted index: exact hits via
    a fingerprint equi-join, near hits via the band join of the
    batch's LSH rows against ``{path}/bands`` verified by signature
    agreement ≥ threshold. Per new doc, the single best match wins
    (exact beats near, then highest est_jaccard, then smallest
    match_id). Docs with no hit aren't returned — they're the keep
    set (anti-join this output).

    Scale shape: the historical corpus is touched only through its
    index (hashes + ids — a few hundred bytes/doc at 100 TB); both
    joins are hash-equi on (band, bh)/(fp) with the NEW side small
    by definition; `max_bucket` caps boilerplate band buckets
    exactly like the batch dedup. Output: (doc_id, match_id, kind,
    est_jaccard)."""
    spark = new_df.sparkSession
    k = num_hashes
    idx_exact = spark.read.parquet(path + "/exact")
    idx_bands = spark.read.parquet(path + "/bands")
    exact = (new_df.select(F.col(id_col).alias("doc_id"),
                           _exact_fp(text_col).alias("fp"))
             .join(idx_exact.withColumnRenamed("doc_id",
                                               "match_id"), "fp")
             .groupBy("doc_id")
             .agg(F.min("match_id").alias("match_id"))
             .select("doc_id", "match_id",
                     F.lit("exact").alias("kind"),
                     F.lit(1.0).alias("est_jaccard")))
    probe = _banded_sigs(new_df, k, bands, shingle_n, text_col,
                         id_col)
    probe = _cap_hot_buckets(probe, ["band", "bh"], max_bucket)
    agree = F.size(F.filter(
        F.zip_with(F.col("sig"), F.col("isig"),
                   lambda x, y: x == y), lambda m: m))
    near = (probe.join(
        idx_bands.select(F.col("doc_id").alias("match_id"),
                         F.col("sig").alias("isig"), "band", "bh"),
        ["band", "bh"])
        .select("doc_id", "match_id",
                (agree / F.lit(float(k))).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(F.max(F.struct(
            F.col("est_jaccard"),
            (-F.col("match_id")).alias("neg_id"))).alias("w"))
        .select("doc_id", (-F.col("w.neg_id")).alias("match_id"),
                F.lit("near").alias("kind"),
                (F.round(F.col("w.est_jaccard"), 6) + F.lit(0.0))
                .alias("est_jaccard")))
    # exact beats near for the same doc
    near_only = near.join(exact.select("doc_id"), "doc_id",
                          "left_anti")
    return exact.unionByName(near_only)


# ------------------------------------------------------- content-defined
#: multiply-xor mixing constants for the CDC window hash (splitmix64
#: finalizer constants — public domain, Steele et al.)
_CDC_C1 = np.uint64(0xBF58476D1CE4E5B9)
_CDC_C2 = np.uint64(0x94D049BB133111EB)
_CDC_WIN = 16   # boundary decision looks at the previous 16 bytes


def _cdc_boundary_starts(data: bytes, min_size: int, avg_size: int,
                         max_size: int) -> list:
    """Chunk START offsets (byte positions, 0-based) for one
    document. A position i is a CANDIDATE cut when the mix of the 16
    bytes ENDING at i hits ``avg_size``'s mask — a pure function of
    local content, so an edit relocates only the cuts whose windows
    it touches (the CDC property). The greedy min/max pass then keeps
    candidates at least ``min_size`` apart and forces a cut at
    ``max_size`` — those forced/suppressed cuts are the only ones
    with any positional dependence, and they re-synchronize at the
    next surviving candidate.

    The window hash is vectorized exactly in numpy: the two 8-byte
    halves of each window are read as little-endian uint64 lanes
    (wrapping multiply-xor mix, no Python loop over bytes); only the
    sparse candidate list is walked in Python (~len/avg_size items).
    """
    n = len(data)
    if n == 0:
        return []
    mask = np.uint64(avg_size - 1)      # avg_size is a power of two
    if n >= _CDC_WIN:
        buf = np.frombuffer(data, dtype=np.uint8)
        # windows END at positions [_CDC_WIN-1 .. n-1]; lanes via
        # shifted 8-byte views (alignment-safe: go through bytes)
        end = n - _CDC_WIN + 1
        lo = np.lib.stride_tricks.sliding_window_view(
            buf[:end + 7], 8).view(np.uint64)[..., 0][:end]
        hi = np.lib.stride_tricks.sliding_window_view(
            buf[8:end + 15], 8).view(np.uint64)[..., 0][:end]
        h = (lo * _CDC_C1) ^ (hi * _CDC_C2)
        h = (h ^ (h >> np.uint64(31))) * _CDC_C1
        cand = np.nonzero((h & mask) == 0)[0] + _CDC_WIN
        # a candidate at index i cuts AFTER window end i-1 → chunk
        # start i (cuts at n are meaningless)
        cand = cand[cand < n]
    else:
        cand = np.empty(0, dtype=np.int64)
    starts = [0]
    last = 0
    ci = 0
    m = len(cand)
    while True:
        nxt = None
        while ci < m:
            c = int(cand[ci])
            if c <= last:           # behind the current chunk start
                ci += 1
                continue
            if c - last < min_size:  # too close: suppressed
                ci += 1
                continue
            nxt = c
            break
        if nxt is None or nxt - last > max_size:
            forced = last + max_size
            if forced >= n:
                break
            starts.append(forced)
            last = forced
            continue
        starts.append(nxt)
        last = nxt
        ci += 1
        if last >= n:
            break
    return starts


def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_size: int = 32,
               avg_size: int = 128, max_size: int = 512) -> DataFrame:
    """Content-defined chunking: split every document at positions
    chosen by its CONTENT (windowed multiply-xor hash hitting a
    1/avg_size mask), not by fixed offsets — so inserting or deleting
    bytes early in a document relocates only the O(1) chunks whose
    windows the edit touches, and every downstream chunk re-aligns
    byte-identically. That re-synchronization is what makes
    chunk-level dedup work on 100 TB of crawl snapshots where the
    same article reappears with a shifted header: fixed-size blocks
    never line up again, CDC chunks do (the rsync/LBFS idea; no
    reference counterpart — the reference dedups nothing).

    Scale shape: boundary detection is a row-local Arrow-batched
    numpy kernel (one vectorized window hash per doc, a sparse
    candidate walk in Python); chunk content hashing stays JVM-side
    (``xxhash64(substr(binary))``) so the expensive per-byte work is
    whole-stage-codegen. No shuffle at all until a caller aggregates
    chunk hashes. Output: (doc_id, chunk_idx, start, length,
    chunk_hash) — start is a 0-based BYTE offset into the utf-8
    encoding; chunks tile the document exactly
    (sum(length) == octet_length(text), pinned by the
    dedup_cdc_tiling oracle entry).

    ``avg_size`` must be a power of two (mask test). Empty/NULL
    texts produce no chunks.
    """
    if avg_size & (avg_size - 1):
        raise ValueError("avg_size must be a power of two")
    if not (0 < min_size <= avg_size <= max_size):
        raise ValueError("need 0 < min_size <= avg_size <= max_size")

    out_schema = (f"{id_col} long, chunk_idx int, start long, "
                  "length long")

    def bounds(it):
        for pdf in it:
            ids, idxs, starts, lens = [], [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                data = txt.encode("utf-8")
                ss = _cdc_boundary_starts(data, min_size, avg_size,
                                          max_size)
                n = len(data)
                for j, s in enumerate(ss):
                    e = ss[j + 1] if j + 1 < len(ss) else n
                    ids.append(did)
                    idxs.append(j)
                    starts.append(s)
                    lens.append(e - s)
            yield pd.DataFrame({id_col: ids, "chunk_idx": idxs,
                                "start": starts, "length": lens})

    # NOTE r14: fan_out before this mapInPandas was tried and
    # REVERTED — the boundary walk is a vectorized numpy kernel, so
    # at bench scale 32 Python tasks cost more in worker spin-up
    # than they recover (interleaved A/B: 0.43 s at 4 splits vs
    # 0.65 s fanned out), and at production split counts a fan-out
    # is a no-op anyway — it has no upside at any scale here.
    spans = df.select(id_col, text_col).mapInPandas(bounds,
                                                    out_schema)
    body = df.select(F.col(id_col),
                     F.encode(F.col(text_col), "utf-8").alias("_b"))
    return (spans.join(body, id_col)
            .select(id_col, "chunk_idx", "start", "length",
                    F.xxhash64(F.substring(
                        F.col("_b"),
                        (F.col("start") + 1).cast("int"),
                        F.col("length").cast("int")))
                    .alias("chunk_hash")))


def cdc_dup_chunks(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", **cdc_opts) -> DataFrame:
    """Chunk-level duplication census: every chunk hash appearing in
    more than one document (or more than once in one), with its
    total byte weight — the "how much of the corpus is re-used
    bytes" answer exact dedup can't give when documents differ by a
    header. One groupBy on the 8-byte chunk hash. Output:
    (chunk_hash, n_copies, n_docs, bytes_total, keep_id)."""
    ch = cdc_chunks(df, text_col, id_col, **cdc_opts)
    return (ch.groupBy("chunk_hash")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.countDistinct(id_col).alias("n_docs"),
                 F.sum("length").alias("bytes_total"),
                 F.min(id_col).alias("keep_id"))
            .where(F.col("n_copies") > 1))


def compact_dedup_index(spark, path: str,
                        fs: str = "posix") -> dict:
    """Fold a batch-subdir dedup index (the streaming sink's
    ``batch=<id>`` delta layout) into one base partition per family
    — the read-amplification fix for long-running ingest (one
    parquet dir per micro-batch otherwise; probes list and fold all
    of them). Deltas dedupe on their natural keys ((doc_id, fp);
    (doc_id, sig, band, bh)) into ``batch=-<n>`` — streaming batch
    ids are ≥ 0, so a future micro-batch can never overwrite the
    base.

    Crash-safe without a commit protocol: by default the fold is
    written to a dot-prefixed temp dir (invisible to readers),
    renamed into place, and only then are consumed dirs removed;
    ``fs="committer"`` publishes through the storage committer
    instead for object stores with no atomic rename (protocol and
    crash argument in :func:`compact_batch_dirs`). A crash
    mid-cleanup leaves duplicate signature rows — probes tolerate
    them (duplicate candidate pairs, never data loss) and the next
    compaction distincts them away. Returns
    {family: n_dirs_folded}."""
    import os
    import shutil

    return compact_batch_dirs(spark, path,
                              (("exact", []), ("bands", ["band"])),
                              fs=fs)


def compact_batch_dirs(spark, path: str, families,
                       fs: str = "posix",
                       skip_batch_ids=None) -> dict:
    """Generic batch=<id> delta compaction shared by the dedup,
    media, sketch and SQIndex stores: per family
    ``(name, partition_cols[, merge])``, fold all delta dirs into
    one new ``batch=-<n>`` base, then remove the consumed dirs.
    ``merge`` (DataFrame → DataFrame, applied to the family's full
    read) defaults to drop-batch-column + DISTINCT — the right fold
    for signature indexes; the sketch store passes its HLL/KMV/
    quantile merges instead. See :func:`compact_dedup_index` for
    the crash-safety argument (idempotent merge ⇒ re-folding
    leftovers is harmless).

    ``skip_batch_ids`` (a set of integer batch ids) leaves those
    delta dirs OUT of the fold and on disk — the seam a caller with
    an in-flight/crashed-batch notion (the Bloom novelty gate's
    unmarked batches) uses so a pending batch's delta never
    migrates into the base while its producer may still redeliver
    and re-score against ``batch != id``.

    ``fs`` picks the publication protocol for the new base:

    - ``"posix"`` (default): write to a dot-prefixed temp dir
      (invisible to readers), then one atomic directory RENAME into
      ``batch=-<n>``. Right for local FS / HDFS, where rename is
      atomic — readers never see a partial base.
    - ``"committer"``: the object-store shape — no directory rename
      exists there, so the fold is a Spark write DIRECTLY to the
      final ``batch=-<n>`` dir through the storage committer, and
      safety comes from the idempotent merge instead of rename
      atomicity: a crash mid-write leaves a PARTIAL new base beside
      the intact deltas, and the next compaction simply folds
      base-partial + deltas into ``batch=-<n-1>`` (every partial
      row is a subset the merge de-duplicates; negative ids keep
      descending so a refold never overwrites a possibly-torn
      target). Consumed dirs are then tombstoned via the listing
      seam below. Probes between a crash and the refold see
      duplicate signature rows — duplicate candidate pairs, never
      data loss, same as the posix mid-cleanup window.

    Concurrency contract (both modes): run compaction from the
    single-writer MAINTENANCE job, never beside an active reader —
    removing consumed delta dirs can transiently break a reader
    that already listed them (a FileNotFound on a vanished dir, not
    wrong data; re-running the read after compaction is always
    correct). A delta landing mid-compaction is safe: the dir
    listing is snapshotted before the fold, so the new delta simply
    survives to the next pass.

    Filesystem seam: listing and removal go through os.listdir /
    shutil.rmtree here — on a real object store those two calls are
    the store SDK's list/delete (an S3A/GCS connector exposes them
    through the Hadoop FileSystem API Spark already carries); the
    ``"committer"`` protocol is written so NOTHING else assumes
    POSIX semantics — no rename, no temp-dir visibility rules."""
    import os
    import shutil

    if fs not in ("posix", "committer"):
        raise ValueError(f"unknown fs strategy {fs!r}")
    folded = {}
    for fam, *rest in families:
        part_cols = rest[0] if rest else []
        merge = rest[1] if len(rest) > 1 else (
            lambda df: df.drop("batch").distinct())
        fdir = os.path.join(path, fam)
        if not os.path.isdir(fdir):
            continue
        parts = [d for d in os.listdir(fdir)
                 if d.startswith("batch=")]
        if skip_batch_ids:
            parts = [
                d for d in parts
                if not (d.split("=")[1].lstrip("-").isdigit()
                        and int(d.split("=")[1]) in skip_batch_ids)]
        if len(parts) <= 1:
            continue
        next_base = min([0] + [int(d.split("=")[1]) for d in parts
                               if d.split("=")[1].lstrip("-")
                               .isdigit()]) - 1
        # read ONLY the folded dirs (basePath keeps the batch
        # partition column) — a skipped pending delta must not leak
        # into the new base
        df = merge(spark.read.option("basePath", fdir).parquet(
            *[os.path.join(fdir, d) for d in parts]))
        w = df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        if fs == "posix":
            tmp = os.path.join(fdir,
                               f".tmp-compact{abs(next_base)}")
            w.parquet(tmp)
            os.rename(tmp, os.path.join(fdir,
                                        f"batch={next_base}"))
        else:
            # committer path: publish straight to the final dir —
            # the storage committer's task/job commit is the only
            # atomicity used, and the idempotent merge covers a
            # crash anywhere before the cleanup below
            w.parquet(os.path.join(fdir, f"batch={next_base}"))
        for d in parts:
            shutil.rmtree(os.path.join(fdir, d), ignore_errors=True)
        folded[fam] = len(parts)
    return folded
