"""Streaming corpus curation: a live document feed deduped against
the PERSISTED dedup index as it ingests — the crawl-pipeline shape
(each micro-batch checks history without rescanning it, accepted
docs extend the index so later batches see them).

foreachBatch rather than a stateful operator on purpose: the dedup
state here is the on-disk index (operators/dedup.py
build_dedup_index), shared with batch jobs and unbounded in a way
executor state stores shouldn't be — 100 TB of corpus history is a
parquet index, not a state row per key. In-stream (same-batch)
duplicates are handled by a batch self-dedup before the index probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import release_local_checkpoint, tracked_local_checkpoint
from ..operators import dedup as D


def stream_corpus_dedup_ingest(
        stream_df: DataFrame, index_path: str, accepted_path: str,
        rejected_path: str | None = None, threshold: float = 0.5,
        num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
        text_col: str = "text", id_col: str = "doc_id",
        checkpoint: str | None = None):
    """Start the dedup-ingest stream: per micro-batch —

    1. drop in-batch exact duplicates (keep-first by id);
    2. probe the survivors against the index
       (:func:`dedup.dedup_incremental`): hits go to
       ``rejected_path`` (with match_id/kind) when given, else are
       dropped;
    3. append the accepted docs to ``accepted_path`` (parquet) AND
       to the index, so the NEXT batch — and any concurrent batch
       job — sees them.

    Exactly-once posture: foreachBatch re-delivers a failed batch
    with the SAME batch_id and (from the checkpointed source) the
    same rows, so EVERY write is idempotent per batch id: accepted
    docs, reject rows, AND the index delta all land in
    ``batch=<id>``-stamped subdirectories written with OVERWRITE —
    a redelivered batch replaces its own partial output instead of
    appending twice, whichever line the previous attempt died on.
    The final marker makes fully applied batches no-ops. A crash
    inside one parquet job relies on Spark's output-commit protocol
    for that job's atomicity. (The index this sink manages therefore
    uses build_dedup_index's subdir layout throughout; batch jobs
    sharing it must probe read-only or extend it with the same
    layout.) Returns the StreamingQuery."""
    sink = make_dedup_ingest_sink(
        index_path, accepted_path, rejected_path=rejected_path,
        threshold=threshold, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, text_col=text_col, id_col=id_col)
    writer = stream_df.writeStream.foreachBatch(sink) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_dedup_ingest_sink(
        index_path: str, accepted_path: str,
        rejected_path: str | None = None, threshold: float = 0.5,
        num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
        text_col: str = "text", id_col: str = "doc_id"):
    """The foreachBatch sink behind
    :func:`stream_corpus_dedup_ingest`, exposed so tests can call it
    directly with a repeated batch_id and assert redelivery
    idempotence (the exactly-once property documented there)."""
    opts = dict(threshold=threshold, num_hashes=num_hashes,
                bands=bands, shingle_n=shingle_n,
                text_col=text_col, id_col=id_col)

    def sink(batch_df: DataFrame, batch_id: int):
        marker = os.path.join(accepted_path,
                              f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return          # re-delivered batch: already applied
        # 1. in-batch exact dedup, keep the smallest id per text
        batch = _in_batch_exact_dedup(batch_df,
                                      D._exact_fp(text_col), id_col)
        # 2. probe history (index may not exist on the first batch).
        # A redelivered batch may ALREADY be in the index (crash
        # after the index append, before the final marker) — a doc
        # is never a duplicate of itself, so self-matches are
        # excluded or redelivery would reject the whole batch.
        hits = None
        hit_ids = set()
        if os.path.isdir(os.path.join(index_path, "exact")):
            hits = D.dedup_incremental(batch, index_path, **opts) \
                .where(F.col("match_id") != F.col("doc_id"))
            # probe once, use twice — tracked so the blocks are
            # actually freed below (ckpt.py)
            hits, hit_ids = tracked_local_checkpoint(hits,
                                                     eager=False)
            if rejected_path is not None:
                # batch-stamped overwrite: redelivery replaces, not
                # duplicates (partition-style dir so readers of
                # rejected_path see batch as a column)
                hits.write.mode("overwrite").parquet(os.path.join(
                    rejected_path, f"batch={batch_id}"))
            accepted = batch.join(
                hits.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti")
        else:
            accepted = batch
        # 3. land + index the accepted docs. The index delta uses the
        # SAME overwrite-per-batch idempotency as the doc writes
        # (build_dedup_index subdir layout): a crash anywhere between
        # here and the final marker redelivers the batch, and every
        # write — docs, rejects, index delta — replaces its own
        # previous attempt instead of appending twice.
        accepted, acc_ids = tracked_local_checkpoint(accepted,
                                                     eager=False)
        accepted.write.mode("overwrite").parquet(
            os.path.join(accepted_path, "docs",
                         f"batch={batch_id}"))
        D.build_dedup_index(accepted, index_path,
                            num_hashes=num_hashes, bands=bands,
                            shingle_n=shingle_n,
                            text_col=text_col, id_col=id_col,
                            subdir=f"batch={batch_id}")
        open(marker, "w").close()
        # release this batch's checkpoint blocks: both frames are
        # fully consumed by the writes above, and a long-running
        # stream must not accumulate one cached RDD per micro-batch
        # (the old df.rdd.unpersist() was a silent no-op — ckpt.py)
        release_local_checkpoint(accepted, acc_ids)
        if hits is not None:
            release_local_checkpoint(hits, hit_ids)

    return sink


def _has_parquet(path: str) -> bool:
    """Any parquet file under ``path`` (including band=N partition
    subdirectories)?"""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _in_batch_exact_dedup(batch_df: DataFrame, fp,
                          id_col: str) -> DataFrame:
    """Keep the smallest-id row per exact fingerprint column ``fp``
    — the ONE in-batch dedup choreography every ingest sink
    (corpus dedup, media, bloom novelty) shares, so a fingerprint-
    rule fix lands once instead of silently diverging per sink."""
    w_first = (batch_df.withColumn("_fp", fp)
               .groupBy("_fp")
               .agg(F.min(F.col(id_col)).alias("_keep")))
    return (batch_df.withColumn("_fp", fp)
            .join(w_first, "_fp")
            .where(F.col(id_col) == F.col("_keep"))
            .drop("_fp", "_keep"))


def stream_media_dedup_ingest(
        stream_df: DataFrame, index_path: str, accepted_path: str,
        rejected_path: str | None = None, max_hamming: int = 6,
        min_matches: int = 5, bands: int = 4,
        checkpoint: str | None = None):
    """The MEDIA twin of :func:`stream_corpus_dedup_ingest`: a live
    asset feed (media_id, kind, payload, mime) deduped against the
    persisted multimodal index as it ingests — per micro-batch:
    in-batch exact dedup (payload hash, keep-smallest-id), an
    image-pHash + audio-landmark probe of the index
    (:func:`~siridb_server_spark.operators.multimodal.
    media_dedup_incremental` — history touched only through its
    hashes+ids), rejected assets to ``rejected_path`` with their
    match, accepted assets landed AND indexed so the next batch sees
    them. Same exactly-once posture as the corpus sink:
    batch-stamped OVERWRITE dirs for accepted/rejected AND the
    index delta, then a final done marker."""
    sink = make_media_ingest_sink(
        index_path, accepted_path, rejected_path=rejected_path,
        max_hamming=max_hamming, min_matches=min_matches,
        bands=bands)
    writer = stream_df.writeStream.foreachBatch(sink) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_media_ingest_sink(
        index_path: str, accepted_path: str,
        rejected_path: str | None = None, max_hamming: int = 6,
        min_matches: int = 5, bands: int = 4):
    """foreachBatch sink behind :func:`stream_media_dedup_ingest`,
    exposed for direct redelivery-idempotence testing."""
    from ..operators import multimodal as MM

    def sink(batch_df: DataFrame, batch_id: int):
        marker = os.path.join(accepted_path,
                              f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return          # re-delivered batch: already applied
        # 1. in-batch exact dedup by payload hash, keep smallest id
        batch = _in_batch_exact_dedup(
            batch_df, F.xxhash64("payload"), "media_id")
        # 2. probe history (index may not exist on the first batch;
        # self-matches already excluded inside the probe, so a
        # redelivered batch that extended the index probes cleanly)
        hits = None
        hit_ids = set()
        if _has_parquet(os.path.join(index_path, "phash_bands")) \
                or _has_parquet(os.path.join(index_path,
                                             "audio_fp")):
            hits = MM.media_dedup_incremental(
                batch, index_path, max_hamming=max_hamming,
                min_matches=min_matches, bands=bands)
            hits, hit_ids = tracked_local_checkpoint(hits,
                                                     eager=False)
            if rejected_path is not None:
                hits.write.mode("overwrite").parquet(os.path.join(
                    rejected_path, f"batch={batch_id}"))
            accepted = batch.join(hits.select("media_id"),
                                  "media_id", "left_anti")
        else:
            accepted = batch
        # 3. land + index the accepted assets (index delta is a
        # batch-stamped overwrite — idempotent under redelivery,
        # same as the corpus sink)
        accepted, acc_ids = tracked_local_checkpoint(accepted,
                                                     eager=False)
        accepted.write.mode("overwrite").parquet(
            os.path.join(accepted_path, "assets",
                         f"batch={batch_id}"))
        MM.build_media_dedup_index(accepted, index_path,
                                   bands=bands,
                                   subdir=f"batch={batch_id}")
        open(marker, "w").close()
        # see the corpus sink: tracked release, the rdd.unpersist
        # variant never freed anything
        release_local_checkpoint(accepted, acc_ids)
        if hits is not None:
            release_local_checkpoint(hits, hit_ids)

    return sink


def stream_sketch_ingest(stream_df: DataFrame, sketch_path: str,
                         key_cols, member_col: str,
                         checkpoint: str | None = None,
                         value_col: str | None = None,
                         id_col: str | None = None):
    """Maintain persisted sketches over a live feed: per
    micro-batch, the batch's HLL register deltas and KMV minima —
    plus, when ``value_col``/``id_col`` are given, quantile-sample
    partials — land under ``batch=<id>`` subdirectories with
    OVERWRITE — the same idempotent-delta layout as the dedup-index
    sink, so foreachBatch redelivery replaces a partial delta
    instead of double-counting it (and since all three merges are
    idempotent, even a duplicated delta could not inflate an
    estimate). Readers call :func:`read_sketches` /
    :func:`read_quantile_sketch`, which fold ALL deltas with the
    exact merge — history is never rescanned; the day's distincts
    and quantiles cost the day's pass. Returns the StreamingQuery."""
    sink = make_sketch_ingest_sink(sketch_path, key_cols, member_col,
                                   value_col, id_col)
    writer = stream_df.writeStream.foreachBatch(sink) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_sketch_ingest_sink(sketch_path: str, key_cols,
                            member_col: str,
                            value_col: str | None = None,
                            id_col: str | None = None):
    """foreachBatch sink behind :func:`stream_sketch_ingest`,
    exposed for direct redelivery-idempotence testing."""
    from ..operators import sketches as SK

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def sink(batch_df: DataFrame, batch_id: int):
        marker = os.path.join(sketch_path,
                              f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        (SK.hll_registers(batch_df, keys, member_col)
         .write.mode("overwrite")
         .parquet(os.path.join(sketch_path, "hll",
                               f"batch={batch_id}")))
        (SK.kmv_sketch(batch_df, keys, member_col)
         .write.mode("overwrite")
         .parquet(os.path.join(sketch_path, "kmv",
                               f"batch={batch_id}")))
        if value_col is not None and id_col is not None:
            (SK.quantile_sketch(batch_df, keys, value_col, id_col)
             .write.mode("overwrite")
             .parquet(os.path.join(sketch_path, "quantile",
                                   f"batch={batch_id}")))
        open(marker, "w").close()

    return sink


def read_sketches(spark, sketch_path: str, key_cols):
    """Fold every persisted per-batch delta into the current
    sketches: (hll_registers, kmv_sketch) DataFrames equal to what a
    one-shot build over the full history would produce (both merges
    are exact/idempotent — the sketch_*_merge oracle property)."""
    from ..operators import sketches as SK

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    hll = SK.hll_merge(
        spark.read.parquet(sketch_path + "/hll"), keys)
    kmv = SK.kmv_merge(
        spark.read.parquet(sketch_path + "/kmv"), keys)
    return hll, kmv


def read_quantile_sketch(spark, sketch_path: str, key_cols):
    """Fold the persisted per-batch quantile-sample partials into
    the current sketch — equal to a one-shot
    :func:`~..operators.sketches.quantile_sketch` over the full
    history (the bottom-k merge is exact and idempotent; pytest
    pins equality against the one-shot build)."""
    from ..operators import sketches as SK

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return SK.quantile_merge(
        spark.read.parquet(sketch_path + "/quantile"), keys)


def compact_sketches(spark, sketch_path: str, key_cols,
                     fs: str = "posix") -> dict:
    """Fold the accumulated per-batch sketch deltas into one base
    partition per family — the maintenance pass that keeps
    read-time fold cost flat as micro-batches accumulate (10k
    batches = 10k parquet dirs otherwise; after compaction, one).

    Crash-safe WITHOUT a commit protocol, because every family's
    merge is idempotent (HLL register max; KMV/quantile distinct
    bottom-k): the fold is written to a dot-prefixed temp dir
    (invisible to parquet readers), atomically renamed to a
    NEGATIVE batch id (streaming batch ids are ≥ 0, so a future
    micro-batch can never overwrite a base), and only then are the
    consumed delta dirs removed — a crash at any line leaves
    consumed dirs alongside the new base, and re-folding those
    duplicates cannot change any sketch. The shared fold loop
    (list → merge → publish → cleanup, with its concurrency and
    filesystem contracts, including the ``fs="committer"``
    object-store protocol) lives in
    :func:`~..operators.dedup.compact_batch_dirs`; this wrapper
    only supplies the per-family sketch merges. Returns
    {family: n_dirs_folded}."""
    from ..operators import sketches as SK
    from ..operators.dedup import compact_batch_dirs

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return compact_batch_dirs(spark, sketch_path, (
        ("hll", [], lambda df: SK.hll_merge(df, keys)),
        ("kmv", [], lambda df: SK.kmv_merge(df, keys)),
        ("quantile", [], lambda df: SK.quantile_merge(df, keys)),
    ), fs=fs)


def make_sq_index_ingest_sink(index_path: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id"):
    """foreachBatch sink growing a SAVED
    :class:`~..operators.similarity.SQIndex` from a live embedding
    feed — the serving-index shape of a streaming corpus (documents
    embed as they ingest; the ANN index must see them without a
    rebuild). Each micro-batch is assigned with the index's pinned
    scale + frozen centroids (``similarity._sq_assign`` — the one
    definition shared with the batch append path) and lands as a
    batch-stamped delta ``cells_delta/batch=<id>/cell=<c>`` written
    with OVERWRITE, so a redelivered batch replaces its own partial
    output instead of double-indexing (exactly-once by idempotence,
    the dedup-ingest sink's layout); the final ``_batch-<id>.done``
    marker makes fully applied batches no-ops.
    ``SQIndex.load`` folds base + deltas; run
    :func:`compact_sq_index` from the maintenance job to fold
    deltas down (read amplification stays flat). The body IS
    :func:`~..operators.similarity.sq_index_append` with the
    stream's batch id — one choreography (marker short-circuit,
    empty-batch guard, overwrite-then-marker) for batch and
    streaming growth, so the two cannot drift (the sink previously
    re-implemented it without the empty-batch guard: a 0-row
    micro-batch left a file-less batch dir that broke delta schema
    inference on load)."""
    from ..operators.similarity import sq_index_append

    def sink(batch_df, batch_id: int):
        sq_index_append(batch_df.sparkSession, index_path,
                        batch_df, vec_col, id_col,
                        batch_id=batch_id)

    return sink


def stream_sq_index_ingest(stream_df, index_path: str,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           checkpoint: str | None = None,
                           available_now: bool = False):
    """Start the SQIndex ingest stream (see
    :func:`make_sq_index_ingest_sink`). ``available_now`` processes
    everything currently available then terminates (backfills,
    tests). Returns the StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        make_sq_index_ingest_sink(index_path, vec_col, id_col)) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_sq_index(spark, index_path: str,
                     fs: str = "posix") -> dict:
    """Fold the accumulated ``cells_delta/batch=<id>`` dirs into one
    negative-id delta base — same crash-safety argument as every
    compactor here: the fold is drop-batch + DISTINCT on full rows
    (a re-folded leftover dir cannot add anything), publish,
    cleanup last. The base ``cells`` dir is never touched —
    appending into it would NOT be idempotent (duplicate vector
    rows would double-index on a crash-refold). Single-writer
    maintenance contract and the ``fs`` publication protocols
    (posix rename vs object-store committer) per
    :func:`~..operators.dedup.compact_batch_dirs`."""
    from ..operators.dedup import compact_batch_dirs

    return compact_batch_dirs(spark, index_path,
                              (("cells_delta", ["cell"]),), fs=fs)


def make_pq_index_ingest_sink(index_path: str,
                              vec_col: str = "embedding",
                              assume_unique_ids: bool = False):
    """foreachBatch sink growing a SAVED
    :class:`~..operators.similarity.PQIndex` from a live embedding
    feed — the PQ twin of :func:`make_sq_index_ingest_sink`. Each
    micro-batch is encoded with the index's FROZEN codebooks
    (``similarity._pq_encode`` — the one definition train/append
    share) and lands as a batch-stamped delta
    ``codes_delta/batch=<id>`` written with OVERWRITE + a done
    marker: exactly-once by idempotence, the standard sink layout
    here. ``PQIndex.load`` folds base + deltas; run
    :func:`compact_pq_index` from the maintenance job. The body IS
    :func:`~..operators.similarity.pq_index_append` with the
    stream's batch id — one choreography (marker short-circuit,
    empty-batch guard, overwrite-then-marker) for batch and
    streaming growth. ``assume_unique_ids=True`` skips the
    per-batch duplicate-id collapse (a window shuffle) for streams
    whose upstream already keys micro-batches uniquely — the hot
    path then pays encode + one write."""
    from ..operators.similarity import pq_index_append

    def sink(batch_df, batch_id: int):
        pq_index_append(batch_df.sparkSession, index_path,
                        batch_df, vec_col, batch_id=batch_id,
                        assume_unique_ids=assume_unique_ids)

    return sink


def stream_pq_index_ingest(stream_df, index_path: str,
                           vec_col: str = "embedding",
                           checkpoint: str | None = None,
                           available_now: bool = False,
                           assume_unique_ids: bool = False):
    """Start the PQIndex ingest stream (see
    :func:`make_pq_index_ingest_sink`). ``available_now`` processes
    everything currently available then terminates (backfills,
    tests). Returns the StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        make_pq_index_ingest_sink(index_path, vec_col,
                                  assume_unique_ids)) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_pq_index(spark, index_path: str,
                     fs: str = "posix") -> dict:
    """Fold the PQ index's ``codes_delta/batch=<id>`` dirs into one
    negative-id delta base — same idempotent-merge fold and
    contracts as :func:`compact_sq_index` (protocols in
    :func:`~..operators.dedup.compact_batch_dirs`); the base
    ``codes`` dir is never touched."""
    from ..operators.dedup import compact_batch_dirs

    return compact_batch_dirs(spark, index_path,
                              (("codes_delta", []),), fs=fs)


def make_ann_query_sink(index_path: str, out_path: str,
                        k: int = 10, nprobe: int = 2,
                        rerank: int = 4, qid_col: str = "qid",
                        vec_col: str = "embedding"):
    """foreachBatch sink answering a STREAM of query vectors against
    the saved :class:`~..operators.similarity.SQIndex` — the online
    half of the serving story (the ingest sink grows the index; this
    one queries it). Per micro-batch: ``SQIndex.load`` (metadata +
    lazy scans — the probe filter still prunes cell directories) →
    :meth:`SQIndex.knn_join` over the whole batch at once (one
    cell-keyed join for ALL queries in the batch, not a loop) →
    results land in ``batch=<id>``-stamped dirs with OVERWRITE +
    a done-marker, so redelivery replaces partial output
    (exactly-once by idempotence, the standard sink layout here).
    Queries arriving between an ingest batch and its read simply see
    the index as of their own batch — the expected serving
    semantics."""
    from ..operators.similarity import SQIndex

    def sink(batch_df, batch_id: int):
        marker = os.path.join(out_path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        # empty-batch guard (the sink-choreography rule): a 0-row
        # micro-batch writes NOTHING — a part-file-less batch dir
        # breaks parquet schema inference on the consumer's read —
        # and still publishes its marker so redelivery is a no-op
        if batch_df.isEmpty():
            _touch_marker(marker)
            return
        idx = SQIndex.load(batch_df.sparkSession, index_path)
        res = idx.knn_join(batch_df, k=k, nprobe=nprobe,
                           rerank=rerank, qid_col=qid_col,
                           vec_col=vec_col)
        res.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}"))
        _touch_marker(marker)

    return sink


def _touch_marker(marker: str) -> None:
    """Publish a done marker atomically for the query sinks — ONE
    implementation of the exists-means-complete publish
    (similarity's temp+fsync+os.replace), so a future hardening
    fix lands in one place. The query sinks only test existence;
    the recorded count (0) is what ``_read_batch_marker`` maps any
    content-less legacy marker to anyway. The out dir may not
    exist yet — an EMPTY first micro-batch writes no parquet (the
    write is what normally creates it) but still publishes its
    marker."""
    from ..operators.similarity import _write_batch_marker

    os.makedirs(os.path.dirname(marker) or ".", exist_ok=True)
    _write_batch_marker(marker, 0)


def make_bloom_novelty_sink(bloom_path: str, accepted_path: str,
                            rejected_path: str | None = None,
                            min_novel_ppm: int = 200_000,
                            n: int = 3, m_bits: int = 1 << 20,
                            k: int = 4, text_col: str = "text",
                            id_col: str = "doc_id"):
    """foreachBatch sink gating a document stream on n-gram
    NOVELTY against a persisted Bloom of everything accepted so
    far — the crawl-side freshness filter: a feed dominated by
    re-crawls of known content is cut to the docs that actually
    add shingles, and the filter state for an unbounded history is
    ~m/8 bytes of bits (:func:`~..operators.sketches.bloom_bits`),
    not a shingle set. The Bloom's error direction is the SAFE one
    for this gate: false positives only make docs look LESS novel,
    so nothing truly stale ever sneaks through — a genuinely novel
    doc can only be over-rejected at the standard FP rate.

    Per micro-batch: (1) in-batch exact dedup (keep-first by id,
    the dedup-ingest rule); (2) score survivors with
    :func:`~..operators.dedup.bloom_novelty` against the bits
    accumulated so far — EXCLUDING this batch's own delta, so a
    redelivered batch whose crashed first attempt already wrote
    its bits can never score itself fully-seen (the self-match
    window every ingest sink here handles); (3) verdict in INTEGER
    cross-multiplication — ``n_novel·1_000_000 ≥
    min_novel_ppm·n_ngrams`` with ``n_novel = n_ngrams − n_seen``;
    a doc absent from the score frame (no shingle rows at all)
    fails closed into rejected with (0, 0), and NULL/empty text
    maps to the single empty-string shingle (``shingles``'s
    contract), so the first such doc is genuinely novel and every
    later one rejects — accepted ∪ rejected always PARTITIONS the
    batch; (4) accepted/rejected docs land ``batch=<id>``-stamped
    with OVERWRITE (an empty side REMOVES its stale dir — replace
    semantics even when a redelivery's verdict flips), the
    accepted docs' shingle bits land ``bits/batch=<id>`` the same
    way, and ONE final atomic marker makes the whole batch
    idempotent — exactly-once by redelivery-replaces.
    ``compact_bloom`` folds the accumulated bit deltas (distinct —
    a re-folded leftover cannot add anything), same crash
    contracts as every compactor (:func:`~..operators.dedup
    .compact_batch_dirs`)."""
    from ..operators.dedup import bloom_novelty, shingles
    from ..operators.sketches import bloom_bits

    def sink(batch_df: DataFrame, batch_id: int):
        import shutil

        marker = os.path.join(accepted_path,
                              f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        if batch_df.isEmpty():
            os.makedirs(accepted_path, exist_ok=True)
            _touch_marker(marker)
            return
        spark = batch_df.sparkSession
        # 1. in-batch exact dedup, keep the smallest id per text
        batch = _in_batch_exact_dedup(batch_df,
                                      D._exact_fp(text_col), id_col)
        # 2. novelty vs the accumulated bits — EXCLUDING this
        # batch's own delta: a redelivered batch whose first
        # attempt crashed after the bits write but before the
        # marker would otherwise score itself fully-seen and flip
        # its own docs to rejected (the self-match window every
        # ingest sink here must handle). No bits yet -> probe an
        # empty relation through the SAME scoring path.
        bdir = os.path.join(bloom_path, "bits")
        if _has_parquet(bdir):
            bits = spark.read.parquet(bdir).where(
                F.col("batch") != int(batch_id))
        else:
            bits = spark.range(0).select(
                F.col("id").alias("bit"))
        scores = bloom_novelty(batch, bits, n=n, m_bits=m_bits,
                               k=k, text_col=text_col,
                               id_col=id_col)
        novel = F.col("n_ngrams") - F.col("n_seen")
        verdict = scores.select(
            F.col("doc_id").alias(id_col), "n_ngrams", "n_seen",
            ((F.col("n_ngrams") > 0)
             & (novel * F.lit(1_000_000)
                >= F.lit(int(min_novel_ppm)) * F.col("n_ngrams")))
            .alias("_keep"))
        # accepted ∪ rejected must PARTITION the batch: a NULL-text
        # doc has no shingle rows (shingles(NULL) is NULL), so it
        # is absent from `scores` — the left join lands it in
        # rejected with (0, 0), never silently dropped
        judged = (batch.join(verdict, id_col, "left")
                  .withColumn("_keep", F.coalesce(
                      F.col("_keep"), F.lit(False)))
                  .withColumn("n_ngrams", F.coalesce(
                      F.col("n_ngrams"), F.lit(0)).cast("long"))
                  .withColumn("n_seen", F.coalesce(
                      F.col("n_seen"), F.lit(0)).cast("long")))
        judged, j_ids = tracked_local_checkpoint(judged,
                                                 eager=False)
        # 3. batch-stamped idempotent writes; bits delta last, one
        # marker for the whole batch. Replace-semantics also for
        # an EMPTY side: a redelivery that accepts (or rejects)
        # nothing REMOVES the crashed attempt's stale dir instead
        # of leaving it beside the other verdict (a file-less dir
        # would break schema inference, so empty = absent).
        def land(df, path):
            if df.limit(1).count():
                df.write.mode("overwrite").parquet(path)
                return True
            shutil.rmtree(path, ignore_errors=True)
            return False

        if rejected_path is not None:
            land(judged.where(~F.col("_keep"))
                 .drop("_keep"),
                 os.path.join(rejected_path, f"batch={batch_id}"))
        accepted = judged.where(F.col("_keep")) \
            .drop("_keep", "n_ngrams", "n_seen")
        if land(accepted,
                os.path.join(accepted_path, "docs",
                             f"batch={batch_id}")):
            (bloom_bits(accepted.select(
                F.explode(shingles(text_col, n)).alias("s")),
                [], "s", m_bits=m_bits, k=k)
             .write.mode("overwrite")
             .parquet(os.path.join(bdir, f"batch={batch_id}")))
        else:
            shutil.rmtree(os.path.join(bdir, f"batch={batch_id}"),
                          ignore_errors=True)
        os.makedirs(accepted_path, exist_ok=True)
        _touch_marker(marker)
        release_local_checkpoint(judged, j_ids)

    return sink


def compact_bloom(spark, bloom_path: str, fs: str = "posix",
                  accepted_path: str | None = None) -> dict:
    """Fold the novelty gate's accumulated ``bits/batch=<id>``
    deltas into one negative-id base — bits are a SET, so the fold
    is drop-batch + DISTINCT and a re-folded leftover cannot add
    anything (the idempotent-merge crash argument and the posix/
    committer publication protocols of
    :func:`~..operators.dedup.compact_batch_dirs`).

    ``accepted_path`` (the sink's marker directory) makes the fold
    CRASH-BATCH AWARE: a positive-id delta with no
    ``_batch-<id>.done`` marker belongs to a crashed attempt whose
    batch may still be redelivered — its bits must stay in their
    own ``batch=<id>`` dir so the redelivery's
    ``batch != batch_id`` self-exclusion still sees them as ITS
    OWN. Folding them into the negative-id base would make the
    redelivered batch score its own shingles as already-seen and
    permanently reject genuinely novel docs (their bits are set,
    the docs land only in rejected). Without ``accepted_path`` the
    caller must guarantee no pending/crashed batch exists when
    compaction runs (the single-writer maintenance contract)."""
    from ..operators.dedup import compact_batch_dirs

    pending = None
    if accepted_path is not None:
        bdir = os.path.join(bloom_path, "bits")
        pending = set()
        if os.path.isdir(bdir):
            for d in os.listdir(bdir):
                if not d.startswith("batch="):
                    continue
                bid = d.split("=")[1]
                if bid.isdigit() and not os.path.exists(
                        os.path.join(accepted_path,
                                     f"_batch-{bid}.done")):
                    pending.add(int(bid))
    return compact_batch_dirs(spark, bloom_path, (("bits", []),),
                              fs=fs, skip_batch_ids=pending)


def make_pq_query_sink(index_path: str, out_path: str,
                       k: int = 10, qid_col: str = "qid",
                       vec_col: str = "embedding",
                       emb_path: str | None = None,
                       shortlist: int = 200):
    """foreachBatch sink answering a STREAM of query vectors
    against the saved :class:`~..operators.similarity.PQIndex` —
    the PQ twin of :func:`make_ann_query_sink`, completing the PQ
    serving story (ingest sink grows the codes, this one queries
    them). Per micro-batch: ``PQIndex.load`` (codebooks + the lazy
    m-byte codes scan, deltas folded) →
    :meth:`PQIndex.knn_join` over the whole batch at once (ADC
    tables broadcast, one codes scan for ALL queries in the
    batch) → ``batch=<id>``-stamped OVERWRITE + done marker
    (exactly-once by idempotence, the standard layout).
    ``emb_path`` (a parquet of the source vectors) enables the
    exact re-rank of each query's ADC shortlist — PQ codes are
    lossy, so the index cannot re-rank itself; without it the sink
    serves raw ADC rankings."""
    from ..operators.similarity import PQIndex

    def sink(batch_df, batch_id: int):
        marker = os.path.join(out_path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        # empty-batch guard — same choreography as the SQ sink
        if batch_df.isEmpty():
            _touch_marker(marker)
            return
        spark = batch_df.sparkSession
        idx = PQIndex.load(spark, index_path)
        emb = (spark.read.parquet(emb_path)
               if emb_path is not None else None)
        res = idx.knn_join(batch_df, k=k, qid_col=qid_col,
                           vec_col=vec_col, emb=emb,
                           shortlist=shortlist)
        res.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}"))
        _touch_marker(marker)

    return sink


def stream_pq_ann_queries(stream_df, index_path: str,
                          out_path: str, k: int = 10,
                          qid_col: str = "qid",
                          vec_col: str = "embedding",
                          emb_path: str | None = None,
                          shortlist: int = 200,
                          checkpoint: str | None = None,
                          available_now: bool = False):
    """Start the PQ ANN query-serving stream (see
    :func:`make_pq_query_sink`). ``available_now`` processes
    everything currently available then terminates. Returns the
    StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        make_pq_query_sink(index_path, out_path, k=k,
                           qid_col=qid_col, vec_col=vec_col,
                           emb_path=emb_path,
                           shortlist=shortlist)) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ann_queries(stream_df, index_path: str, out_path: str,
                       k: int = 10, nprobe: int = 2,
                       rerank: int = 4, qid_col: str = "qid",
                       vec_col: str = "embedding",
                       checkpoint: str | None = None,
                       available_now: bool = False):
    """Start the ANN query-serving stream (see
    :func:`make_ann_query_sink`). ``available_now`` processes
    everything currently available then terminates. Returns the
    StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        make_ann_query_sink(index_path, out_path, k=k,
                            nprobe=nprobe, rerank=rerank,
                            qid_col=qid_col, vec_col=vec_col)) \
        .outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_sq_drift_sink(index_path: str, out_path: str,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id"):
    """foreachBatch sink writing a quantizer-drift snapshot
    (:func:`~..operators.similarity.sq_index_drift`) for every
    micro-batch of embeddings — the continuous form of the retrain
    signal: each batch's per-cell balance ppm and base-vs-delta
    mean centroid cosine land in ``batch=<id>``-stamped dirs with
    OVERWRITE + a done-marker (the standard exactly-once layout),
    so the maintenance job reads a time series of drift reports
    and triggers the rebuild when the trend crosses its threshold
    — no full-corpus comparison job needed."""
    from ..operators.similarity import (
        sq_index_base_stats,
        sq_index_drift,
    )

    # the base side of the report is invariant for a frozen index:
    # compute its |cells|-bounded stats ONCE here instead of
    # rescanning the whole index every micro-batch (rebuild the
    # sink after an append/rebuild rotates the snapshot)
    cached_base = {}

    def sink(batch_df, batch_id: int):
        marker = os.path.join(out_path,
                              f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        if "stats" not in cached_base:
            cached_base["stats"] = sq_index_base_stats(
                batch_df.sparkSession, index_path, vec_col,
                id_col)
        rep = sq_index_drift(batch_df.sparkSession, index_path,
                             batch_df, vec_col, id_col,
                             base_stats=cached_base["stats"])
        rep.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}"))
        with open(marker, "w") as fh:
            fh.write("done\n")

    return sink


def stream_sq_index_drift(stream_df, index_path: str,
                          out_path: str,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          checkpoint: str | None = None,
                          available_now: bool = False):
    """Start the drift-snapshot stream (see
    :func:`make_sq_drift_sink`). ``available_now`` processes
    everything currently available then terminates. Returns the
    StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(
        make_sq_drift_sink(index_path, out_path, vec_col,
                           id_col)).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
