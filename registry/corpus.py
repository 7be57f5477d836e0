"""Corpus statistics, retrieval evaluation (``eval_``) and
file-format round trips (``io_``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from siridb_server_spark.localdf import arrow_df
from siridb_server_spark.operators import curation as CU
from siridb_server_spark.operators import text as TX
from siridb_server_spark.sources.testdata import load

from registry import Family
from registry._common import _QSZ, _QTERM

R = Family("corpus")

# TFRecord round-trip: the oracle reads the SAME rows straight
# from parquet — equality proves the export→CRC→proto→read chain
# reproduced every record exactly
_IO_TFRECORD_ROUNDTRIP_SQL = (
    "SELECT doc_id,"
    " CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,"
    " coalesce(source, '') AS source FROM documents"
)


@R.entry("io_tfrecord_roundtrip", _IO_TFRECORD_ROUNDTRIP_SQL)
def io_tfrecord_roundtrip(spark, sf_dir):
    """TFRecord sink + source (sources/tfrecord.py — framing,
    CRC-32C masks, and tf.train.Example protos all implemented
    from the public wire format, no tensorflow): export the
    documents table to deterministic shards, read every record
    back through the binaryFile + Arrow decode path with FULL
    data-CRC verification, and hand the oracle the row-level
    contract — every (doc_id, n_chars, source) must match what
    DuckDB reads from the parquet directly. A single corrupted
    varint, mis-sliced record, or CRC bug anywhere in the
    round-trip flips the hash."""
    import hashlib
    import tempfile

    from siridb_server_spark.sources import tfrecord as TFR

    # stable per-corpus dir (NOT a fresh tempdir): the returned
    # DataFrame reads these files lazily, so they must outlive
    # this call; the deterministic exporter makes re-runs
    # byte-identical overwrites, so steady-state disk is one copy
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = f"{tempfile.gettempdir()}/sparksiri-tfr-{tag}"
    TFR.export_tfrecord_documents(
        load(spark, sf_dir, "documents"), tmp,
        n_shards=8).collect()       # materialize the export
    back = TFR.read_tfrecord_documents(spark, tmp,
                                       verify_data=True)
    return back.select("doc_id",
                       F.length("text").cast("long")
                       .alias("n_chars"),
                       "source")


@R.entry("io_arrowipc_roundtrip", _IO_TFRECORD_ROUNDTRIP_SQL)
def io_arrowipc_roundtrip(spark, sf_dir):
    """Arrow IPC (Feather v2) sink + source
    (sources/arrowipc.py): the zero-copy columnar container
    training loaders mmap directly. Export is one hash shuffle
    on a deterministic md5 shard key (byte-identical re-runs,
    sha256 manifest); read is binaryFile + mapInPandas, no
    shuffle. The oracle checks the roundtrip against the raw
    table — any mis-sliced batch, dropped row, or mangled
    string flips the hash."""
    import hashlib
    import tempfile

    from siridb_server_spark.sources import arrowipc as AI

    # stable per-corpus dir (same rationale as the tfrecord
    # entry: lazy readers must outlive this call; deterministic
    # export makes re-runs byte-identical overwrites)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = f"{tempfile.gettempdir()}/sparksiri-ipc-{tag}"
    AI.export_arrow_documents(
        load(spark, sf_dir, "documents"), tmp,
        n_shards=8).collect()
    back = AI.read_arrow_documents(spark, tmp)
    return back.select("doc_id",
                       F.length("text").cast("long")
                       .alias("n_chars"),
                       "source")


# skew report: exact counts + integer ppm shares, ties to key
@R.entry("corpus_skew_report", (
    "WITH c AS (SELECT event_type || '|' ||"
    " CAST(user_id AS VARCHAR) AS key, count(*) AS n"
    " FROM events GROUP BY 1),"
    " t AS (SELECT sum(n) AS t FROM c)"
    " SELECT key, CAST(n AS BIGINT) AS n,"
    " CAST(t.t AS BIGINT) AS total,"
    " CAST(n * 1000000 // t.t AS BIGINT) AS share_ppm"
    " FROM c, t ORDER BY n DESC, key LIMIT 10"))
def corpus_skew_report(spark, sf_dir):
    """Join-key skew diagnostics (operators/curation.py
    skew_report): the 10 heaviest event_type|user_id series
    keys with exact row counts and ppm shares — the pre-join
    check that decides salting/capping/broadcast at scale.
    NULL keys surface as their own row (F.concat, not
    concat_ws: it propagates NULL like the oracle's ||, so a
    NULL user_id lands in the NULL-key row on BOTH engines)."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(F.concat(
        F.col("event_type"), F.lit("|"),
        F.col("user_id").cast("string")).alias("series"))
    return CU.skew_report(keyed, "series")


# data card: scalar subqueries over the same proven fragments
# (whitespace tokens, md5 dup groups, the z_micro gate via the
# _QSZ/_QTERM helpers used by text_quality_score)
@R.entry("corpus_datacard", (
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
    f" z AS (SELECT doc_id, {_QSZ} AS zv FROM f),"
    " d AS (SELECT md5(text) AS h, count(*) AS c"
    " FROM documents WHERE text IS NOT NULL GROUP BY 1)"
    " SELECT CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(sum(CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0"
    " END) AS BIGINT) AS n_nonempty,"
    " CAST(count(DISTINCT source) AS BIGINT) AS n_sources,"
    " CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,"
    " CAST(sum(length(text)) AS BIGINT) AS total_chars,"
    " CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
    " len(string_split_regex(trim(text), '\\s+')) END)"
    " AS BIGINT) AS total_tokens,"
    " CAST((SELECT coalesce(sum(CASE WHEN c > 1 THEN c END), 0)"
    " FROM d) AS BIGINT) AS dup_docs,"
    f" CAST((SELECT sum(CASE WHEN {_QTERM('zv')} >= 0"
    " THEN 1 ELSE 0 END) FROM z) AS BIGINT) AS quality_keep"
    " FROM documents"))
def corpus_datacard(spark, sf_dir):
    """One-row corpus data card — the summary panel a training
    run records next to its data snapshot: sizes, source/lang
    diversity, exact-dup volume, quality keep count. Pure
    composition of existing contracts (counts, whitespace
    tokens, md5 exact-dup groups, the z_micro quality gate),
    all exact integers; three bounded aggregates crossJoined
    into the single row."""
    docs = load(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.length(F.trim("text")) > 0, 1)
              .otherwise(0)).alias("n_nonempty"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.length("text")).cast("long")
        .alias("total_chars"),
        F.sum(TX.token_count(F.col("text")))
        .cast("long").alias("total_tokens"))
    dup = (docs.where(F.col("text").isNotNull())
           .groupBy(F.md5("text").alias("h"))
           .agg(F.count(F.lit(1)).alias("c"))
           .agg(F.coalesce(F.sum(F.when(F.col("c") > 1,
                                        F.col("c"))),
                           F.lit(0)).cast("long")
                .alias("dup_docs")))
    keep = (TX.quality_score_linear(docs)
            .agg(F.sum(F.when(F.col("z_micro") >= 0, 1)
                       .otherwise(0)).cast("long")
                 .alias("quality_keep")))
    return base.crossJoin(F.broadcast(dup)) \
        .crossJoin(F.broadcast(keep))


# content ids: the same md5(salt || NUL || text) 60-bit
# truncation in SQL
@R.entry("corpus_assign_ids", (
    "SELECT doc_id,"
    " CAST(('0x' || substr(md5(coalesce(CAST(source AS VARCHAR),"
    " '') || chr(0) || coalesce(text, '')), 1, 15)) AS BIGINT)"
    " AS content_id FROM documents"))
def corpus_assign_ids(spark, sf_dir):
    """Deterministic content ids for a raw corpus
    (operators/curation.py assign_content_ids): 60-bit md5 of
    (source ‖ NUL ‖ text), row-local and reproducible across
    runs/partitionings — what every downstream dedup/sketch
    operator keys on when the crawl has no id. Hashed contract:
    the full (doc_id → content_id) mapping plus the collision
    count (exact duplicates share ids BY DESIGN; distinct-text
    collisions are birthday-bounded and audited separately)."""
    docs = load(spark, sf_dir, "documents")
    return (CU.assign_content_ids(docs)
            .select("doc_id", "content_id"))


# retrieval eval: full SQL mirror — tf ranking with identical
# tie-break, containment qrels, and the same integer metrics
@R.entry("eval_retrieval_metrics", (
    "WITH q AS (SELECT unnest(['hash', 'join', 'model',"
    " 'data', 'spark']) AS query),"
    " w AS (SELECT doc_id,"
    " unnest(string_split_regex(lower(text), '[^a-z0-9'']+'))"
    " AS w FROM documents),"
    " tf AS (SELECT query, doc_id, count(*) AS tf FROM w"
    " JOIN q ON w = query GROUP BY 1, 2),"
    " run AS (SELECT query, doc_id, rank FROM ("
    " SELECT query, doc_id, row_number() OVER ("
    " PARTITION BY query ORDER BY tf DESC, doc_id) AS rank"
    " FROM tf) WHERE rank <= 10),"
    " qrels AS (SELECT DISTINCT query, doc_id FROM w"
    " JOIN q ON w = query),"
    " nrel AS (SELECT query, count(*) AS n_rel FROM qrels"
    " GROUP BY 1),"
    " hit AS (SELECT run.query, count(*) AS hits_at_k,"
    " min(rank) AS first_rank FROM run JOIN qrels"
    " ON run.query = qrels.query AND run.doc_id = qrels.doc_id"
    " GROUP BY 1)"
    " SELECT nrel.query, CAST(n_rel AS BIGINT) AS n_rel,"
    " CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,"
    " CAST(coalesce(2520 / first_rank, 0) AS BIGINT)"
    " AS rr_x2520"
    " FROM nrel LEFT JOIN hit ON nrel.query = hit.query"))
def eval_retrieval_metrics(spark, sf_dir):
    """Retrieval-evaluation machinery (operators/text.py
    retrieval_metrics) with an END-TO-END cross-engine contract:
    integer term-frequency runs (tf_rank_runs — deterministic
    ties to the smaller id) scored against exact-containment
    qrels, producing per-query n_rel / hits@10 / reciprocal
    rank ×2520 (lcm(1..10), so 1/rank is integral). recall@k,
    precision@k and MRR replay from these integers; the same
    metrics over the float bm25 ranking are pytest-verified
    (tests/test_retrieval_eval.py)."""
    docs = load(spark, sf_dir, "documents")
    terms = ["hash", "join", "model", "data", "spark"]
    # one tokenize pass for run AND qrels (a term is relevant
    # iff its tf row exists — same split regex defines both);
    # row-identical to the two-operator shape, which paid a
    # second corpus tokenize plus an array_contains BNLJ
    run, qrels = TX.tf_rank_runs_with_qrels(docs, terms, k=10)
    return TX.retrieval_metrics(run, qrels, k=10)


@R.entry("corpus_sketch_stats", (
    "SELECT 'hll_within_3rsd' AS prop, CAST(1 AS BIGINT) AS n"
    " UNION ALL SELECT 'quantiles_within_2pct', 1"))
def corpus_sketch_stats(spark, sf_dir):
    """Sketch-based corpus statistics — at 100 TB exact distinct
    counts and exact quantiles need corpus-sized shuffles, so the
    serving path is HLL++ (approx_count_distinct) and KLL-style
    quantiles (percentile_approx), both mergeable map-side
    sketches. Property rows pin them to the exact answers at this
    scale: relative HLL error within 3×rsd, approx quantiles
    within one exact-rank neighborhood."""
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(F.split(F.lower("text"),
                                          "[^a-z]+")).alias("t"))
            .where(F.col("t") != ""))
    ex = toks.agg(F.count_distinct("t").alias("x")).first()["x"]
    ap = toks.agg(F.approx_count_distinct("t", rsd=0.02)
                  .alias("x")).first()["x"]
    hll_ok = 1 if abs(ap - ex) <= max(1, int(0.06 * ex)) else 0
    lens = docs.select(F.length("text").alias("n"))
    exact = lens.agg(
        F.expr("percentile(n, array(0.5, 0.9, 0.99))")
        .alias("p")).first()["p"]
    approx = lens.agg(
        F.percentile_approx("n", [0.5, 0.9, 0.99], 10000)
        .alias("p")).first()["p"]
    q_ok = 1 if all(
        abs(a - e) <= max(2.0, 0.02 * e)
        for a, e in zip(approx, exact)) else 0
    return arrow_df(
        spark, [("hll_within_3rsd", hll_ok),
                ("quantiles_within_2pct", q_ok)],
        "prop string, n long")


# pre-training integrity gate: exact counts, one aggregate or
# anti-join each; a green snapshot is all zeros + the row counts
@R.entry("corpus_integrity", (
    "SELECT 'n_docs' AS \"check\","
    " CAST(count(*) AS BIGINT) AS n FROM documents"
    " UNION ALL SELECT 'n_embeddings',"
    " CAST(count(*) AS BIGINT) FROM embeddings"
    " UNION ALL SELECT 'dup_doc_ids', CAST((SELECT count(*)"
    " FROM (SELECT doc_id FROM documents GROUP BY 1"
    " HAVING count(*) > 1)) AS BIGINT)"
    " UNION ALL SELECT 'dup_vec_ids', CAST((SELECT count(*)"
    " FROM (SELECT vec_id FROM embeddings GROUP BY 1"
    " HAVING count(*) > 1)) AS BIGINT)"
    # NOT EXISTS, not NOT IN: the Spark side counts via a
    # left_anti join, and NOT IN returns ZERO rows whenever the
    # subquery yields a NULL — the two engines would diverge
    # exactly on the malformed (NULL-id) data this gate exists
    # to catch. NOT EXISTS has anti-join NULL semantics.
    " UNION ALL SELECT 'docs_without_embedding',"
    " CAST((SELECT count(*) FROM documents d WHERE NOT EXISTS"
    " (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))"
    " AS BIGINT)"
    " UNION ALL SELECT 'orphan_embeddings',"
    " CAST((SELECT count(*) FROM embeddings e WHERE NOT EXISTS"
    " (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))"
    " AS BIGINT)"
    " UNION ALL SELECT 'malformed_vectors',"
    " CAST((SELECT count(*) FROM embeddings"
    " WHERE len(embedding) <> 64 OR len(list_filter(embedding,"
    " x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) > 0)"
    " AS BIGINT)"
    " UNION ALL SELECT 'empty_texts',"
    " CAST((SELECT count(*) FROM documents"
    " WHERE length(trim(text)) = 0) AS BIGINT)"))
def corpus_integrity(spark, sf_dir):
    """Pre-training data-integrity gate: the checks a pipeline
    runs before pointing a trainer at a corpus snapshot —
    duplicate ids on either table, docs without an embedding,
    orphan embeddings, malformed vectors (wrong dimension /
    non-finite components), and empty texts. Every check is an
    exact count from one aggregate or one anti-join; the
    id-match joins are the bucketed-table shape
    (sources/bucketed.py) when both sides are fact-sized.
    Output: (check, n) — a green snapshot is all zeros except
    the row counts."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    did = docs.select(F.col("doc_id").alias("id"))
    vid = emb.select(F.col("vec_id").alias("id"))

    def cnt(name, df):
        return df.agg(F.lit(name).alias("check"),
                      F.count(F.lit(1)).cast("long").alias("n"))

    dup_docs = (did.groupBy("id")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1))
    dup_vecs = (vid.groupBy("id")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1))
    no_emb = did.join(vid, "id", "left_anti")
    orphan = vid.join(did, "id", "left_anti")
    bad_vec = emb.where(
        (F.size("embedding") != 64)
        | F.exists(F.transform("embedding",
                               lambda x: x.cast("double")),
                   lambda x: x.isNull() | F.isnan(x)))
    empty = docs.where(F.length(F.trim("text")) == 0)
    return (cnt("n_docs", docs)
            .unionByName(cnt("n_embeddings", emb))
            .unionByName(cnt("dup_doc_ids", dup_docs))
            .unionByName(cnt("dup_vec_ids", dup_vecs))
            .unionByName(cnt("docs_without_embedding", no_emb))
            .unionByName(cnt("orphan_embeddings", orphan))
            .unionByName(cnt("malformed_vectors", bad_vec))
            .unionByName(cnt("empty_texts", empty)))
