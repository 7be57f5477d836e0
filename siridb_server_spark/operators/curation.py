"""Corpus-curation operators: deterministic source-temperature
sampling and sequence packing for training-data pipelines.

Both are pure DataFrame algebra. Sampling uses a portable md5-derived
uniform so the DuckDB oracle can replay the exact same keep/drop
decisions; packing is a per-group window cumulative sum (one shuffle
on the group key, no global sort) — the canonical 100 TB shapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stable import scaled_term, stable_dsum
from .text import token_count

#: 2**32 — the md5-prefix hash space
_HASH_SPACE = 4294967296.0

# order-insensitive double sum — see functions/stable.py for why
_stable_dsum = stable_dsum


def uniform01(col: Column) -> Column:
    """Deterministic uniform in [0, 1) from any key column: first 8
    hex digits of md5, as an unsigned 32-bit fraction. Exactly
    reproducible in ANSI SQL (``('0x' || substr(md5(x),1,8))::BIGINT /
    4294967296.0``), which is what makes sampling decisions
    oracle-checkable and re-runs of a pipeline stable — unlike
    ``F.rand`` whose draws depend on partitioning."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long") / F.lit(_HASH_SPACE))


def assign_splits(df: DataFrame,
                  fracs: tuple[float, float] = (0.9, 0.05),
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/validation/test assignment: each row lands
    in a split by where ``uniform01(id)`` falls in the cumulative
    fraction ladder — train below ``fracs[0]``, validation below
    ``fracs[0]+fracs[1]``, test otherwise. Pure row-local map (zero
    shuffles, fuses into the scan), stable across re-runs and across
    engines — the property that matters when the split must never
    leak between pipeline versions. Output: (id, split)."""
    u = uniform01(F.col(id_col))
    split = (F.when(u < F.lit(fracs[0]), "train")
             .when(u < F.lit(fracs[0] + fracs[1]), "validation")
             .otherwise("test"))
    return df.select(F.col(id_col), split.alias("split"))


def sample_by_source(df: DataFrame, alpha: float = 0.5,
                     target_frac: float = 0.5,
                     id_col: str = "doc_id",
                     source_col: str = "source") -> DataFrame:
    """Temperature-weighted stratified sampling: keep each source with
    rate ∝ count^alpha (alpha<1 flattens the source distribution, the
    standard multilingual/multi-source rebalancing), scaled so the
    expected total is ``target_frac`` of the corpus, capped at 1.

    Plan shape: one small per-source count aggregate (|sources| rows),
    a broadcast of the 1-row totals onto it, and a broadcast join of
    the per-source rate back onto the corpus — the big table is
    touched once, map-side only. The keep decision is
    ``uniform01(id) < rate``: row-local, deterministic, replayable.

    Engine-portability: with the default ``alpha=0.5`` the
    temperature term is ``sqrt`` — an IEEE-754 CORRECTLY-ROUNDED
    operation on every engine (unlike ``pow``, which libms round
    differently) — and the rate is a chain of +,×,/ over
    integer-derived doubles, so both engines compute bit-identical
    doubles and the quantized ``keep_rate_ppm`` (and with it row
    membership) can never diverge (ARCHITECTURE.md "Hashed oracle
    contract policy"). Non-0.5 alphas fall back to ``pow`` and must
    not be hashed."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_s"))
    pw = F.sqrt(F.col("n_s")) if alpha == 0.5 \
        else F.pow(F.col("n_s"), F.lit(alpha))
    pw_q = F.floor(pw * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    counts = counts.withColumn("pw_q", pw_q)
    totals = counts.agg(F.sum("n_s").alias("n_tot"),
                        F.sum("pw_q").alias("w_tot_q"))
    # rate = (pw_q/w_tot_q)·target_frac / (n_s/n_tot), quantized to
    # ppm — every step a correctly-rounded IEEE double op on exact
    # integer inputs, so the quantization is engine-identical
    rate = (F.col("pw_q").cast("double")
            / F.col("w_tot_q").cast("double")
            * F.lit(float(target_frac))
            / (F.col("n_s").cast("double")
               / F.col("n_tot").cast("double")))
    rate_ppm = F.least(F.lit(1000000).cast("long"),
                       scaled_term(rate))
    rates = (counts.crossJoin(F.broadcast(totals))
             .select(source_col, rate_ppm.alias("keep_rate_ppm")))
    return (df.join(F.broadcast(rates), source_col)
            .where(uniform01(F.col(id_col)) * F.lit(1000000.0)
                   < F.col("keep_rate_ppm"))
            .select(id_col, source_col, "keep_rate_ppm"))


def pack_sequences(df: DataFrame, budget: int = 256,
                   text_col: str = "text", id_col: str = "doc_id",
                   group_col: str = "source") -> DataFrame:
    """Concat-and-chunk sequence packing: within each group (source),
    documents are laid out in id order and split into fixed
    ``budget``-token training sequences; a document starting at global
    token offset ``start`` lands in sequence ``start // budget`` at
    offset ``start % budget`` (documents may span a boundary, as in
    standard LM pretraining packing).

    One window cumulative sum partitioned by the group key — a single
    hash shuffle, no global ordering, so packing parallelizes across
    sources/shards at any scale. Integer math throughout (exact)."""
    n = token_count(F.col(text_col))
    w = (Window.partitionBy(group_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (df.select(id_col, group_col, n.alias("n_tokens"))
            .select(
                id_col, group_col, "n_tokens",
                F.floor(start / budget).cast("long").alias("seq_id"),
                (start % budget).cast("long").alias("seq_offset")))


def token_budget_select(df: DataFrame, budget_tokens: int,
                        score_col: str, token_col: str,
                        id_col: str = "doc_id") -> DataFrame:
    """Greedy score-ordered document selection under a TOKEN
    budget — the step that turns per-doc quality scores into an
    actual training set: walk docs in (score desc, id asc) order
    and keep each one whose cumulative token count (itself
    included) still fits ``budget_tokens``. TRUNCATION semantics:
    once the running total passes the budget nothing later is
    pulled in (no first-fit backfill) — deterministic under any
    partitioning, and the contract cross-engine SQL can replay
    with one window.

    Spark shape — a DISTRIBUTED exact prefix sum, because the
    naive global-window cumsum serializes the whole corpus through
    ONE partition: (1) per-score token totals (one groupBy);
    (2) the cumulative offset BEFORE each score runs over the
    per-score frame — |distinct scores| rows through one window,
    tiny for the quantized integer scores this repo's contracts
    produce, never |docs|; (3) the intra-score cumsum is a window
    PARTITIONED BY score (parallel across scores; a hot score is
    ordinary window skew). cum_tokens = offset + intra.

    Rows with a NULL score or NULL/negative tokens are EXCLUDED
    up front (they have no place in the order — filter earlier if
    you need them attributed). Output: (id, score, tokens,
    cum_tokens, selected), one row per surviving input doc."""
    d = (df.select(F.col(id_col),
                   F.col(score_col).alias("score"),
                   F.col(token_col).cast("long").alias("n_tokens"))
         .where(F.col("score").isNotNull()
                & F.col("n_tokens").isNotNull()
                & (F.col("n_tokens") >= 0)))
    per_score = d.groupBy("score").agg(
        F.sum("n_tokens").alias("_stot"))
    ws = (Window.orderBy(F.desc("score"))
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_score.select(
        "score",
        F.coalesce(F.sum("_stot").over(ws), F.lit(0))
        .alias("_off"))
    wi = (Window.partitionBy("score").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, 0))
    return (d.join(offsets, "score")
            .withColumn("cum_tokens",
                        (F.col("_off")
                         + F.sum("n_tokens").over(wi))
                        .cast("long"))
            .select(id_col, "score", "n_tokens", "cum_tokens",
                    (F.col("cum_tokens")
                     <= F.lit(int(budget_tokens)))
                    .alias("selected")))


def mix_weights(df: DataFrame, alpha: float = 0.5,
                max_weight: float = 5.0,
                source_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Static data-mixture weights: each source's sampling weight is
    the ratio of its temperature-flattened target share
    (∝ tokens^alpha) to its actual token share, capped at
    ``max_weight`` epochs — the standard recipe for rebalancing a
    web-scale corpus toward under-represented sources without
    repeating any source unboundedly.

    Plan shape: one groupBy on source (map-side partial token sums —
    the only pass over the corpus), then a 1-row totals aggregate
    broadcast back onto the |sources|-row table. Output is
    |sources| rows: (source, n_docs, n_tokens, token_share_ppm,
    target_share_ppm, weight_ppm) — the three ratios as scaled-ppm
    BIGINTs quantized from engine-identical doubles.

    Engine-portability (after four rounds of driver hash-red on the
    ``pow``-seeded variant): with the default ``alpha=0.5`` the
    temperature term is ``sqrt`` — correctly rounded by IEEE-754 on
    every engine, unlike ``pow`` — and every share/weight is a chain
    of +,×,/ over integer-derived doubles (all correctly-rounded,
    deterministic ops), so both engines compute BIT-IDENTICAL
    doubles and the floor-quantized ppm values cannot diverge, with
    no rounding-boundary sensitivity at all (ARCHITECTURE.md "Hashed
    oracle contract policy"). Non-0.5 alphas fall back to ``pow``
    and must not be hashed. Exactness bound: token totals stay exact
    in a double through 2⁵³ ≈ 9·10¹⁵ tokens — beyond any corpus."""
    pw = F.sqrt(F.col("n_tokens")) if alpha == 0.5 \
        else F.pow(F.col("n_tokens"), F.lit(alpha))
    pw_q = F.floor(pw * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    per = (df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"))
        .withColumn("pw_q", pw_q))
    tot = per.agg(F.sum("n_tokens").alias("tok_tot"),
                  F.sum("pw_q").alias("w_tot_q"))
    share_ppm = scaled_term(F.col("n_tokens").cast("double")
                            / F.col("tok_tot").cast("double"))
    target_ppm = scaled_term(F.col("pw_q").cast("double")
                             / F.col("w_tot_q").cast("double"))
    # weight = target share / actual share, capped — the same
    # correctly-rounded double chain, quantized once at the end
    weight_ppm = F.least(
        F.lit(int(max_weight * 1000000)).cast("long"),
        scaled_term((F.col("pw_q").cast("double")
                     / F.col("w_tot_q").cast("double"))
                    / (F.col("n_tokens").cast("double")
                       / F.col("tok_tot").cast("double"))))
    return (per.crossJoin(F.broadcast(tot))
            .select(source_col, "n_docs", "n_tokens",
                    share_ppm.alias("token_share_ppm"),
                    target_ppm.alias("target_share_ppm"),
                    weight_ppm.alias("weight_ppm")))


def dsir_weights(df: DataFrame, is_target: Column, k: float = 0.5,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Importance weights for data selection, DSIR-style (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): fit two smoothed bag-of-words models — one on the
    ``is_target`` subset (the high-quality distribution you want more
    of), one on the rest of the corpus — and score every document by
    its per-token log likelihood ratio. Documents that look like the
    target get positive scores; resampling ∝ exp(score·n) recovers
    the paper's scheme.

    λ_w = ln((c_t(w)+k)/(N_t+k·V)) − ln((c_r(w)+k)/(N_r+k·V)) with
    add-k smoothing over the joint vocabulary V, so unseen-in-target
    words are penalized, never −inf.

    Scale shape: TWO corpus passes total. Pass 1 is one grouped
    count over the token stream carrying both per-word counts as
    conditional sums (map-side partial combine — the shuffle carries
    |vocab| rows, tiny next to the corpus); the totals and the
    vocabulary size then come from that |vocab|-row table, not from
    the corpus. Pass 2 hash-joins the token stream against the λ
    table — AQE broadcasts the λ side whenever the vocabulary fits,
    which at web scale (~10^7 types) it does. Everything else is
    row-local; no Python anywhere.
    Output: (doc_id, n_tokens, sum_nt, sum_nr, dsir) — the integer
    columns are exact sufficient statistics of the tokenizer, the
    two-class count table, and the λ join (Σ of the target-side and
    rest-side corpus counts each token instance joined against);
    they form the hashed cross-engine contract. ``dsir`` (double,
    per-token mean λ in nats) is the user-facing score,
    pytest-verified with tolerance — its ``ln`` terms never sit in a
    hashed column (ARCHITECTURE.md "Hashed oracle contract
    policy")."""
    from .text import words

    ws = F.filter(words(F.lower(F.trim(F.col(text_col)))),
                  lambda x: x != "")
    toks = (df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col).alias("doc_id"),
                    is_target.alias("is_t"),
                    F.explode(ws).alias("w")))
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).alias("n_r"))
    # the |vocab|-row table feeds both the constants and the λ join;
    # both read its one exchange (ReusedExchange), so the corpus-
    # tokenizing pass behind it runs once per action
    consts = counts.agg(
        F.sum("n_t").alias("nt"), F.sum("n_r").alias("nr"),
        F.count(F.lit(1)).alias("v"))
    # keep the float op order fixed — the oracle replays it verbatim
    lam = (F.log((F.col("n_t") + F.lit(k))
                 / (F.col("nt") + F.lit(k) * F.col("v")))
           - F.log((F.col("n_r") + F.lit(k))
                   / (F.col("nr") + F.lit(k) * F.col("v"))))
    lam_tbl = (counts.crossJoin(F.broadcast(consts))
               .select("w", "n_t", "n_r", lam.alias("lam")))
    return (toks.join(lam_tbl, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("n_t").alias("sum_nt"),
                 F.sum("n_r").alias("sum_nr"),
                 F.avg("lam").alias("dsir"))
            .select("doc_id", "n_tokens", "sum_nt", "sum_nr",
                    "dsir"))


def shard_export(df: DataFrame, n_shards: int = 32,
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-shard layout: a portable hash shuffle
    (md5-prefix, same family as ``uniform01``) assigns every document
    a shard and a position within it — the writer-side contract of a
    webdataset/tfrecord export, decoupled from Spark's physical
    partitioning so re-runs and other engines produce byte-identical
    shards.

    Hash-mod sharding gives ±O(√(n/shards)) balance with zero
    coordination; position is a per-shard window row_number — one
    hash shuffle on the shard key, each shard sorts independently,
    no global ordering anywhere. Output: (id, shard, pos)."""
    key = (F.conv(F.substring(
        F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long"))
    w = Window.partitionBy("shard").orderBy("_skey", id_col)
    return (df.select(F.col(id_col), key.alias("_skey"))
            .withColumn("shard", F.pmod(F.col("_skey"),
                                        F.lit(n_shards)).cast("int"))
            .withColumn("pos",
                        (F.row_number().over(w) - 1).cast("long"))
            .select(id_col, "shard", "pos"))


def stratified_sample(df: DataFrame, group_col: str, n_per_group: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sample: the n_per_group rows with
    the smallest md5(id) per group. One window shuffle partitioned
    by group; the hash order is engine-independent (no RNG, no
    partition-order dependence), so eval-set construction is
    reproducible anywhere — the property a train/eval split needs.
    At 100 TB the rank is computed per group partition; heavily
    skewed groups ride AQE, and no driver collect happens."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, id_col)
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= n_per_group)
            .drop("_rk"))


def epoch_plan(df: DataFrame, alpha: float = 0.5,
               max_weight: float = 5.0,
               source_col: str = "source",
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Materialize :func:`mix_weights` into an executable sampling
    plan: every document appears in ``floor(weight)`` full training
    epochs, plus one more with probability ``frac(weight)`` — the
    standard way a weighted mixture becomes a concrete repeat-list
    the data loader can stream (expected per-source token share
    matches the temperature target exactly).

    Determinism end-to-end: the weight is the engine-identical
    integer ``weight_ppm`` from mix_weights (sqrt-seeded,
    correctly-rounded double lineage — no ``pow`` reaches this op),
    the fractional keep replays the md5 uniform keyed on the doc id
    and the source's FULL-epoch count (``doc_id:floor(weight)`` — a
    per-source constant, so re-runs and other engines draw the same
    extra-epoch decisions), and the epoch list is row-local array
    algebra on top of a broadcast |sources|-row join — the corpus is
    touched once, no shuffle beyond mix_weights' own aggregates.
    Output: (doc_id, source, epoch), one row per scheduled
    appearance."""
    from ..functions.stable import int_div

    w = mix_weights(df, alpha=alpha, max_weight=max_weight,
                    source_col=source_col, text_col=text_col) \
        .select(source_col, "weight_ppm")
    full = int_div(F.col("weight_ppm"), F.lit(1000000)).cast("int")
    frac_ppm = F.col("weight_ppm") % F.lit(1000000)
    extra = (uniform01(F.concat_ws(
        ":", F.col(id_col).cast("string"), full.cast("string")))
        * F.lit(1000000.0) < frac_ppm).cast("int")
    n_epochs = full + extra
    epochs = F.when(
        n_epochs > 0,
        F.sequence(F.lit(0), n_epochs - 1)).otherwise(
        F.array().cast("array<int>"))
    return (df.join(F.broadcast(w), source_col)
            .select(id_col, source_col,
                    F.explode(epochs).alias("epoch")))


def length_buckets(df: DataFrame, batch_docs: int = 32,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Length-bucketed batch assignment — the padding-efficiency
    move every sequence trainer makes: group documents whose token
    counts share a power-of-two bucket (1-2, 3-4, 5-8, ... tokens),
    then lay each bucket out into fixed ``batch_docs``-document
    batches in deterministic md5 order. Batches then pad to at most
    2× their shortest member.

    The bucket is ``length(bin(n_tokens))`` — the integer bit-width,
    exact on every engine (no log2 float). One window shuffle
    partitioned by bucket; batches and positions are pure integer
    math on the rank. Output: (doc_id, n_tokens, bucket, batch_id,
    pos)."""
    n = token_count(F.col(text_col))
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("bucket").orderBy(h, id_col)
    rk = F.row_number().over(w) - 1
    return (df.select(id_col, n.alias("n_tokens"))
            .where(F.col("n_tokens") > 0)
            .withColumn("bucket",
                        F.length(F.bin(F.col("n_tokens")))
                        .cast("int"))
            .select(id_col, "n_tokens", "bucket",
                    F.floor(rk / batch_docs).cast("long")
                    .alias("batch_id"),
                    (rk % batch_docs).cast("int").alias("pos")))


def export_webdataset(df: DataFrame, path: str, n_shards: int = 32,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Write the corpus as webdataset-style tar shards — the actual
    SINK behind :func:`shard_export`'s layout: every document lands
    in ``shard-NNNNN.tar`` as member ``{id}.txt``, in the same
    deterministic (md5 key, id) order other engines can reproduce.
    Tar bytes are canonical (USTAR, zeroed mtime/uid/gid, fixed
    mode), so re-running the export — on any cluster, any
    partitioning — produces byte-identical shards; the returned
    manifest carries each shard's sha256 to prove it.

    Scale shape: ONE hash shuffle on the shard id (applyInPandas
    groups whole shards), each shard streams to its own tar
    independently — 100 TB is just more shards, and a failed task
    rewrites only its shard. Returns (shard, n_docs, n_bytes,
    sha256)."""
    import hashlib
    import io
    import os
    import tarfile

    import pandas as pd
    from pyspark.sql import types as T

    os.makedirs(path, exist_ok=True)
    key = (F.conv(F.substring(
        F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long"))
    rows = (df.select(F.col(id_col).alias("doc_id"),
                      F.coalesce(F.col(text_col), F.lit(""))
                      .alias("text"))
            .withColumn("_skey", key)
            .withColumn("shard", F.pmod(F.col("_skey"),
                                        F.lit(n_shards)).cast("int")))
    schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ])

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=schema.fieldNames())
        pdf = pdf.sort_values(["_skey", "doc_id"])
        shard = int(pdf["shard"].iloc[0])
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = str(text).encode("utf-8")
                info = tarfile.TarInfo(name=f"{doc_id}.txt")
                info.size = len(data)
                info.mtime = 0        # canonical bytes: no clock,
                info.uid = info.gid = 0   # no user, fixed mode
                info.mode = 0o644
                tar.addfile(info, io.BytesIO(data))
        raw = buf.getvalue()
        name = os.path.join(path, f"shard-{shard:05d}.tar")
        tmp = name + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(raw)
        os.replace(tmp, name)        # atomic: retried tasks re-land
        return pd.DataFrame([{
            "shard": shard, "n_docs": len(pdf),
            "n_bytes": len(raw),
            "sha256": hashlib.sha256(raw).hexdigest()}])

    return (rows.groupBy("shard")
            .applyInPandas(write_shard, schema=schema))


def corpus_diff(old: DataFrame, new: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Snapshot-to-snapshot corpus delta — the retraining question
    "what actually changed since the last crawl?" answered without
    shipping either snapshot anywhere: a full-outer join on the doc
    id comparing md5 content classes. Status per id: ``added`` (only
    in new), ``removed`` (only in old), ``changed`` (both, different
    content hash — NULL text and empty text are distinct classes),
    ``same``. One hash-equi join; at 100 TB both sides prune to
    (id, 16-byte hash) projections before the shuffle.
    Output: (doc_id, status)."""
    oh = old.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.coalesce(F.col(text_col),
                                     F.lit("\x00null")))
                    .alias("_ho"))
    nh = new.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.coalesce(F.col(text_col),
                                     F.lit("\x00null")))
                    .alias("_hn"))
    j = oh.join(nh, "doc_id", "full_outer")
    status = (F.when(F.col("_ho").isNull(), "added")
              .when(F.col("_hn").isNull(), "removed")
              .when(F.col("_ho") != F.col("_hn"), "changed")
              .otherwise("same"))
    return j.select("doc_id", status.alias("status"))


def corpus_diff_summary(old: DataFrame, new: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(status, n_docs) rollup of :func:`corpus_diff` — the one-look
    retrain trigger (retrain when added+changed crosses a budget)."""
    return (corpus_diff(old, new, text_col, id_col)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def leakage_safe_split(df: DataFrame, pairs: DataFrame,
                       eval_ppm: int = 100_000,
                       id_col: str = "doc_id") -> DataFrame:
    """Train/eval split that cannot leak near-duplicates across the
    boundary: the unit of assignment is the DUPLICATE CLUSTER, not
    the document — every doc maps to its cluster representative
    (dedup.resolve_duplicates connected components; singletons map
    to themselves) and the whole cluster follows the
    representative's deterministic md5 draw. A naive per-doc split
    puts near-copies of eval documents into train (the classic
    benchmark-contamination bug); this one is immune by
    construction, replayable in SQL, and partitioning-independent.
    Output: (doc_id, keep_id, split ∈ train|eval)."""
    from .dedup import resolve_duplicates

    res = resolve_duplicates(df, pairs, id_col=id_col)
    draw = (F.conv(F.substring(
        F.md5(F.col("keep_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0) * F.lit(1000000.0))
    return res.select(
        "doc_id", "keep_id",
        F.when(draw < F.lit(float(eval_ppm)), "eval")
        .otherwise("train").alias("split"))


def quantile_filter(df: DataFrame, value_col: str, id_col: str,
                    group_col: str, lo_ppm: int = 50000,
                    hi_ppm: int = 950000) -> DataFrame:
    """Per-group quantile gating from the MERGEABLE quantile sketch
    (operators/sketches.py) — the length/score outlier filter every
    curation pipeline runs, built so the thresholds come from a
    sketch instead of a full percentile pass: at 100 TB the p5/p95
    cutoffs per source are read off persisted per-day sample
    partials (quantile_merge), not recomputed over history.

    keep = lo ≤ value ≤ hi with lo/hi the sketch's order-statistic
    estimates at lo_ppm/hi_ppm (integer ceil-ranks, value
    pass-throughs — the whole decision is exact arithmetic, so every
    keep/drop bit is pinned by the cross-engine hash). Thresholds
    join back broadcast (|groups|·2 rows). Output: (id, group,
    value, lo, hi, keep)."""
    from . import sketches as SK

    sk = SK.quantile_sketch(df, group_col, value_col, id_col)
    est = SK.quantile_estimate(sk, group_col,
                               [int(lo_ppm), int(hi_ppm)])
    bounds = (est.groupBy(group_col)
              .agg(F.min(F.when(F.col("q_ppm") == int(lo_ppm),
                                F.col("est"))).alias("lo"),
                   F.min(F.when(F.col("q_ppm") == int(hi_ppm),
                                F.col("est"))).alias("hi")))
    out = (df.select(F.col(id_col), F.col(group_col),
                     F.col(value_col).alias("value"))
           .where(F.col("value").isNotNull())
           .join(F.broadcast(bounds), group_col))
    keep = (F.col("value") >= F.col("lo")) & \
        (F.col("value") <= F.col("hi"))
    return out.select(id_col, group_col, "value", "lo", "hi",
                      keep.alias("keep"))


def skew_report(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Join/group-key skew diagnostics: the k heaviest values of a
    key column with their row counts and corpus share in ppm — the
    number you check BEFORE a corpus-scale join or groupBy ships,
    because one key holding 30% of the rows means one straggler
    task (the cue to salt, cap, or broadcast). One
    map-side-combined count + a top-k over the |distinct|-sized
    result; share_ppm is exact integer arithmetic
    (count·10⁶ div total). NULL keys are reported as their own row
    (they hash to one partition like any other value — the classic
    silent skew). Output: (key string, n, total, share_ppm)."""
    from pyspark.sql import Window

    counts = (df.groupBy(F.col(key_col).cast("string").alias("key"))
              .agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("t"))
    ranked = (counts.crossJoin(F.broadcast(total))
              .withColumn("share_ppm",
                          F.expr("n * 1000000 div t"))
              # asc_nulls_last: Spark default sorts NULL keys
              # first ascending but DuckDB's ORDER BY sorts them
              # last, so a NULL-key row tying in count at the k
              # boundary would pick different rows per engine
              .orderBy(F.col("n").desc(),
                       F.col("key").asc_nulls_last())
              .limit(k))
    return ranked.select("key", "n", F.col("t").alias("total"),
                         "share_ppm")


def assign_content_ids(df: DataFrame, text_col: str = "text",
                       salt_cols: tuple = ("source",)) -> DataFrame:
    """Deterministic 60-bit document ids from content — the first
    step on a raw crawl, because every dedup/sketch/sampling
    operator downstream keys on an id column the raw data doesn't
    have. id = md5(salt_cols ‖ NUL ‖ text) truncated to 60 bits:
    row-local (no global sort, no zipWithIndex barrier, and unlike
    monotonically_increasing_id it is REPRODUCIBLE across runs and
    partitionings — re-crawls of the same doc get the same id, which
    is exactly what the redelivery-idempotent sinks key on).

    Exact-duplicate rows collide BY DESIGN (same content ⇒ same id —
    exact dedup falls out for free); distinct-content collisions are
    birthday-bounded (~n²/2⁶¹: one in a billion docs ⇒ ~2.5×10⁻⁴
    expected pairs) and auditable with
    :func:`content_id_collisions`. Output: df + ``content_id``."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
             for c in salt_cols]
    payload = F.concat_ws("\x00", *parts,
                          F.coalesce(F.col(text_col), F.lit("")))
    cid = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10) \
        .cast("long")
    return df.withColumn("content_id", cid)


def content_id_collisions(df: DataFrame, text_col: str = "text",
                          salt_cols: tuple = ("source",)) -> DataFrame:
    """The collision audit for :func:`assign_content_ids`: ids held
    by MORE THAN ONE distinct (salt, text) payload — true hash
    collisions, as opposed to exact duplicates (which share the id
    on purpose). One groupBy on the id over distinct payload
    hashes; empty output = no collisions. Output:
    (content_id, n_payloads)."""
    with_ids = assign_content_ids(df, text_col, salt_cols)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
             for c in salt_cols]
    payload_fp = F.md5(F.concat_ws(
        "\x00", *parts, F.coalesce(F.col(text_col), F.lit(""))))
    return (with_ids.select("content_id",
                            payload_fp.alias("_fp"))
            .distinct()
            .groupBy("content_id")
            .agg(F.count(F.lit(1)).alias("n_payloads"))
            .where(F.col("n_payloads") > 1))
