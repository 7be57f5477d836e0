"""End-to-end corpus curation pipeline: the staged filter a
web-scale training-data run actually executes, as ONE composable
operator — quality gate → language filter → exact dedup → near dedup
— with per-document stage attribution so the retention report falls
out of a single groupBy instead of a count() per stage.

Design for 100 TB: every stage is an annotation COLUMN, not a
materialized intermediate — the corpus is scanned once for the
row-local stages (quality features, language ID, content hash), and
the two dedup stages reuse the bucketed shapes of operators/dedup.py
(hash-grouped exact keep-first; inverted-index jaccard pairs +
connected components restricted to the survivor set). The final
``stage`` column is the FIRST failing stage in pipeline order, so
downstream accounting (how much did each stage remove?) is exact and
additive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators.text import lang_id, quality_gate

#: pipeline order — the FIRST failing stage wins the attribution
STAGES = ("quality", "lang", "exact_dup", "near_dup", "kept")


def nb_lang_gate(docs: DataFrame, label_col: str = "lang",
                 text_col: str = "text",
                 features: str = "chars",
                 ngram_n: int = 3) -> DataFrame:
    """THE classifier-driven curation language gate: keep documents
    whose quantized-NB language prediction agrees with their
    declared label (disagreement = mislabeled or mixed-language doc
    — the standard drop before monolingual training).

    ``features`` defaults to character n-grams, not words, because
    that is the MEASURED-better langid featurizer (r10,
    tests/test_classify.py): on short documents and test-time
    vocabulary unseen in training, word-NB collapses to the label
    prior (every unseen word contributes the same smoothing mass to
    every label) while character patterns still separate languages
    — 100% vs prior-only on the measured fixture. Pass
    ``features="words"`` for the word path where documents are long
    and in-vocabulary. Output: (doc_id, label, pred, keep) —
    integer-exact end to end (fixlog2 scorer)."""
    from .operators import classify as CL

    m = CL.nb_train(docs, label_col=label_col, text_col=text_col,
                    features=features, ngram_n=ngram_n)
    pred = CL.nb_predict_int(m, docs, text_col=text_col)
    truth = docs.select("doc_id", F.col(label_col).alias("label"))
    return (truth.join(pred, "doc_id")
            .select("doc_id", "label", "pred",
                    (F.col("label") == F.col("pred"))
                    .alias("keep")))


def curate_corpus(docs: DataFrame, *, min_tokens: int = 10,
                  max_tokens: int = 1000,
                  min_avg_token: float = 2.0,
                  max_avg_token: float = 12.0,
                  max_punct_ratio: float = 0.2,
                  max_digit_ratio: float = 0.2,
                  langs: tuple | None = None,
                  near_threshold: float = 0.8,
                  max_df: int | None = None,
                  text_col: str = "text",
                  lang_model=None):
    """Run the staged curation pipeline over ``docs`` (must carry a
    ``doc_id`` column). Returns ``(curated, staged)``:

    - ``staged``: (doc_id, stage) — stage is the first of
      ``quality`` (Gopher-style gate failed), ``lang`` (language not
      in ``langs``; stage skipped when langs is None), ``exact_dup``
      (same content as an earlier-id survivor), ``near_dup``
      (resolved away from its jaccard cluster — the LONGEST member
      wins, ties to the smaller id), or ``kept``.
    - ``curated``: the input rows whose stage is ``kept``.

    The ``lang`` stage's language PREDICTION comes from the
    row-local :func:`~.operators.text.lang_id` heuristic by
    default; pass a trained
    :class:`~.operators.classify.NBModel` as ``lang_model`` to use
    its quantized-NB prediction instead (train it with the default
    char-n-gram featurizer — :func:`nb_lang_gate` documents why
    chars beat words for langid; the model carries its featurizer,
    so scoring can't diverge from training).

    Dedup stages see only the survivors of the stages before them —
    a junk near-copy never shields its cluster, matching how staged
    production pipelines behave."""
    gate = quality_gate(
        docs, min_tokens=min_tokens, max_tokens=max_tokens,
        min_avg_token=min_avg_token, max_avg_token=max_avg_token,
        max_punct_ratio=max_punct_ratio,
        max_digit_ratio=max_digit_ratio, text_col=text_col) \
        .select("doc_id", F.col("keep").alias("_q"))
    ann = (docs.select("doc_id", F.col(text_col).alias("_text"))
           .join(gate, "doc_id"))
    if lang_model is not None:
        from .operators import classify as CL

        pred = CL.nb_predict_int(
            lang_model, docs.select("doc_id", text_col),
            text_col=text_col) \
            .select("doc_id", F.col("pred").alias("_p"))
        # docs the scorer can't see (all-whitespace text) coalesce
        # to a sentinel no langs list contains — a NULL prediction
        # must fail the gate, never dodge it
        ann = (ann.join(pred, "doc_id", "left")
               .withColumn("_lang",
                           F.coalesce(F.col("_p"),
                                      F.lit("__unscored__")))
               .drop("_p"))
    else:
        ann = ann.withColumn("_lang", lang_id(F.col("_text")))
    lang_ok = F.lit(True) if langs is None \
        else F.col("_lang").isin(list(langs))
    # exact keep-first over the early survivors (md5 content class,
    # smallest SURVIVING id wins — one hash-grouped window, no
    # self-join)
    early = ann.select(
        "doc_id", "_text",
        F.when(~F.col("_q"), "quality")
        .when(~lang_ok, "lang").alias("_e"))
    w = Window.partitionBy(F.md5(F.col("_text")))
    exact_dup = F.col("doc_id") != F.min(
        F.when(F.col("_e").isNull(), F.col("doc_id"))).over(w)
    # ONE pass computes every row-local/window stage flag into the
    # NARROW (doc_id, stage-or-null) frame; the union branches and
    # the dedup stages read the window's one exchange
    # (ReusedExchange) instead of recomputing the gate/langid
    # lineage per branch
    flags = early.select(
        "doc_id",
        F.coalesce(F.col("_e"),
                   F.when(exact_dup, "exact_dup")).alias("_stage"))
    surv2 = (docs.join(flags.where(F.col("_stage").isNull())
                       .select("doc_id"), "doc_id")
             .select("doc_id", text_col)
             .withColumn("n_chars", F.length(text_col)))
    pairs = D.ngram_jaccard_pairs(surv2, threshold=near_threshold,
                                  text_col=text_col, max_df=max_df)
    res = D.resolve_duplicates_by(surv2, pairs, "n_chars")
    near = (res.select("doc_id",
                       F.when(~F.col("is_kept"), "near_dup")
                       .otherwise("kept").alias("stage")))
    staged = (flags.where(F.col("_stage").isNotNull())
              .select("doc_id", F.col("_stage").alias("stage"))
              .unionByName(near))
    curated = docs.join(
        staged.where(F.col("stage") == "kept").select("doc_id"),
        "doc_id")
    return curated, staged


def curation_report(staged: DataFrame) -> DataFrame:
    """Stage retention accounting: (stage, n_docs) over the full
    pipeline order (stages with zero docs included, count 0) — the
    one-look answer to "where did the corpus go?"."""
    spark = staged.sparkSession
    from .localdf import arrow_df
    all_stages = arrow_df(spark, [(s,) for s in STAGES],
                          "stage string")
    counts = staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (all_stages.join(counts, "stage", "left")
            .select("stage",
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs")))
