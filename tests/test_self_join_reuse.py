"""The operators whose plans read one frame on two sides (self-joins
and shared count tables) persist nothing.

Each of them used to persist that frame so it was computed once, and
returned its result lazily, so the persisted frame outlived the
action and a repeat call read it from the cache. Now the two sides
share one exchange: the shuffle is computed once per action and freed
with the plan. Per operator, on a small fixture:

- after an action the persistent-RDD id set is a subset of the one
  taken before (id-set containment: the ContextCleaner may reap an
  earlier test's blocks concurrently, so a count could hide a leak);
- a second identical call's final plan holds no InMemoryTableScan,
  and the sites that repartition on the join keys show the
  ReusedExchange that computes their signatures once (the others
  share an aggregate's or window's exchange where Catalyst can).
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from siridb_server_spark import pipelines as PIPE
from siridb_server_spark.operators import curation as CU
from siridb_server_spark.operators import dedup as D
from siridb_server_spark.operators import text as TX

SF = "/root/testdata/sf0.001"
_Q = entry.queries()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _curate(spark):
    docs = _docs(spark).where("doc_id < 300").select("doc_id", "text")
    return PIPE.curate_corpus(docs, langs=("en",),
                              near_threshold=0.8)[1]


# name -> (build the frame, whether its plan reuses an exchange)
CASES = {
    "minhash_lsh_pairs": (lambda s: D.minhash_lsh_pairs(
        _docs(s), threshold=0.5), True),
    "simhash_pairs": (lambda s: D.simhash_pairs(
        _docs(s), max_hamming=3), True),
    "phash_pairs": (lambda s: _Q["dedup_image_phash_pairs"](s, SF),
                    True),
    "audio_match_pairs": (lambda s: _Q["dedup_audio_match"](s, SF),
                          True),
    "video_match_pairs": (lambda s: _Q["dedup_video_match"](s, SF),
                          True),
    "dsir_weights": (lambda s: CU.dsir_weights(
        _docs(s), is_target=F.col("lang") == "en"), False),
    "curate_corpus": (_curate, False),
    "tfidf_top_terms": (lambda s: TX.tfidf_top_terms(_docs(s), k=5),
                        False),
}


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name", sorted(CASES))
def test_self_join_operator_persists_nothing(spark, name):
    build, reuses = CASES[name]
    before = _persistent_ids(spark)
    build(spark).collect()
    assert _persistent_ids(spark) <= before

    df = build(spark)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    if reuses:
        assert "ReusedExchange" in plan, plan
    assert _persistent_ids(spark) <= before
