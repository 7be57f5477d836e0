"""Physical-plan guards: the scale properties that make the engine
viable at 100 TB, pinned as tests so a refactor can't silently lose
them.

- time-range predicates reach the parquet scan (row-group pruning)
  AND the shard-id partition column (partition pruning) — the Spark
  equivalent of the reference's per-series block index scan
  (series.c:927-938) and shard selection (shards.c:273-340);
- hot-path select pipelines contain no Python evaluation nodes
  (everything stays in Tungsten);
- a bucketed aggregate is ONE shuffle (Catalyst partial+final hash
  aggregation = the reference's per-pool pre-aggregation,
  help/help_select.md:84-96).
"""

import random

import pytest

from siridb_server_spark import SiriEngine

# these tests compare Spark plans and paths: keep selects off the
# driver-side Arrow executor
pytestmark = pytest.mark.usefixtures("spark_selects")

PY_NODES = ("BatchEvalPython", "ArrowEvalPython",
            "FlatMapGroupsInPandas", "MapInPandas")


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def store_eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plandb")
    eng = SiriEngine.open(spark, str(d / "db"), precision="s")
    rng = random.Random(7)
    eng.insert({
        f"s{i}": [[1_470_000_000 + j * 60 + rng.randint(0, 5),
                   rng.random()] for j in range(200)]
        for i in range(10)})
    return eng


def test_time_range_pushdown_and_partition_pruning(store_eng):
    df = store_eng.select_df(
        "select mean(1h) from /.*/ "
        "between 1470100000 and 1470200000")
    plan = physical(df)
    assert "GreaterThanOrEqual(ts,1470100000)" in plan, plan
    assert "LessThan(ts,1470200000)" in plan
    # shard-id partition pruning (store layout sid=<bucket>)
    assert "PartitionFilters" in plan
    assert "sid" in plan.split("PartitionFilters", 1)[1][:200]


def test_no_python_nodes_in_select_pipeline(store_eng):
    for q in (
        "select sum(1h) from /.*/",
        "select difference() => filter(> 0) from /.*/",
        "select limit(20, mean) from /.*/",
        "select median(1h) from /.*/ merge as 'm' using max(1d)",
        "select count(1h) => offset(17) from /.*/",
    ):
        plan = physical(store_eng.select_df(q))
        hits = [n for n in PY_NODES if n in plan]
        assert not hits, (q, hits)


def test_bucket_agg_single_shuffle(store_eng):
    df = store_eng.select_df("select sum(1h) from /.*/")
    plan = physical(df)
    assert plan.count("Exchange") == 1, plan
    # partial before the exchange, final after: map-side combine
    assert "partial_sum" in plan


def test_tpch_join_broadcasts(spark):
    import __spark_entry__ as entry

    df = entry.queries()["tpch_join_revenue"](
        spark, "/root/testdata/sf0.001")
    plan = physical(df)
    assert "BroadcastHashJoin" in plan, plan


def test_select_df_never_collects_series_names(store_eng, monkeypatch):
    """select_df (the distributed API) must not ship O(|series|) rows
    to the driver — a store engine takes the type set and points bound
    from its driver snapshot, a from_points engine from a 1-row
    aggregation. query() may collect names (its result dict is keyed
    per series, inherently driver-sized)."""
    from pyspark.sql import DataFrame

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    df = store_eng.select_df("select mean(1000) from /.*/")
    assert all(s <= 1 for s in sizes), sizes
    # the plan still materializes correctly without any seed collect
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert df.count() > 0


def test_asof_join_single_exchange_before_window(spark):
    """The as-of join is ONE hash shuffle + window — no range-join
    blowup, no broadcast requirement, no Python nodes."""
    from siridb_server_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 1.0)], "k long, ts long, v double")
    right = spark.createDataFrame(
        [(1, 8, 2.0)], "k long, ts long, r double")
    plan = physical(asof_join(left, right, on="ts", by="k",
                              right_cols=["r"]))
    assert "Window" in plan
    assert "Join" not in plan           # carry-forward, not a join
    assert not [n for n in PY_NODES if n in plan], plan


def test_duplicate_spans_partial_agg_and_pruned_scan(spark):
    """Keep-first dedup must map-side combine on the span hash (skew
    armor) and prune the documents scan to (doc_id, text)."""
    from siridb_server_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = physical(duplicate_spans(docs, k=10))
    assert "partial_min" in plan, plan
    import re
    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    assert scans and all(
        "lang" not in s and "source" not in s for s in scans), scans


def test_interpolation_no_python_and_single_window_shuffle(spark):
    """Grid interpolation stays in Tungsten: lead window + row-local
    sequence/explode, no joins, no Python."""
    from siridb_server_spark.operators.timeseries import (
        resample_interpolate,
    )

    pts = spark.createDataFrame(
        [("a", 10, 1.0)], "series string, ts long, val double")
    plan = physical(resample_interpolate(pts, 10))
    assert "Generate" in plan and "Window" in plan
    assert "Join" not in plan
    assert not [n for n in PY_NODES if n in plan], plan


def test_unigram_lm_partial_counts(spark):
    """Both aggregates of the LM scorer partial-combine map-side."""
    from siridb_server_spark.operators.text import unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = physical(unigram_logprob(docs))
    assert "partial_count" in plan, plan
    assert not [n for n in PY_NODES if n in plan], plan


def test_q6_filters_reach_parquet_scan(spark):
    """Every tpch_q6ish predicate (timestamp band + value bands) must
    push into the parquet scan so only matching row groups are read."""
    import __spark_entry__ as entry

    df = entry.queries()["tpch_q6ish"](spark, "/root/testdata/sf0.001")
    plan = physical(df)
    pushed = plan.split("PushedFilters", 1)[1][:400]
    for tok in ("l_shipdate", "l_discount", "l_quantity"):
        assert tok in pushed, plan
    assert "ReadSchema" in plan
    # scan pruned to the four referenced columns
    import re
    scan = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "l_orderkey" not in scan and "l_returnflag" not in scan


def test_moving_avg_single_window_shuffle_no_python(spark):
    from siridb_server_spark.operators.timeseries import moving_avg

    pts = spark.createDataFrame(
        [("a", 10, 1.0)], "series string, ts long, val double")
    plan = physical(moving_avg(pts, window=5))
    assert "Window" in plan
    assert plan.count("Exchange") <= 1, plan
    assert not [n for n in PY_NODES if n in plan], plan


def test_tfidf_partial_counts_topk_pushdown_no_python(spark):
    """tf-idf: map-side partial counts, per-source top-k runs through
    WindowGroupLimit (rank pushdown, no full per-group sort spill),
    document frequency joined without Python nodes."""
    from siridb_server_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = physical(tfidf_top_terms(docs, k=5))
    assert "partial_count" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert not [n for n in PY_NODES if n in plan], plan


def test_top_series_takeordered_not_global_sort(spark):
    from siridb_server_spark.operators.timeseries import top_series

    pts = spark.createDataFrame(
        [("a", 10, 1.0)], "series string, ts long, val double")
    plan = physical(top_series(pts, k=20))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_no_python_broadcast_df(spark):
    """BM25 stays JVM-side end to end; the document-frequency side is
    broadcast, and the top-k is a TakeOrdered."""
    from siridb_server_spark.operators.text import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = physical(bm25_topk(docs, ["hash", "join"], k=10))
    assert not [n for n in PY_NODES if n in plan], plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_single_user_shuffle_no_join(spark):
    """The conversion funnel is one window over one hash shuffle on
    the user key — no self-join."""
    import __spark_entry__ as entry

    df = entry.queries()["events_funnel"](
        spark, "/root/testdata/sf0.001")
    plan = physical(df)
    assert "Join" not in plan, plan
    assert "Window" in plan
    assert not [n for n in PY_NODES if n in plan], plan


def test_range_join_is_equi_hash_join_not_nested_loop(spark):
    """The bucketed range join must compile to a HASH join on the
    bucket key (broadcast or shuffled), never the
    BroadcastNestedLoopJoin a raw lo<=ts<=hi theta-join produces."""
    import __spark_entry__ as entry

    df = entry.queries()["ts_range_join"](
        spark, "/root/testdata/sf0.001")
    plan = physical(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan
    for node in PY_NODES:
        assert node not in plan, plan


def test_bigram_lm_rowlocal_bigrams_no_python(spark):
    """Bigram construction is a row-local Generate (explode of the
    transformed token array) — no self-join on positions — and the
    whole pipeline stays JVM-side. The only nested-loop allowed is
    the 1-row scalar (vocab size) broadcast."""
    import __spark_entry__ as entry

    df = entry.queries()["text_bigram_lm"](
        spark, "/root/testdata/sf0.001")
    plan = physical(df)
    assert "Generate explode" in plan, plan
    for node in PY_NODES:
        assert node not in plan, plan


def test_epoch_plan_broadcasts_weights_one_corpus_scan(spark):
    """epoch_plan's big-side work must be ONE corpus scan feeding
    mix_weights' aggregates plus a BROADCAST join of the
    |sources|-row weight table back onto the corpus — no sort-merge
    join, no Python nodes."""
    from siridb_server_spark.operators.curation import epoch_plan

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "tok " * (1 + i % 5)) for i in range(30)],
        ["doc_id", "source", "text"])
    plan = physical(epoch_plan(docs))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" \
        in plan
    assert "SortMergeJoin" not in plan
    assert not any(n in plan for n in PY_NODES)


def test_length_buckets_single_window_shuffle(spark):
    """length_buckets is one window shuffle partitioned by bucket:
    exactly one exchange above the scan, no joins, no Python."""
    from siridb_server_spark.operators.curation import length_buckets

    docs = spark.createDataFrame(
        [(i, "w " * (1 + i % 9)) for i in range(50)],
        ["doc_id", "text"])
    plan = physical(length_buckets(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert not any(n in plan for n in PY_NODES)


def test_ann_recall_norms_above_scan_topk_pushdown(spark):
    """ann_recall_curve: per-vector norms sit in a Project directly
    over the scan (not recomputed per pair), the corpus side joins
    probes/queries via BROADCAST only, and the per-(nprobe, qid)
    top-k uses WindowGroupLimit pushdown."""
    from siridb_server_spark.operators.similarity import \
        ann_recall_curve

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(30)],
        "vec_id long, embedding array<float>, label int")
    plan = physical(ann_recall_curve(emb, k=3, nprobes=(1, 2),
                                     n_queries=4))
    assert "WindowGroupLimit" in plan
    assert not any(n in plan for n in PY_NODES)
    # the corpus-side pair scoring joins (probes on label, queries
    # on qid) must be BROADCAST — the candidate stream is the only
    # big side; everything else (centroid dims, post-top-k hits,
    # the |nprobes|-row result) is tiny and AQE-converted at runtime
    assert "BroadcastHashJoin [label" in plan
    assert "BroadcastHashJoin [qid" in plan


def test_tpch_sweep_new_shapes_broadcast_dims(spark):
    """q2/q11/q20: the fact is pre-aggregated before any dim join
    and every dim (part subset, regional suppliers, per-part min /
    1-row total) rides a broadcast — no sort-merge join anywhere.
    q21: the order-key fact join may shuffle (that IS the 100 TB
    plan), but the supplier-name join must broadcast."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("tpch_q2ish", "tpch_q11ish", "tpch_q20ish"):
        plan = physical(qs[name](spark, sf))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, (name, plan)
        assert not any(n in plan for n in PY_NODES), name
    plan = physical(qs["tpch_q21ish"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert not any(n in plan for n in PY_NODES)
    # the top-k is TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_semdedup_centroids_broadcast_no_python_scoring(spark):
    """sim_semdedup: the labels×dims centroid table broadcasts onto
    the corpus and the score path (dot/norm folds) stays JVM-side;
    the only Python nodes allowed are the blocked pair scorer's
    Arrow stage (cosine_pairs_blocked), never row-at-a-time."""
    import __spark_entry__ as entry

    plan = physical(entry.queries()["sim_semdedup"](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_hybrid_rrf_topk_is_takeordered(spark):
    """text_hybrid_rrf: both ranker top-ks run as TakeOrdered
    (per-partition heap + merge), so the single-partition rank
    window only ever sees k rows; scoring stays JVM-side."""
    import __spark_entry__ as entry

    plan = physical(entry.queries()["text_hybrid_rrf"](
        spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert not any(n in plan for n in PY_NODES)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """The 100 TB fact-x-fact pattern: both tables bucketed on the
    join key at write time -> the join plan carries NO Exchange on
    either side (the scan's bucketing IS the partitioning), and a
    bucket-key equality predicate prunes to one bucket."""
    from pyspark.sql import functions as F

    from siridb_server_spark.sources import bucketed as B

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"))
    emb = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float"))
        .alias("embedding"))
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path so the assertion is about
        # bucketing, not about one side being tiny
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        B.write_bucketed(docs, "bkt_docs", "doc_id", 4,
                         path=str(tmp_path / "bkt_docs"))
        B.write_bucketed(emb, "bkt_emb", "doc_id", 4,
                         path=str(tmp_path / "bkt_emb"))
        j = B.colocated_join(spark, "bkt_docs", "bkt_emb", "doc_id")
        assert j.count() == 400
        plan = physical(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # a groupBy on the bucket key is exchange-free too: the
        # scan's hash distribution satisfies the aggregation
        g = (B.read_bucketed(spark, "bkt_docs")
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
        assert g.count() == 400
        assert "Exchange" not in physical(g), physical(g)
        # bucket pruning: an equality predicate on the bucket key
        # scans one bucket (SelectedBucketsCount: 1 out of 4). The
        # planner auto-disables bucketed scans no operator needs, so
        # pin it on for the pruning assertion.
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false")
        one = B.read_bucketed(spark, "bkt_docs") \
            .where(F.col("doc_id") == 7)
        assert "SelectedBucketsCount: 1 out of 4" in physical(one), \
            physical(one)
    finally:
        spark.conf.unset(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_emb")


MULTI = ('select mean(600) prefix "m-", max(600) prefix "x-" '
         'from /s[0-3]/')
SINGLES = ('select mean(600) prefix "m-" from /s[0-3]/',
           'select max(600) prefix "x-" from /s[0-3]/')


def _multi_engine(spark) -> SiriEngine:
    eng = SiriEngine(spark, precision="s")
    rng = random.Random(11)
    eng.insert({f"s{i}": [[1_470_000_000 + j * 60, rng.random()]
                          for j in range(50)] for i in range(5)})
    return eng


def test_multi_pipeline_select_persists_nothing(spark):
    """Comma-pipelines read the same lazy points frame; no select
    leaves a persisted relation behind in the session — not
    ``select_df()`` on an engine that is then discarded, not
    ``query()`` — and each answers like its pipelines run apart."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    eng = _multi_engine(spark)
    got = rows(eng.select_df(MULTI))
    want = sorted(r for q in SINGLES for r in rows(eng.select_df(q)))
    del eng
    assert got == want
    assert persisted().size() == before

    eng = _multi_engine(spark)
    got = eng.query(MULTI)
    want = {}
    for q in SINGLES:
        want.update(eng.query(q))
    assert got == want and len(got) == 8
    assert persisted().size() == before


def test_rollup_read_of_many_shards_is_one_in_filter(spark, tmp_path):
    """A rollup read keeps its valid shards with ONE ``IN`` filter at
    any shard count (Catalyst turns a long list into ``INSET``): no
    join, and the answers equal the points path's."""
    from siridb_server_spark.sources.store import PointsStore

    path = str(tmp_path / "db")
    # 300 one-point shards of 60 s (persisted durations win on open)
    PointsStore(path, 60, 60).append_local(
        spark, [(f"s{i % 7}", 60 * i + 5, i, i, None, None, 0)
                for i in range(300)])
    eng = SiriEngine.open(spark, path, precision="s")
    eng.enable_rollup(60)
    roll = eng.store.read_rollup(spark)
    assert len(roll["valid"]) == 300 and roll["stale"] == []
    plan = roll["partials"]._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert "INSET" in plan and "Join" not in plan
    for q in ("select sum(60) from /.*/", "select max(120) from 's3'",
              "select count(600) from /s[12]/"):
        a = eng.query(q)
        eng.rollup_enabled = False
        try:
            assert a == eng.query(q), q
        finally:
            eng.rollup_enabled = True


def test_from_points_catalog_persists_nothing(spark):
    """A ``from_points`` engine derives its catalog lazily and caches
    nothing: building and discarding two engines over the same points
    (the second once asked to cache the first's plan again) leaves the
    session's persisted RDDs as they were."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    points = _multi_engine(spark).points_df()
    for _ in range(2):
        eng = SiriEngine.from_points(spark, points, precision="s")
        assert eng.catalog_df().count() == 5
        assert eng.select_df(
            "select max(600) from /.*/ where length > 10").count() == 30
        del eng
    assert persisted().size() == before
