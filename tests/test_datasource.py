"""The ``siridb`` Python DataSource: batch reads with shard-skip
filter pushdown, and the streaming tail with exactly-once restart.

Reference behavior mirrored: shard skipping on time ranges
(src/siri/db/series.c:927-938) — here as DataSource partition
planning — and the on-ingest fan-out of new points to live clients,
here as a Structured Streaming micro-batch source.
"""

import pytest
from pyspark.sql import functions as F

from siridb_server_spark.sources.datasource import (
    SiriDBShardReader,
    _Bounds,
    _shard_files,
    register,
)
from siridb_server_spark.sources.store import PointsStore


def _catalog(store, spark):
    """The store's catalog as ``{name: stats}``, after its one-time
    crash repair, folded on the driver."""
    store.repair_catalog(spark)
    return store.read_catalog_local()


@pytest.fixture()
def store(spark, tmp_path):
    st = PointsStore(str(tmp_path / "db"), 1000, 1000)
    rows = [(f"s{i % 3}", t, i, i, None, None, 0)
            for i, t in enumerate(range(0, 5000, 7))]
    st.append_local(spark, rows)
    register(spark)
    return st


def test_batch_read_roundtrip(spark, store):
    df = spark.read.format("siridb").load(store.path)
    assert df.count() == len(range(0, 5000, 7))
    assert [f.name for f in df.schema.fields] == [
        "series", "ts", "seq", "val_int", "val_dbl", "val_str",
        "tp", "kind", "sid"]
    # values survive the Arrow path intact
    row = df.where("ts = 7").first()
    assert (row["series"], row["val_int"], row["tp"]) == ("s1", 1, 0)


def test_ts_filter_prunes_and_stays_exact(spark, store):
    df = (spark.read.format("siridb")
          .option("duration_num", "1000").load(store.path)
          .filter("ts >= 3000 and ts < 4000"))
    assert df.count() == sum(1 for t in range(0, 5000, 7)
                             if 3000 <= t < 4000)


def test_partition_planning_skips_shards(store):
    bounds = _Bounds({"path": store.path, "duration_num": "1000"})
    bounds._tighten(lo=3000, hi=3999)
    kept = {(k, s) for k, s, _f, _m in _shard_files(store.path)
            if bounds.keep(k, s)}
    everything = {(k, s) for k, s, _f, _m in _shard_files(store.path)}
    assert kept == {("num", 3000)}
    assert everything == {("num", s) for s in range(0, 5000, 1000)}


def test_upper_bound_prunes_without_duration(store):
    # bucket start > ts_hi always prunes, even with no duration hint
    bounds = _Bounds({"path": store.path})
    bounds._tighten(hi=1500)
    kept = {s for k, s, _f, _m in _shard_files(store.path)
            if bounds.keep(k, s)}
    assert kept == {0, 1000}


def test_push_filters_all_returned_unhandled(store):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    reader = SiriDBShardReader({"path": store.path,
                                "duration_num": "1000"})
    filters = [GreaterThanOrEqual(("ts",), 3000),
               LessThan(("ts",), 4000)]
    assert list(reader.pushFilters(filters)) == filters
    assert reader.bounds.ts_lo == 3000
    assert reader.bounds.ts_hi == 3999


def test_kind_partitions_split_types(spark, store):
    store.append_local(
        spark, [("logline", 10, 900, None, None, "hello", 2)])
    df = spark.read.format("siridb").load(store.path)
    assert df.where("kind = 'log'").count() == 1
    assert (df.where("kind = 'log'").first()["val_str"] == "hello")


def test_empty_store_reads_zero_rows(spark, tmp_path):
    register(spark)
    (tmp_path / "empty").mkdir()
    df = spark.read.format("siridb").load(str(tmp_path / "empty"))
    assert df.count() == 0


def test_stream_tails_new_appends_exactly_once(spark, tmp_path):
    st = PointsStore(str(tmp_path / "db"), 1000, 1000)
    st.append_local(spark, [("a", 1, 0, 1, None, None, 0),
                           ("a", 2, 1, 2, None, None, 0)])
    register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start():
        return (spark.readStream.format("siridb").load(st.path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 2
        st.append_local(spark, [("b", 5000, 2, 7, None, None, 0)])
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 3
    finally:
        q.stop()

    # append while the query is DOWN; the restart resumes from the
    # checkpointed offset: no replay of the first three, no loss
    st.append_local(spark, [("c", 9000, 3, 8, None, None, 0)])
    q2 = start()
    try:
        q2.processAllAvailable()
        got = spark.read.parquet(out)
        assert got.count() == 4
        assert sorted(r["series"] for r in
                      got.select("series").collect()) == [
            "a", "a", "b", "c"]
    finally:
        q2.stop()


def test_stream_from_store_through_engine_rollup(spark, tmp_path):
    """End-to-end: points appended to the store are tailed by the
    siridb stream source and rolled up with the ENGINE's bucket
    semantics (right-closed, END-labeled) — the reference's on-ingest
    fan-out to live aggregating clients, as one Spark pipeline."""
    from siridb_server_spark.streaming.ingest import windowed_rollup

    st = PointsStore(str(tmp_path / "db"), 1000, 1000)
    st.append_local(spark, [("cpu", 1, 0, None, 1.0, None, 1),
                           ("cpu", 5, 1, None, 2.0, None, 1),
                           ("cpu", 6, 2, None, 4.0, None, 1)])
    register(spark)
    sdf = (spark.readStream.format("siridb").load(st.path)
           .select("series", "ts", F.col("val_dbl").alias("value")))
    rolled = windowed_rollup(sdf, 5)
    q = (rolled.writeStream.outputMode("complete")
         .format("memory").queryName("rollup")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        got = {(r["series"], r["bucket_ts"]): r["sum"]
               for r in spark.sql("select * from rollup").collect()}
        # right-closed buckets: ts 1,5 → bucket 5; ts 6 → bucket 10
        assert got == {("cpu", 5): 3.0, ("cpu", 10): 4.0}
        # live append lands in the next micro-batch
        st.append_local(spark, [("cpu", 9, 3, None, 10.0, None, 1)])
        q.processAllAvailable()
        got = {(r["series"], r["bucket_ts"]): r["sum"]
               for r in spark.sql("select * from rollup").collect()}
        assert got[("cpu", 10)] == 14.0
    finally:
        q.stop()


# ------------------------------------------------------------- writer
def _write(df, path):
    (df.write.format("siridb")
     .option("duration_num", "1000").option("duration_log", "1000")
     .mode("append").save(path))


def test_write_roundtrip_and_catalog_delta(spark, tmp_path):
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    path = str(tmp_path / "db")
    rows = [(f"s{i % 3}", t, i, i, None, None, 0)
            for i, t in enumerate(range(0, 5000, 7))]
    _write(spark.createDataFrame(rows, POINTS_SCHEMA), path)
    assert spark.read.format("siridb").load(path).count() == len(rows)
    st = PointsStore(path, 1000, 1000)
    assert st.read(spark).count() == len(rows)
    cat = {n: st_[:3] for n, st_ in _catalog(st, spark).items()}
    assert cat["s0"] == (239, 0, 4998)
    # staging and pending marker are gone after commit
    import os
    assert not os.path.exists(path + "/_writer_stage")
    assert not os.path.exists(path + "/_catalog.pending")


def test_write_catalog_bucket_matches_spark_through_compaction(
        spark, tmp_path):
    """A series written by both the engine's driver append and the
    sink folds to ONE catalog row through a store-side compaction
    (both writers emit the same delta file)."""
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    path = str(tmp_path / "db")
    st = PointsStore(path, 1000, 1000)
    st.append_local(spark, [("cpu|1", 10, 0, 5, None, None, 0)])
    _write(spark.createDataFrame(
        [("cpu|1", 2000, 1, 7, None, None, 0)], POINTS_SCHEMA), path)
    st._compact_catalog(spark)
    assert st._n_delta_appends() == 0
    assert _catalog(st, spark)["cpu|1"][:3] == (2, 10, 2000)


def test_write_splits_kinds_by_type(spark, tmp_path):
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    path = str(tmp_path / "db")
    _write(spark.createDataFrame(
        [("n", 10, 0, 5, None, None, 0),
         ("l", 10, 1, None, None, "msg", 2)], POINTS_SCHEMA), path)
    df = spark.read.format("siridb").load(path)
    assert {r["kind"] for r in df.select("kind").collect()} \
        == {"num", "log"}


def test_write_overwrite_mode_rejected(spark, tmp_path):
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    df = spark.createDataFrame(
        [("n", 10, 0, 5, None, None, 0)], POINTS_SCHEMA)
    with pytest.raises(Exception, match="append-only"):
        (df.write.format("siridb")
         .option("duration_num", "1000")
         .option("duration_log", "1000")
         .mode("overwrite").save(str(tmp_path / "db")))


def test_write_requires_durations(spark, tmp_path):
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    df = spark.createDataFrame(
        [("n", 10, 0, 5, None, None, 0)], POINTS_SCHEMA)
    with pytest.raises(Exception, match="duration_num"):
        df.write.format("siridb").mode("append") \
            .save(str(tmp_path / "db"))


def test_stream_write_appends_per_microbatch(spark, tmp_path):
    import json
    import os

    register(spark)
    src, db, ck = (str(tmp_path / "in"), str(tmp_path / "db"),
                   str(tmp_path / "ck"))
    os.makedirs(src)
    with open(src + "/a.json", "w") as f:
        for i in range(10):
            f.write(json.dumps(
                {"series": f"s{i % 2}", "ts": i * 100, "seq": i,
                 "val_int": i, "val_dbl": None, "val_str": None,
                 "tp": 0}) + "\n")
    schema = ("series string, ts long, seq long, val_int long,"
              " val_dbl double, val_str string, tp int")
    q = (spark.readStream.schema(schema).json(src)
         .writeStream.format("siridb")
         .option("duration_num", "1000")
         .option("duration_log", "1000")
         .option("checkpointLocation", ck).start(db))
    try:
        q.processAllAvailable()
        with open(src + "/b.json", "w") as f:
            f.write(json.dumps(
                {"series": "s0", "ts": 5000, "seq": 99,
                 "val_int": 7, "val_dbl": None, "val_str": None,
                 "tp": 0}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.format("siridb").load(db).count() == 11
    st = PointsStore(db, 1000, 1000)
    cat = {n: st_[0] for n, st_ in _catalog(st, spark).items()}
    assert cat == {"s0": 6, "s1": 5}


def test_stream_write_replayed_batch_is_noop(spark, tmp_path):
    """A micro-batch retried after its commit marker landed must not
    double-append (the writer's commit-log idempotence)."""
    import pyarrow as pa

    from siridb_server_spark.sources.datasource import (
        SiriDBStreamArrowWriter,
    )

    register(spark)
    db = str(tmp_path / "db")
    w = SiriDBStreamArrowWriter(
        {"path": db, "duration_num": "1000", "duration_log": "1000"})
    batch = pa.RecordBatch.from_pydict({
        "series": ["a"], "ts": [10], "seq": [0], "val_int": [5],
        "val_dbl": pa.array([None], pa.float64()),
        "val_str": pa.array([None], pa.string()), "tp": [0]})
    msg = w.write(iter([batch]))
    w.commit([msg], 0)
    # replay of batch 0: stage again, commit must discard it
    msg2 = w.write(iter([batch]))
    w.commit([msg2], 0)
    assert spark.read.format("siridb").load(db).count() == 1
    st = PointsStore(db, 1000, 1000)
    assert {n: st_[0]
            for n, st_ in _catalog(st, spark).items()} == {"a": 1}


def test_store_to_store_replication_pipeline(spark, tmp_path):
    """readStream siridb → writeStream siridb: continuous replication
    between stores — the reference's replica fan-out (N/A as a
    bespoke protocol per SURVEY §2.7) re-expressed as one Structured
    Streaming query. New appends on the primary flow into the
    replica's shard layout and catalog without any custom plumbing."""
    primary = PointsStore(str(tmp_path / "p"), 1000, 1000)
    primary.append_local(spark, [("a", 1, 0, 1, None, None, 0),
                                ("a", 1500, 1, 2, None, None, 0)])
    register(spark)
    replica = str(tmp_path / "r")
    q = (spark.readStream.format("siridb").load(primary.path)
         .select(*[f.name for f in
                   spark.read.format("siridb").load(primary.path)
                   .schema.fields if f.name not in ("kind", "sid")])
         .writeStream.format("siridb")
         .option("duration_num", "1000")
         .option("duration_log", "1000")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start(replica))
    try:
        q.processAllAvailable()
        assert spark.read.format("siridb").load(replica).count() == 2
        primary.append_local(spark, [("b", 9000, 2, 3, None, None, 0)])
        q.processAllAvailable()
        got = spark.read.format("siridb").load(replica)
        assert got.count() == 3
        # replica has the same shard layout the primary would
        assert {(r["kind"], r["sid"]) for r in
                got.select("kind", "sid").collect()} == {
            ("num", 0), ("num", 1000), ("num", 9000)}
    finally:
        q.stop()
    rep = PointsStore(replica, 1000, 1000)
    cat = {n: st_[0] for n, st_ in _catalog(rep, spark).items()}
    assert cat == {"a": 2, "b": 1}


# ------------------------------------------- review-fix regressions
def test_write_negative_ts_matches_store_sid_alignment(spark,
                                                       tmp_path):
    """Pre-epoch timestamps: the writer's sid must be TRUNC-mod
    (Spark's %), not numpy floor-mod, so format-written and
    store-written rows land in the SAME shard directory."""
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    path_a, path_b = str(tmp_path / "a"), str(tmp_path / "b")
    rows = [("n", -5, 0, 1, None, None, 0),
            ("n", -1500, 1, 2, None, None, 0),
            ("n", 5, 2, 3, None, None, 0)]
    _write(spark.createDataFrame(rows, POINTS_SCHEMA), path_a)
    PointsStore(path_b, 1000, 1000).append_local(spark, rows)
    # compare the DIRECTORY sets: file counts differ legitimately
    # (append_local writes one file per shard, Spark one per task)
    sids = lambda p: {(k, s) for k, s, _f, _m in _shard_files(p)}
    assert sids(path_a) == sids(path_b)
    # reads agree and pruning never loses the pre-epoch rows
    df = spark.read.format("siridb") \
        .option("duration_num", "1000").load(path_a)
    assert df.count() == 3
    assert df.filter("ts <= -1").count() == 2
    assert df.filter("ts >= -10 and ts <= 10").count() == 2


def test_bounds_keep_conservative_for_nonpositive_sids():
    b = _Bounds({"duration_num": "1000"})
    b._tighten(hi=-2)
    # shard 0 holds trunc-mod rows in (-1000, 1000): may match ts<=-2
    assert b.keep("num", 0)
    assert not b.keep("num", 1000)   # rows >= 1000 > -2
    b2 = _Bounds({"duration_num": "1000"})
    b2._tighten(lo=-2500)
    # shard -2000 holds rows in (-3000, -2000]: may match ts>=-2500
    assert b2.keep("num", -2000)
    assert not b2.keep("num", -3000)  # rows <= -3000 < -2500


def test_stream_picks_up_backdated_mtime_files(spark, tmp_path):
    """Commit renames preserve mtime; the watermark must use ctime
    (visibility time) so a staged-early/renamed-late file is never
    skipped."""
    import os
    import shutil
    import time

    st = PointsStore(str(tmp_path / "db"), 1000, 1000)
    st.append_local(spark, [("a", 1, 0, 1, None, None, 0)])
    register(spark)
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def start():
        return (spark.readStream.format("siridb").load(st.path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 1
        # simulate a commit whose staged file predates the watermark:
        # copy an existing shard file, backdate its mtime far into
        # the past, then rename it into the shard dir
        [(kind, sid, p)] = list(st._sid_dirs())
        src = next(f for f in os.listdir(p) if f.endswith(".parquet"))
        staged = str(tmp_path / "staged.parquet")
        shutil.copy(os.path.join(p, src), staged)
        os.utime(staged, ns=(1, 1))  # mtime ~epoch
        os.rename(staged, os.path.join(p, "part-backdated.parquet"))
        q.processAllAvailable()
        # the renamed file's rows arrive (duplicate content = 2 rows)
        assert spark.read.parquet(out).count() == 2
    finally:
        q.stop()


def test_sid_filter_prunes_without_touching_ts_rows(spark, tmp_path):
    """A sid predicate prunes directories exactly but must NOT leak
    into the ts row-group bounds: shard 0 holds pre-epoch rows whose
    ts < sid, and `sid >= X` (X <= 0) keeps them."""
    from siridb_server_spark.model import POINTS_SCHEMA

    register(spark)
    path = str(tmp_path / "db")
    _write(spark.createDataFrame(
        [("n", -500, 0, 1, None, None, 0),   # shard 0 (trunc-mod)
         ("n", 10, 1, 2, None, None, 0),     # shard 0
         ("n", 2500, 2, 3, None, None, 0)],  # shard 2000
        POINTS_SCHEMA), path)
    df = spark.read.format("siridb") \
        .option("duration_num", "1000").load(path)
    # sid >= -5 keeps shard 0 including the pre-epoch row
    assert df.filter("sid >= -5").count() == 3
    assert df.filter("sid >= 0").count() == 3
    assert df.filter("sid > 0").count() == 1
    assert df.filter("sid = 0").count() == 2
    assert df.filter("sid <= 0").count() == 2
    # planner-level: sid bounds prune directories exactly
    b = _Bounds({"duration_num": "1000"})
    b._sid(lo=1, hi=None)
    kept = {s for k, s, _f, _m in _shard_files(path)
            if b.keep(k, s)}
    assert kept == {2000}
