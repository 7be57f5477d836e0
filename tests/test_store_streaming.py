"""Persistent store + streaming ingest tests: out-of-order writes,
partition layout, pruning, retention, compaction, drop-series rewrite,
and a live rate-source ingest round-trip."""

import os
import time

import pytest
from pyspark.sql import functions as F

from siridb_server_spark import SiriEngine
from siridb_server_spark.model import POINTS_SCHEMA
from siridb_server_spark.sources.store import (
    OPTIMAL_POINTS_PER_SHARD,
    PointsStore,
    _catalog_table,
    duration_from_interval,
)
from siridb_server_spark.streaming import ingest as ING


def _catalog(store, spark):
    """The store's catalog as ``{name: stats}``, after its one-time
    crash repair, folded on the driver."""
    store.repair_catalog(spark)
    return store.read_catalog_local()


def test_duration_from_interval():
    # port parity with shard.c:136-167
    assert duration_from_interval(1, 1) == (
        (1 * OPTIMAL_POINTS_PER_SHARD) // 3600 + 1) * 3600
    # 1-week-scale intervals round up to whole weeks
    week = 3600 * 24 * 7
    assert duration_from_interval(400, 1) == (
        (400 * 2000) // week + 1) * week
    # passthrough when equal to an existing duration
    assert duration_from_interval(
        302400, 1, duration_num=302400 * 2000) == 302400 * 2000


@pytest.fixture()
def eng(spark, tmp_path):
    return SiriEngine.open(spark, str(tmp_path / "db"), precision="s")


def test_store_roundtrip_out_of_order(eng):
    eng.insert({"cpu": [[1000000, 2.0], [100, 1.0], [100, 3.0]],
                "log": [[100, "a"]]})
    eng.insert({"cpu": [[500, 9.9]]})  # second shard-file append
    got = eng.query("select * from 'cpu'")
    assert got == {"cpu": [[100, 1.0], [100, 3.0], [500, 9.9],
                           [1000000, 2.0]]}
    # partition layout: numeric and log kinds split
    st = eng.store.stats()
    assert st["partitions"] >= 2
    root = eng.store.path
    assert os.path.isdir(os.path.join(root, "kind=num"))
    assert os.path.isdir(os.path.join(root, "kind=log"))


def test_store_partition_pruning(eng):
    dur = eng.duration_num  # 604800 s
    eng.insert({"s": [[100, 1], [dur + 5, 2], [3 * dur + 7, 3]]})
    df = eng.select_df(f"select * from 's' after {3 * dur}")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = eng.query(f"select * from 's' after {3 * dur}")
    assert got == {"s": [[3 * dur + 7, 3]]}
    # the pruned scan must read fewer partitions than exist
    assert "_sid" not in df.columns


def test_store_retention_and_drop(eng):
    now = int(time.time())
    dur = eng.duration_num
    eng.insert({"old": [[now - 40 * 86400, 1]],
                "new": [[now, 2]], "other": [[now, 5]]})
    eng.query("alter database set expiration_num 2w")
    left = sorted(r[0] for r in eng.query("list series")["series"])
    assert left == ["new", "other"]
    # drop series rewrites only affected partitions
    eng.query('drop series "other" set ignore_threshold true')
    assert sorted(r[0] for r in eng.query("list series")["series"]) \
        == ["new"]
    got = eng.query("select * from /.*/")
    assert got == {"new": [[now, 2]]}


def test_store_compaction(eng, spark):
    for i in range(4):
        eng.insert({"s": [[100 + i, i]]})
    before = eng.store.stats()
    assert before["files"] >= 4
    eng.store.optimize(spark)
    after = eng.store.stats()
    assert after["files"] < before["files"]
    got = eng.query("select count() from 's'")
    assert got["s"][0][1] == 4


def test_drop_shards_store(eng):
    eng.insert({"a": [[100, 1], [eng.duration_num + 1, 2]]})
    eng.query(f"drop shards where sid < {eng.duration_num} "
              "set ignore_threshold true")
    got = eng.query("select * from 'a'")
    assert got == {"a": [[eng.duration_num + 1, 2]]}


def test_streaming_rate_ingest(spark, tmp_path):
    store = PointsStore(str(tmp_path / "sdb"), 604800 * 10 ** 9,
                        259200 * 10 ** 9)
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", "50").load())
    shaped = rate.select(
        F.concat(F.lit("sensor-"), (F.col("value") % 3).cast("string"))
        .alias("series"),
        (F.unix_micros(F.col("timestamp")) * 1000).alias("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("value").alias("seq"))
    q = ING.start_ingest(
        shaped, store, series_col="series", ts_col="ts",
        value_col="value", seq_col="seq",
        checkpoint=str(tmp_path / "ckpt"),
        tee_path=str(tmp_path / "tee"))
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            time.sleep(1.5)
            if store._exists():
                n = store.read(spark).count()
                if n >= 20:
                    break
        assert n >= 20, f"only {n} points ingested"
    finally:
        q.stop()
    # tee side-output received the same batches
    tee = spark.read.parquet(str(tmp_path / "tee"))
    assert tee.count() >= 20
    # engine can query the streamed store
    eng = SiriEngine.open(spark, str(tmp_path / "sdb"), precision="ns")
    res = eng.query("select count() from /sensor.*/")
    assert sum(v[0][1] for v in res.values()) >= 20


def test_windowed_rollup_semantics(spark):
    # batch-mode check of the right-closed END-labeled bucket column
    df = spark.createDataFrame(
        [("s", 3, 1.0), ("s", 6, 2.0), ("s", 7, 3.0)],
        "series string, ts long, value double")
    out = {r["bucket_ts"]: r["cnt"]
           for r in ING.windowed_rollup(df, 6).collect()}
    assert out == {6: 2, 12: 1}  # golden: test_aggr.c:38-50


def test_incremental_catalog_maintenance(spark, tmp_path):
    """The store catalog merges per batch (O(catalog), no points
    scan), follows deletes/expiration, and self-repairs after an
    interrupted append (pending marker → one-time rebuild)."""
    eng = SiriEngine.open(spark, str(tmp_path / "cdb"), precision="s")
    eng.insert({"a": [[100, 1], [200, 2]], "b": [[150, 1.5]]})
    eng.insert({"a": [[300, 3]]})
    cat = {n: st[:3] for n, st in _catalog(eng.store, spark).items()}
    assert cat == {"a": (3, 100, 300), "b": (1, 150, 150)}
    # skip-points count() answered from the maintained catalog
    assert eng.query("select count() from 'a'") == {"a": [[300, 3]]}
    # drop series → anti-joined out of the catalog
    eng.query('drop series "b" set ignore_threshold true')
    names = list(_catalog(eng.store, spark))
    assert names == ["a"]
    # make the catalog stale (as if an append wrote points but died
    # before the catalog merge): under-counted length for 'a'
    import os
    eng.store._write_base(_catalog_table(
        {"a": (1, 100, 100, 0, (0, 1, None, None), (0, 1, None, None))}))
    # a LIVE marker (in-flight append, this process) must NOT trigger
    # a rebuild — the appender's delta lands when it finishes
    tok = eng.store._set_pending()
    live_view = {n: st[0]
                 for n, st in _catalog(eng.store, spark).items()}
    assert live_view == {"a": 1}  # stale catalog returned as-is
    eng.store._clear_pending(tok)
    # a marker whose writing process is GONE is a crash signal:
    # repair_catalog() rebuilds from the points and clears it
    dead = os.path.join(eng.store.path,
                        eng.store._PENDING_PREFIX + "deadbeef")
    with open(dead, "w") as fh:
        fh.write("3999999")  # beyond pid_max: no such process
    repaired = {n: st[0]
                for n, st in _catalog(eng.store, spark).items()}
    assert repaired == {"a": 3}
    assert not os.path.exists(dead)
    assert eng.store._pending_markers() == []


def test_stateful_streaming_dedup_and_stats(spark, tmp_path):
    """applyInPandasWithState operators: cross-batch, cross-RESTART
    state via the checkpoint — a duplicate arriving in a later run is
    suppressed; per-series stats accumulate across runs."""
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "in"
    src.mkdir()
    schema = "doc_id long, text string, series string, ts long"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once(name, ckpt, build):
        out = str(tmp_path / name)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (build(stream).writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    write_batch([(1, "hello", "a", 100), (2, "world", "a", 200)])
    got = run_once("dd1", "cd", lambda s: ST.streaming_dedup_first_seen(s))
    assert {r[1] for r in got} == {1, 2}
    stats = run_once("ss1", "cs", lambda s: ST.streaming_series_stats(s))
    assert stats == {("a", 2, 100, 200)}

    # second run, same checkpoints: duplicate text suppressed by
    # restored state; stats continue from (2, 100, 200)
    write_batch([(3, "hello", "a", 50), (4, "fresh", "b", 500)])
    got2 = run_once("dd2", "cd", lambda s: ST.streaming_dedup_first_seen(s))
    assert {r[1] for r in got2} == {4}
    stats2 = run_once("ss2", "cs", lambda s: ST.streaming_series_stats(s))
    assert stats2 == {("a", 3, 50, 200), ("b", 1, 500, 500)}


def test_concurrent_appends_write_disjoint_deltas(spark, tmp_path):
    """Two appenders racing on one store must not clobber each
    other: delta appends are pure file additions (one uuid-named
    file per commit), so both batches' points AND catalog stats
    survive a concurrent write."""
    from concurrent.futures import ThreadPoolExecutor

    eng = SiriEngine.open(spark, str(tmp_path / "xdb"), precision="s")

    def append(base):
        eng.store.append_local(spark, [
            (f"s{base + i}", 100 + i, i, i, None, None, 0)
            for i in range(20)])

    with ThreadPoolExecutor(2) as ex:
        futs = [ex.submit(append, 0), ex.submit(append, 1000)]
        for f in futs:
            f.result()
    cat = {n: st[0] for n, st in _catalog(eng.store, spark).items()}
    assert len(cat) == 40 and all(v == 1 for v in cat.values())
    assert eng.store.read(spark).count() == 40
    # both append commits visible in the delta dir
    assert eng.store._n_delta_appends() == 2


def test_catalog_lsm_deltas_and_bucketed_compaction(spark, tmp_path):
    """The catalog is LSM-shaped for the ingest path: an append
    writes one O(batch) delta file (no read-merge of the base),
    reads fold base ∪ deltas, and compaction folds them into one
    flat base file and leaves no deltas."""
    eng = SiriEngine.open(spark, str(tmp_path / "bdb"), precision="s")
    store = eng.store
    eng.insert({f"s{i}": [[100 + i, float(i)]] for i in range(40)})
    # the append produced a delta, not a base rewrite
    assert store._n_delta_appends() == 1
    assert not os.path.isdir(store._catalog_path)

    def delta_files():
        return {os.path.join(r, f)
                for r, _d, fs in os.walk(store._delta_path)
                for f in fs if f.endswith(".parquet")}

    first = delta_files()
    eng.insert({"s0": [[999, 7.0]]})
    assert store._n_delta_appends() == 2
    # appends are pure file additions: the second append's files are
    # disjoint from (and never rewrite) the first's, so concurrent
    # appenders do not clobber each other
    second = delta_files()
    assert first < second and all(
        os.path.exists(f) for f in first)
    # folded read is correct before any compaction
    cat = {n: st[0] for n, st in _catalog(store, spark).items()}
    assert cat["s0"] == 2 and len(cat) == 40

    def base_files():
        return sorted(os.listdir(store._catalog_path))

    # compaction: the deltas fold into one flat base file
    store._compact_catalog(spark)
    assert store._n_delta_appends() == 0
    before = base_files()
    assert len(before) == 1 and before[0].startswith("base-")
    eng.insert({"s0": [[1500, 8.0]]})
    store._compact_catalog(spark)
    assert store._n_delta_appends() == 0
    after = base_files()
    assert len(after) == 1 and after != before
    cat = {n: st[0] for n, st in _catalog(store, spark).items()}
    assert cat["s0"] == 3 and len(cat) == 40


def test_rewrite_crash_repair_both_windows(spark, tmp_path):
    """delete_series stages partition rewrites under `_rewrite/`
    (underscore → invisible to partition discovery) and commits via
    swap. Both crash windows repair: an uncommitted stage is
    discarded; a committed stage whose target vanished is renamed
    into place."""
    eng = SiriEngine.open(spark, str(tmp_path / "rdb"), precision="s")
    eng.insert({"a": [[100, 1.0], [200, 2.0]], "b": [[150, 5.0]]})
    store = eng.store
    kind, sid, p = next(store._sid_dirs())
    # window 1: staged dir exists WITHOUT _SUCCESS (write died) and
    # the live partition is intact → repair discards the stage
    tmp = store._rewrite_tmp(kind, sid)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-junk.parquet"), "w") as f:
        f.write("junk")
    store._repair_rewrites()
    assert not os.path.isdir(store._rewrite_root)
    assert eng.query("select * from 'a'") == {
        "a": [[100, 1.0], [200, 2.0]]}
    # window 2: committed stage (_SUCCESS) + target removed (crash
    # between rmtree and rename) → repair finishes the swap
    import shutil as _sh
    tmp = store._rewrite_tmp(kind, sid)
    _sh.copytree(p, tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    _sh.rmtree(p)
    store._repair_rewrites()
    assert os.path.isdir(p) and not os.path.isdir(store._rewrite_root)
    assert eng.query("select * from 'a'") == {
        "a": [[100, 1.0], [200, 2.0]]}
    # the real rewrite path still works end-to-end
    eng.query('drop series "b" set ignore_threshold true')
    assert eng.query("list series") == {
        "columns": ["name"], "series": [["a"]]}
    assert not os.path.isdir(store._rewrite_root)


def test_decimal_stream_canonicalizes_as_numeric(spark):
    """decimal(p,s) value columns are numeric series, not strings
    (dtype string is 'decimal(10,2)', never the bare word)."""
    df = spark.createDataFrame(
        [("s", 100, "1.25")], "series string, ts long, v string"
    ).select("series", "ts",
             F.col("v").cast("decimal(10,2)").alias("v"))
    out = ING.canonicalize(df, "series", "ts", "v")
    row = out.collect()[0]
    assert row["tp"] == 1 and row["val_dbl"] == 1.25
    assert row["val_str"] is None


def test_expiration_applies_automatically(spark, tmp_path):
    """Port of the reference's itest/test_expiration.py scenario
    (shard-granular retention, db.c:865-878 + shards.c:277):
    - setting expiration_num drops shards past the cutoff;
    - inserting a point into an already-expired shard never creates
      it (an all-expired insert leaves no series);
    - a later insert (the heartbeat analogue) retires shards that
      crossed the cutoff since."""
    import time as _t

    eng = SiriEngine.open(spark, str(tmp_path / "xdb"), precision="s")
    now = int(_t.time())
    week = 3600 * 24 * 7
    eng.insert({"s": [[now - 4 * week, 1.0], [now - 10, 2.0]]})
    assert eng.query("count shards")["shards"] == 2
    # expiration_num 3w → the 4-week-old shard goes
    eng.query(f"alter database set expiration_num {3 * week}")
    assert eng.query("count shards")["shards"] == 1
    assert eng.query("select * from 's'") == {"s": [[now - 10, 2.0]]}
    # expired-at-ingest: a 3-week-old log point with expiration_log 2w
    # is dropped before it lands; the series never exists. Expiration
    # is SHARD-granular (ref shards.c:277 drops whole expired
    # shards), so the margin past the cutoff must exceed the log
    # shard duration (3 d) — a 15-day-old point would flap with
    # wall-clock phase.
    eng.query(f"alter database set expiration_log {2 * week}")
    eng.insert({"series_log": [[now - 3 * week, "expired"]]})
    got = eng.query('list series "series_log"')
    assert got["series"] == []
    # mixed insert keeps only the valid point
    eng.insert({"series_log": [[now - 3 * week, "expired"],
                               [now - 7 * 24 * 3600, "valid"]]})
    got = eng.query('list series name, length "series_log"')
    assert got["series"] == [["series_log", 1]]
    # heartbeat analogue on the in-memory engine too
    mem = SiriEngine(spark, precision="s")
    mem.insert({"m": [[now - 4 * week, 1.0], [now, 2.0]]})
    mem.query(f"alter database set expiration_num {3 * week}")
    assert mem.query("select * from 'm'") == {"m": [[now, 2.0]]}


def test_maintain_compacts_and_expires(spark, tmp_path):
    """maintain() = the reference's timer-driven background work:
    shard compaction, catalog delta compaction, retention."""
    import time as _t

    eng = SiriEngine.open(spark, str(tmp_path / "mdb"), precision="s")
    now = int(_t.time())
    week = 3600 * 24 * 7
    for i in range(3):  # fragmented appends, 2 deltas+ pending
        eng.insert({"s": [[now - 10 + i, float(i)]]})
    assert eng.store._n_delta_appends() == 3
    kind, sid, p = next(eng.store._sid_dirs())
    assert len([f for f in os.listdir(p)
                if f.endswith(".parquet")]) == 3
    eng.expiration_num = 3 * week
    eng.insert({"old": [[now - 8 * week, 1.0]]})  # dropped at ingest
    out = eng.maintain()
    assert out["success_msg"] == "Maintenance finished."
    # compaction: one file per shard partition, no deltas left
    assert eng.store._n_delta_appends() == 0
    assert len([f for f in os.listdir(p)
                if f.endswith(".parquet")]) == 1
    assert eng.query("list series") == {
        "columns": ["name"], "series": [["s"]]}
    assert eng.query("select count() from 's'") == {
        "s": [[now - 8, 3]]}


def test_streaming_sessionize(spark, tmp_path):
    """Inactivity-gap sessions close only when a later event arrives
    past the gap; the open session survives micro-batches AND
    restarts in the checkpointed state."""
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "sess_in"
    src.mkdir()
    schema = "user_id long, ts long"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once(name):
        out = str(tmp_path / name)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_sessionize(stream, gap=100)
             .writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "sess_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    # user 1: events 0,50 (one session), then 300 → closes session 1
    write_batch([(1, 0), (1, 50), (1, 300), (2, 10)])
    got = run_once("s1")
    assert got == {(1, 1, 0, 50, 2)}   # session 2 and user 2 still open

    # restart: 320 extends user 1's open session; 900 closes it;
    # user 2's 500 closes their first session
    write_batch([(1, 320), (1, 900), (2, 500)])
    got2 = run_once("s2")
    assert (1, 2, 300, 320, 2) in got2
    assert (2, 1, 10, 10, 1) in got2


def test_windowed_rollup_append_watermark_drops_late(spark, tmp_path):
    """Append-mode rollup: the watermark closes buckets (emitted
    exactly once) and later-than-delay points are DROPPED — the
    bounded-state contrast to the reference's accept-late semantics.
    Two runs over one checkpoint: run 1 sees the on-time point plus a
    far-future point that advances the watermark; run 2 delivers a
    late point into the already-closed bucket."""
    import os

    from siridb_server_spark.streaming.ingest import (
        windowed_rollup_append,
    )

    G = 10_000_000_000  # 10 s buckets (ns)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "series string, ts long, value double"

    def run_once(label):
        stream = spark.readStream.schema(schema).json(src)
        q = (windowed_rollup_append(stream, G,
                                    watermark_delay="5 seconds")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    import json as _json

    def write_batch(name, rows):
        with open(f"{src}/{name}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # run 1: on-time point in bucket (0, 10s]; sentinel at t=100s
    # advances the watermark to 95s >> bucket end
    write_batch("a", [
        {"series": "s", "ts": 2 * 10 ** 9, "value": 1.0},
        {"series": "s", "ts": 100 * 10 ** 9, "value": 9.0},
    ])
    run_once("r1")
    # run 2: a late point for the closed bucket — must be dropped
    write_batch("b", [
        {"series": "s", "ts": 3 * 10 ** 9, "value": 100.0},
    ])
    run_once("r2")

    got = {r["bucket_ts"]: (r["cnt"], r["sum"])
           for r in spark.read.parquet(out).collect()}
    # the (0,10s] bucket closed with ONLY the on-time point; the late
    # value=100 never entered it
    assert got.get(10 * 10 ** 9) == (1, 1.0), got


def test_streaming_zscore_state_survives_restart(spark, tmp_path):
    """The anomaly detector's trailing window lives in checkpointed
    state: a spike in run 2 is scored against the baseline streamed
    in run 1 — and the exclusive frame means the spike itself doesn't
    raise the baseline for the next point."""
    import json as _json
    import os

    from siridb_server_spark.streaming.stateful import (
        streaming_zscore_anomalies,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)
    schema = "series string, ts long, val double"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (streaming_zscore_anomalies(stream, window=5,
                                        threshold=3.0)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    def write(name, rows):
        with open(f"{src}/{name}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # run 1: alternating baseline (sd > 0), no anomalies
    write("a", [{"series": "s", "ts": t,
                 "val": 1.0 + 0.2 * (t % 2)} for t in range(1, 6)])
    run_once()
    # run 2: spike + normal follow-up
    write("b", [{"series": "s", "ts": 6, "val": 50.0},
                {"series": "s", "ts": 7, "val": 1.1}])
    run_once()

    rows = [(r["ts"], r["val"]) for r in
            spark.read.parquet(out).collect()]
    assert rows == [(6, 50.0)], rows


def test_log_series_store_restart_roundtrip(spark, tmp_path):
    """String ("log") series survive the store byte-for-byte across
    an engine restart — including unicode outside the BMP and a
    multi-KB value (ref itest/test_log.py:186-246: same data before
    and after a server stop/start)."""
    data = {
        "log": [[1471254705, "one"], [1471254707, "two words"],
                [1471254710, ""]],
        "utf16": [[1471254705, "hi é中\U0001f600 end"],
                  [1471254708, "русский"]],
        "long_log": [[1471254705, "x" * 5000 + " tail"]],
    }
    path = str(tmp_path / "logdb")
    eng = SiriEngine.open(spark, path, precision="s")
    eng.insert(data)
    assert eng.query('select * from "utf16"') == {
        "utf16": data["utf16"]}
    # fresh engine over the same store directory = restart
    eng2 = SiriEngine.open(spark, path, precision="s")
    for name, pts in data.items():
        assert eng2.query(f'select * from "{name}"') == {name: pts}
    # string filters still work on the store-backed path
    assert eng2.query(
        'select filter(~"words") from "log"') == {
        "log": [[1471254707, "two words"]]}


def test_store_snapshot_restore_roundtrip(spark, tmp_path):
    """Quiesced snapshot → restore yields a store (and engine) with
    identical data; a pending append marker blocks the snapshot."""
    src = str(tmp_path / "livedb")
    eng = SiriEngine.open(spark, src, precision="s")
    eng.insert({"cpu": [[1471254705, 1.0], [1471254710, 2.5]],
                "log": [[1471254705, "hello"]]})

    store = eng.store
    snap = store.snapshot(str(tmp_path / "snap"))
    # snapshot is immune to later writes
    eng.insert({"cpu": [[1471254720, 9.9]]})

    from siridb_server_spark.sources.store import PointsStore
    restored = PointsStore.restore(
        snap, str(tmp_path / "restored"),
        store.duration_num, store.duration_log)
    eng2 = SiriEngine.open(spark, restored.path, precision="s")
    assert eng2.query('select * from "cpu"') == {
        "cpu": [[1471254705, 1.0], [1471254710, 2.5]]}
    assert eng2.query('select * from "log"') == {
        "log": [[1471254705, "hello"]]}
    # the live store kept the extra point
    assert eng.query('select * from "cpu"')["cpu"][-1] == \
        [1471254720, 9.9]

    # a pending marker (in-flight append) refuses the snapshot
    tok = store._set_pending()
    try:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="pending"):
            store.snapshot(str(tmp_path / "snap2"))
    finally:
        store._clear_pending(tok)


def test_streaming_heavy_hitters_bounded_state(spark, tmp_path):
    """Space-saving heavy hitters: state is capped at
    shards × capacity entries; heavy tokens survive eviction with
    count - err <= true_count <= count, across micro-batches AND a
    checkpoint restart."""
    from collections import Counter

    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "hh_in"
    src.mkdir()
    schema = "token string"

    def write_batch(tokens):
        spark.createDataFrame([(t,) for t in tokens], schema) \
            .coalesce(1).write.mode("append").parquet(str(src))

    def run_once(name):
        out = str(tmp_path / name)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_heavy_hitters(
            stream, capacity=4, shards=2)
            .writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "hh_ck"))
            .trigger(availableNow=True).start())
        q.awaitTermination(120)
        # keep only each shard's LAST summary (update mode emits one
        # per batch); token→row from the final state
        rows = spark.read.parquet(out).collect()
        return {r["token"]: r for r in rows}

    batch1 = ["hot"] * 50 + ["warm"] * 20 + \
        [f"noise{i}" for i in range(30)]
    write_batch(batch1)
    # restart with more data: heavy tokens keep accumulating
    batch2 = ["hot"] * 25 + ["warm"] * 10 + \
        [f"late{i}" for i in range(20)]
    write_batch(batch2)
    got = run_once("hh_out")

    true = Counter(batch1 + batch2)
    assert "hot" in got and "warm" in got
    for tok in ("hot", "warm"):
        c, e = got[tok]["count"], got[tok]["err"]
        assert c - e <= true[tok] <= c, (tok, c, e, true[tok])
    # bounded state: never more than shards × capacity live entries
    per_shard = Counter()
    for r in got.values():
        per_shard[r["shard"]] += 1
    assert all(n <= 4 for n in per_shard.values()), per_shard


def test_optimize_sorts_shards_for_rowgroup_pruning(spark, tmp_path):
    """optimize() re-sorts rewritten shards by (series, ts, seq) —
    reference parity with the HAS_OVERLAP re-sort (shard.h:12) — so
    parquet column-chunk stats carry tight per-series ranges."""
    import pyarrow.parquet as pq

    from siridb_server_spark.sources.store import PointsStore

    st = PointsStore(str(tmp_path / "db"), 10_000, 10_000)
    # interleaved, out-of-order appends into one shard
    st.append_local(spark, [("z", 5, 0, 1, None, None, 0),
                           ("a", 3, 1, 2, None, None, 0)])
    st.append_local(spark, [("m", 1, 2, 3, None, None, 0),
                           ("a", 9, 3, 4, None, None, 0)])
    st.optimize(spark)
    [(kind, sid, p)] = list(st._sid_dirs())
    files = [f for f in __import__("os").listdir(p)
             if f.endswith(".parquet")]
    assert len(files) == 1
    tbl = pq.read_table(f"{p}/{files[0]}",
                        columns=["series", "ts"])
    rows = list(zip(tbl["series"].to_pylist(), tbl["ts"].to_pylist()))
    assert rows == sorted(rows)
    # data intact after the sorted rewrite
    assert st.read(spark).count() == 4


def test_optimize_rewrites_every_fragmented_shard_in_one_write(
        spark, tmp_path, monkeypatch):
    """optimize() rewrites all fragmented shards of both kinds with
    one Spark write: each lands as one (series, ts, seq)-sorted file
    with its points intact, a shard already compact keeps its file,
    and the job count does not grow with the number of shards."""
    import pyarrow.parquet as pq

    from siridb_server_spark.sources import store as store_mod

    # the store is tiny: force the Spark write over the pyarrow one
    monkeypatch.setattr(store_mod, "LOCAL_OPTIMIZE_MAX_BYTES", -1)
    st = PointsStore(str(tmp_path / "db"), 100, 50)
    # 300 ticks of num (duration 100) and log (duration 50) points,
    # three out-of-order appends each; the last shard gets one file
    rows = [(f"n{i % 4}", 10 * i + 3, i, i, None, None, 0)
            for i in range(30)] + \
           [(f"s{i % 3}", 10 * i + 1, 100 + i, None, None, f"v{i}", 2)
            for i in range(30)]
    for part in (rows[::3], rows[1::3], rows[2::3]):
        st.append_local(spark, list(reversed(part)))
    st.append_local(spark, [("n0", 5_000, 999, 7, None, None, 0)])
    before = {(k, s): sorted(os.listdir(p)) for k, s, p in st._sid_dirs()}
    frag = sorted(ks for ks, fs in before.items() if len(fs) > 1)
    assert len(frag) >= 6 and {k for k, _s in frag} == {"num", "log"}
    want = sorted(map(tuple, st.read(spark).collect()))
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    st.optimize(spark)
    assert len(set(tracker.getJobIdsForGroup()) - jobs) <= 3
    assert sorted(map(tuple, st.read(spark).collect())) == want
    for kind, sid, p in st._sid_dirs():
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if (kind, sid) not in frag:
            assert files == before[(kind, sid)]
            continue
        assert len(files) == 1
        tbl = pq.read_table(os.path.join(p, files[0]))
        assert tbl.column_names == list(POINTS_SCHEMA.names)
        key = list(zip(*(tbl[c].to_pylist()
                         for c in ("series", "ts", "seq"))))
        assert key == sorted(key)
    assert not os.path.isdir(st._rewrite_root)


def test_optimize_pyarrow_rewrite_matches_the_spark_write(
        spark, tmp_path, monkeypatch):
    """Below LOCAL_OPTIMIZE_MAX_BYTES optimize() rewrites in-process
    with pyarrow and runs no Spark job, and each shard's new file holds
    the same rows, in the same (series, ts, seq) order and with the
    same schema, as the Spark write makes of the same store."""
    import shutil

    import pyarrow.parquet as pq

    from siridb_server_spark.sources import store as store_mod

    big = 2**63 - 1
    rows = [(s, ts, seq, vi, vd, vs, tp)
            for seq, (s, ts, vi, vd, vs, tp) in enumerate([
                ("é|1", 30, 1, None, None, 0),
                ("Z", 30, -big - 1, None, None, 0),
                ("a", 12, big, None, None, 0),
                ("a", 12, 0, None, None, 0),  # duplicate ts: seq orders
                ("ß", 7, None, float("nan"), None, 1),
                ("ß", 3, None, float("-inf"), None, 1),
                ("a b", 44, None, -0.0, None, 1),
                ("a b", 41, None, float("inf"), None, 1),
                ("log", 5, None, None, "", 2),
                ("log", 25, None, None, "ünï", 2),
                ("\u65e5", 130, 4, None, None, 0),
                ("\u65e5", 101, 5, None, None, 0),
            ])]
    root = tmp_path / "spark"
    st = PointsStore(str(root), 100, 50)
    # one part written by Spark, two by pyarrow: the pyarrow rewrite
    # reads both writers' files
    st.append_df(spark.createDataFrame(rows[::3], POINTS_SCHEMA))
    for part in (rows[1::3], rows[2::3]):
        st.append_local(spark, list(reversed(part)))
    shutil.copytree(root, tmp_path / "local")
    local = PointsStore(str(tmp_path / "local"), 100, 50)

    def rewritten(store):
        out = {}
        for kind, sid, p in store._sid_dirs():
            [f] = [f for f in os.listdir(p) if f.endswith(".parquet")]
            out[(kind, sid)] = pq.read_table(os.path.join(p, f))
        return out

    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    local.optimize(spark)
    assert set(tracker.getJobIdsForGroup()) == jobs
    assert not os.path.isdir(local._rewrite_root)
    monkeypatch.setattr(store_mod, "LOCAL_OPTIMIZE_MAX_BYTES", -1)
    st.optimize(spark)
    assert set(tracker.getJobIdsForGroup()) - jobs
    want, got = rewritten(st), rewritten(local)
    assert sorted(got) == sorted(want) and len(got) >= 3
    for key, tbl in want.items():
        assert got[key].schema.names == tbl.schema.names
        assert [f.type for f in got[key].schema] == \
            [f.type for f in tbl.schema]
        # NaN != NaN: compare the repr of each row
        assert repr(got[key].to_pylist()) == repr(tbl.to_pylist()), key
    assert sorted(map(repr, local.read(spark).collect())) == \
        sorted(map(repr, st.read(spark).collect()))



def test_delete_series_pyarrow_rewrite_matches_the_spark_write(
        spark, tmp_path, monkeypatch):
    """Below LOCAL_OPTIMIZE_MAX_BYTES delete_series() finds and
    rewrites the hit shards in-process with pyarrow and runs no Spark
    job; every shard is left holding the same files' worth of rows,
    with the same schema, as the Spark rewrite leaves of the same
    store — a shard only the dropped series held included — and the
    catalogs agree."""
    import shutil

    import pyarrow.parquet as pq

    from siridb_server_spark.sources import store as store_mod

    big = 2**63 - 1
    rows = [(s, ts, seq, vi, vd, vs, tp)
            for seq, (s, ts, vi, vd, vs, tp) in enumerate([
                ("é|1", 30, 1, None, None, 0),
                ("Z", 30, -big - 1, None, None, 0),
                ("a", 12, big, None, None, 0),
                ("a", 12, 2**53 + 1, None, None, 0),
                ("ß", 7, None, float("nan"), None, 1),
                ("ß", 3, None, float("-inf"), None, 1),
                ("a b", 44, None, -0.0, None, 1),
                ("a b", 41, None, float("inf"), None, 1),
                ("log", 5, None, None, "", 2),
                ("log", 25, None, None, "ünï", 2),
                ("\u65e5", 130, 4, None, None, 0),
                ("\u65e5", 101, 5, None, None, 0),
                ("a", 250, 6, None, None, 0),
            ])]
    root = tmp_path / "spark"
    st = PointsStore(str(root), 100, 50)
    st.append_df(spark.createDataFrame(rows[::3], POINTS_SCHEMA))
    for part in (rows[1::3], rows[2::3]):
        st.append_local(spark, list(reversed(part)))
    shutil.copytree(root, tmp_path / "local")
    local = PointsStore(str(tmp_path / "local"), 100, 50)
    drop = ["a", "ß", "log", "absent"]

    def shards(store):
        out = {}
        for kind, sid, p in store._sid_dirs():
            files = store._parquet_files(p)
            tbl = pq.read_table(files, schema=store_mod._pa_points_schema(
            )) if files else None
            out[(kind, sid)] = (
                len(files), tbl.schema if tbl is not None else None,
                sorted(map(repr, tbl.to_pylist())) if tbl else [])
        return out

    before = shards(st)
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    local.delete_series(spark, drop)
    assert set(tracker.getJobIdsForGroup()) == jobs
    assert not os.path.isdir(local._rewrite_root)
    monkeypatch.setattr(store_mod, "LOCAL_OPTIMIZE_MAX_BYTES", -1)
    st.delete_series(spark, drop)
    assert set(tracker.getJobIdsForGroup()) - jobs
    want, got = shards(st), shards(local)
    assert sorted(got) == sorted(want) == sorted(before)
    changed = [k for k in want if want[k] != before[k]]
    assert len(changed) >= 3
    # a shard only dropped series held keeps one row-less file
    assert any(not want[k][2] for k in changed)
    for key, (n, schema, rows_) in want.items():
        got_n, got_schema, got_rows = got[key]
        # each side leaves a rewritten shard as one file
        assert got_n == n == (1 if key in changed else before[key][0]), \
            key
        assert (got_schema, got_rows) == (schema, rows_), key
    assert st.read_catalog_local() == local.read_catalog_local()
    assert not {r["series"] for r in local.read(spark).collect()} & \
        set(drop)
    assert sorted(map(repr, local.read(spark).collect())) == \
        sorted(map(repr, st.read(spark).collect()))


def test_sessionize_timeout_tombstone_keeps_seq(spark):
    """State-transition contract of the idle-timeout flush, driven
    through a fake GroupState (the end-to-end processing-time test
    costs minutes per streaming run): the flush emits the open
    session, leaves a seq tombstone, and a returning key CONTINUES
    numbering — (key, session_seq) pairs stay unique."""
    import pandas as pd

    from siridb_server_spark.streaming.stateful import _sessionize_step

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeouts = []

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def setTimeoutDuration(self, ms):
            self.timeouts.append(ms)

    key, st = (1,), FakeState()

    def step(ts_batch, timed_out=False):
        st.hasTimedOut = timed_out
        pdfs = ([pd.DataFrame({"ts": ts_batch})]
                if ts_batch else [])
        outs = list(_sessionize_step(key, iter(pdfs), st, 100, 500))
        return (pd.concat(outs) if outs
                else pd.DataFrame(columns=["user_id"]))

    out1 = step([0, 50])                 # opens session 1
    assert len(out1) == 0 and st._v == (1, 0, 50, 2)
    out2 = step([], timed_out=True)      # idle flush
    assert [tuple(r) for r in out2.itertuples(index=False)] == \
        [(1, 1, 0, 50, 2)]
    assert st._v == (1, None, None, 0)   # tombstone keeps seq
    out3 = step([10_000, 20_000])        # returns: seq CONTINUES at 2
    assert [tuple(r) for r in out3.itertuples(index=False)] == \
        [(1, 2, 10_000, 10_000, 1)]
    assert st._v == (3, 20_000, 20_000, 1)
    # a timeout on the OPEN session 3 flushes it...
    out4 = step([], timed_out=True)
    assert [tuple(r) for r in out4.itertuples(index=False)] == \
        [(1, 3, 20_000, 20_000, 1)]
    assert st._v == (3, None, None, 0)
    # ...and a timed-out TOMBSTONE emits nothing and stays put
    out5 = step([], timed_out=True)
    assert len(out5) == 0
    assert st._v == (3, None, None, 0)
    # timeouts were re-armed only on data batches
    assert st.timeouts == [500, 500]


def test_windowed_rollup_append_exact_at_epoch_ns_scale(spark):
    """The -1 ns right-closed shift must survive epoch-ns magnitude
    (~1.6e18 > 2^53): a point exactly on a bucket boundary k·g
    labels bucket k·g, not k·g + g. Double division would round the
    shift away (ulp = 256 ns at that magnitude)."""
    import pandas as pd

    g = 10 ** 9  # 1 s buckets in ns
    boundary = 1_600_000_000_000_000_000
    df = spark.createDataFrame(
        [("s", boundary, 1.0), ("s", boundary + 1, 2.0)],
        "series string, ts long, value double")
    # batch-mode replay of the streaming expression tree
    out = ING.windowed_rollup_append(df, g)
    got = {r["bucket_ts"]: r["cnt"] for r in out.collect()}
    assert got == {boundary: 1, boundary + g: 1}, got


def test_streaming_minhash_near_dup_across_restart(spark, tmp_path):
    """Streaming LSH near-dup: an exact duplicate arriving in a LATER
    RUN is flagged against the original via checkpointed band-bucket
    state; unrelated docs are never flagged."""
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "in"
    src.mkdir()
    schema = "doc_id long, text string"
    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen sleepy badgers watch from the mossy fence")
    other = ("completely different content about spark partitions "
             "and shuffle boundaries with no overlapping shingles "
             "anywhere in this sentence at all honestly")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once(name):
        out = str(tmp_path / name)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_minhash_dedup(stream)
             .writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    write_batch([(1, base), (2, other)])
    first = run_once("o1")
    # 1 and 2 share no shingles → no candidate pairs on first sight
    assert {(r["doc_id"], r["dup_of"]) for r in first} == set()

    # a later run: doc 3 duplicates doc 1 exactly (all bands collide
    # with the state restored from the checkpoint); doc 4 is fresh
    write_batch([(3, base), (4, "yet another unrelated doc "
                                "full of novel words entirely")])
    second = run_once("o2")
    pairs = {(r["doc_id"], r["dup_of"]) for r in second}
    assert pairs == {(3, 1)}
    # all 4 bands agree on an exact duplicate
    assert len(second) == 4


def test_streaming_ewma_matches_batch_across_restart(spark, tmp_path):
    """The streaming EWMA trajectory equals the batch operator's
    bit-for-bit, including across a checkpoint restart between
    micro-batches — live smoothing and backfill agree exactly."""
    from siridb_server_spark.operators import timeseries as TSO
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "in"
    src.mkdir()
    schema = "series string, ts long, val double"
    b1 = [("a", 1, 4.0), ("a", 2, 8.0), ("b", 1, 1.0)]
    b2 = [("a", 3, 0.0), ("b", 2, 5.0)]

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once(name):
        out = str(tmp_path / name)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_ewma(stream)
             .writeStream.foreachBatch(sink).outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r["series"], r["ts"]): r["ewma"]
                for r in spark.read.parquet(out).collect()}

    write_batch(b1)
    run_once("out_ewma")
    write_batch(b2)
    got = run_once("out_ewma")   # restart with restored state;
                                 # same sink dir accumulates both runs

    batch_df = spark.createDataFrame(b1 + b2, schema)
    want = {(r["series"], r["ts"]): r["ewma"]
            for r in TSO.ewma(batch_df).collect()}
    assert got == want


def test_streaming_holt_matches_batch_across_restart(spark, tmp_path):
    """The streaming Holt (level, trend) trajectory equals the batch
    operator's bit-for-bit across a checkpoint restart, and each row
    carries the one-step forecast level + trend."""
    from siridb_server_spark.operators import timeseries as TSO
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "in"
    src.mkdir()
    schema = "series string, ts long, val double"
    b1 = [("a", 1, 10.0), ("a", 2, 12.0), ("b", 1, 1.0)]
    b2 = [("a", 3, 20.0), ("b", 2, 5.0)]

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once():
        out = str(tmp_path / "out_holt")

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_holt(stream)
             .writeStream.foreachBatch(sink).outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r["series"], r["ts"]):
                (r["level"], r["trend"], r["forecast_1"])
                for r in spark.read.parquet(out).collect()}

    write_batch(b1)
    run_once()
    write_batch(b2)
    got = run_once()

    batch = {(r["series"], r["ts"]): (r["level"], r["trend"])
             for r in TSO.holt_linear(
                 spark.createDataFrame(b1 + b2, schema)).collect()}
    assert set(got) == set(batch)
    for k, (lv, tr) in batch.items():
        glv, gtr, gf = got[k]
        assert glv == lv and gtr == tr
        assert gf == (None if tr is None else lv + tr)


def test_catalog_first_last_values_fold_across_appends(spark,
                                                       tmp_path):
    """The first/last value blocks stay exact across multiple
    appends, out-of-order timestamps, duplicate-ts seq ties, and
    delta compaction — including through the Arrow datasource
    writer's partial-stats path."""
    from siridb_server_spark import SiriEngine

    eng = SiriEngine.open(spark, str(tmp_path / "vdb"), precision="s")
    eng.insert({"s": [[200, 5]]})
    eng.insert({"s": [[100, 7]]})       # earlier ts in a LATER batch
    eng.insert({"s": [[300, 2], [300, 4]]})  # dup ts: seq breaks tie
    assert eng.query("select first() from 's'") == {"s": [[100, 7]]}
    assert eng.query("select last() from 's'") == {"s": [[300, 4]]}
    # fold survives compaction
    eng.store._compact_catalog(spark)
    eng._invalidate()
    assert eng.query("select first() from 's'") == {"s": [[100, 7]]}
    assert eng.query("select last() from 's'") == {"s": [[300, 4]]}
    # datasource writer path: append via the named sink, then check
    # the folded catalog feeds the same fast path
    from siridb_server_spark.sources.datasource import register
    register(spark)
    df = spark.createDataFrame(
        [("s", 50, 99, 3, None, None, 0),
         ("w", 10, 98, None, 8.25, None, 1)],
        "series string, ts long, seq long, val_int long,"
        " val_dbl double, val_str string, tp int")
    (df.write.format("siridb").mode("append")
     .option("path", eng.store.path)
     .option("duration_num", str(eng.store.duration_num))
     .option("duration_log", str(eng.store.duration_log)).save())
    eng._invalidate()
    assert eng.query("select first() from 's'") == {"s": [[50, 3]]}
    assert eng.query("select last() from 's'") == {"s": [[300, 4]]}
    assert eng.query("select last() from 'w'") == {"w": [[10, 8.25]]}


def test_auto_duration_from_first_insert(spark, tmp_path):
    """itest/test_auto_duration.py parity (within the one-duration-
    per-kind layout): open(auto_duration=True) derives the shard
    duration from the first batch's median interval (points.c:1747
    interval detection + shard.c:136 sizing), persists it, and a
    reopen agrees; irregular batches keep the defaults. Durations
    also persist for PLAIN opens so reopening never changes the sid
    math."""
    from siridb_server_spark.sources.store import (
        duration_from_interval,
        interval_from_points,
    )

    # interval detection port: regular 60 s cadence detects 60;
    # irregular data detects 0; short series detect 0
    assert interval_from_points(list(range(0, 600, 60))) == 60
    assert interval_from_points([0, 1, 2, 3]) == 0
    assert interval_from_points(
        [0, 1, 50, 51, 300, 1000, 1001, 5000, 9000]) == 0

    eng = SiriEngine.open(spark, str(tmp_path / "adb"),
                          precision="s", auto_duration=True)
    default_num = eng.duration_num
    eng.insert({"m": [[1000 + 60 * i, float(i)] for i in range(20)]})
    want = duration_from_interval(60, 1)
    assert eng.duration_num == want != default_num
    # persisted: a plain reopen sees the derived duration
    eng2 = SiriEngine.open(spark, str(tmp_path / "adb"),
                           precision="s")
    assert eng2.duration_num == want
    assert eng2.query("select count() from 'm'") == {
        "m": [[1000 + 60 * 19, 20]]}
    # irregular first batch keeps the defaults (and persists them)
    eng3 = SiriEngine.open(spark, str(tmp_path / "bdb"),
                           precision="s", auto_duration=True)
    eng3.insert({"x": [[t, 1] for t in
                       [0, 1, 50, 51, 300, 1000, 1001, 5000, 9000]]})
    assert eng3.duration_num == default_num
    assert SiriEngine.open(spark, str(tmp_path / "bdb"),
                           precision="s").duration_num == default_num


def test_arrow_stats_path_matches_spark_path(spark, tmp_path,
                                             monkeypatch):
    """Small appends fold catalog stats driver-side with pyarrow
    (no second Spark job); the resulting catalog must be identical
    to the distributed read-back path's — including exact null
    ints, None-vs-NaN doubles, and (ts, seq) first/last ties."""
    from siridb_server_spark.model import POINTS_SCHEMA
    from siridb_server_spark.sources import store as store_mod

    rows = [
        ("a", 200, 0, 5, None, None, 1),
        ("a", 100, 1, 7, None, None, 1),
        ("a", 100, 2, 9, None, None, 1),       # dup ts, higher seq
        ("d", 100, 0, None, float("nan"), None, 2),
        ("d", 300, 1, None, 2.5, None, 2),
        ("lg", 150, 0, None, None, "x", 3),
    ]
    df = spark.createDataFrame(rows, POINTS_SCHEMA)
    s_arrow = PointsStore(str(tmp_path / "arrow"), 3600, 3600)
    s_spark = PointsStore(str(tmp_path / "spark"), 3600, 3600)
    s_arrow.append_df(df)
    # force the distributed fallback for the twin store
    monkeypatch.setattr(store_mod, "ARROW_STATS_MAX_BYTES", 0)
    s_spark.append_df(df)
    ca, cs = s_arrow.read_catalog_local(), s_spark.read_catalog_local()
    assert ca is not None and cs is not None
    assert set(ca) == set(cs) == {"a", "d", "lg"}
    import math
    for k in ca:
        la, ls = ca[k], cs[k]
        assert la[:4] == ls[:4]
        for va, vs in zip(la[4] + la[5], ls[4] + ls[5]):
            if isinstance(va, float) and math.isnan(va):
                assert isinstance(vs, float) and math.isnan(vs)
            else:
                assert va == vs
    # the arrow path found the exact first/last semantics
    assert ca["a"][4] == (1, 7, None, None)   # min (ts, seq)
    assert ca["a"][5] == (0, 5, None, None)   # max (ts, seq)
    assert math.isnan(ca["d"][4][2])          # genuine NaN point kept


def test_append_local_matches_spark_writer(spark, tmp_path):
    """The zero-job pyarrow ingest path (append_local) lands rows in
    the SAME sid directories — trunc-mod, not Python floor-mod, for
    negative timestamps — and folds an identical catalog to the
    distributed writer's."""
    import os

    from siridb_server_spark.model import POINTS_SCHEMA

    rows = [("n", -5, 0, None, 1.5, None, 2),
            ("n", -7200, 1, None, 2.5, None, 2),
            ("n", 10, 2, None, 3.5, None, 2),
            ("lg", 50, 3, None, None, "x", 3)]
    a = PointsStore(str(tmp_path / "a"), 3600, 7200)
    b = PointsStore(str(tmp_path / "b"), 3600, 7200)
    a.append_local(spark, rows)
    b.append_df(spark.createDataFrame(rows, POINTS_SCHEMA))

    def sids(p):
        out = set()
        for _root, dirs, _files in os.walk(p):
            out.update(d for d in dirs if d.startswith("sid="))
        return sorted(out)

    assert sids(str(tmp_path / "a")) == sids(str(tmp_path / "b"))
    assert a.read_catalog_local() == b.read_catalog_local()
    # both read back identically through the Spark scan
    ra = a.read(spark).orderBy("ts", "seq").collect()
    rb = b.read(spark).orderBy("ts", "seq").collect()
    assert ra == rb


def test_write_through_snapshot_matches_reload(spark, tmp_path,
                                               monkeypatch):
    """The engine folds its own inserts into the driver catalog
    snapshot instead of reloading it. After every step of a seeded
    insert sequence (new and existing int/float/string series,
    out-of-order and duplicate timestamps, an insert-triggered
    catalog compaction, and a maintain()) the snapshot equals a
    freshly opened engine's, and the catalog files were loaded once."""
    import random

    rng = random.Random(11)
    path = str(tmp_path / "wdb")
    eng = SiriEngine.open(spark, path, precision="s")
    # catalog-file loads of the engine's store that built a snapshot,
    # and the result of every catalog compaction
    loads, compactions = [], []
    orig_load = PointsStore.read_catalog_local
    orig_compact = PointsStore._compact_catalog

    def counted_load(self, files=None):
        out = orig_load(self, files)
        if self is eng.store and out is not None:
            loads.append(1)
        return out

    def counted_compact(self, spark_):
        out = orig_compact(self, spark_)
        compactions.append(out)
        return out

    monkeypatch.setattr(PointsStore, "read_catalog_local", counted_load)
    monkeypatch.setattr(PointsStore, "_compact_catalog", counted_compact)

    values = {"i": lambda: rng.randint(-50, 50),
              "f": lambda: rng.uniform(-5, 5),
              "s": lambda: rng.choice(["a", "bb", "ccc"])}

    def batch(step):
        data = {}
        for name in rng.sample([f"{k}{j}" for k in "ifs"
                                for j in range(4)], 4) + [f"i-new{step}"]:
            ts = [rng.randint(1000, 1040) for _ in range(3)]
            ts.append(ts[0])                # duplicate timestamp
            data[name] = [[t, values[name[0]]()] for t in ts]
        return data

    def check(step):
        fresh = SiriEngine.open(spark, path, precision="s")
        assert eng._catalog_local() == fresh._catalog_local(), step
        assert len(loads) == 1, step

    n_inserts = PointsStore.DELTA_COMPACT_AT + 4
    for step in range(n_inserts):
        eng.insert(batch(step))
        check(step)
    assert any(c is not None for c in compactions), \
        "no insert-triggered compaction was re-keyed"
    eng.maintain()
    assert not eng.store._delta_files()
    check("maintain")
    for step in range(n_inserts, n_inserts + 2):
        eng.insert(batch(step))
        check(step)

    # a foreign appender's delta is not in the snapshot: the engine's
    # next insert sees files it did not write and reloads
    foreign = PointsStore(path, eng.store.duration_num,
                          eng.store.duration_log)
    n_series = eng.query("count series")["series"]
    foreign.append_local(spark, [("foreign", 1020, 1 << 40, 7, None,
                                 None, 0)])
    eng.insert({"i0": [[1030, 1]]})
    assert eng.query("count series") == {"series": n_series + 1}
    assert "foreign" in {r[0] for r in
                         eng.query("list series")["series"]}
    assert len(loads) == 2
    fresh = SiriEngine.open(spark, path, precision="s")
    assert eng._catalog_local() == fresh._catalog_local()

    # a stale pending marker (crashed appender) drops the snapshot;
    # the next read repairs the catalog first, then reloads it
    with open(os.path.join(path, PointsStore._PENDING_PREFIX + "x"),
              "w") as fh:
        fh.write("999999999")
    eng.insert({"i0": [[1031, 2]]})
    assert eng._local_cat is None
    assert eng._catalog_local() == \
        SiriEngine.open(spark, path, precision="s")._catalog_local()
    assert eng.store.catalog_files() is not None and len(loads) == 3


def test_write_through_snapshot_memory_engine(spark):
    """A memory-backed engine folds each insert's points into its
    snapshot with the same fold a reload of the in-heap rows uses."""
    eng = SiriEngine(spark, precision="s")
    eng.insert({"a": [[10, 1], [5, 2]], "b": [[7, "x"]]})
    assert eng._catalog_local() is not None
    eng.insert({"a": [[5, 3], [20, 4]], "c": [[1, 0.5]]})
    kept = eng._catalog_local()
    eng._invalidate()
    assert kept == eng._catalog_local()
    assert kept["a"]["length"] == 4 and kept["a"]["first"] == 2
    assert kept["a"]["last"] == 4


def test_streaming_quantiles_match_batch_across_restart(
        spark, tmp_path):
    """The streaming quantile tracker's state is the SAME
    deterministic bottom-k priority sample as the batch sketch, so
    after draining the stream — including across a checkpoint
    restart between micro-batches — the last emitted quantiles per
    key equal quantile_estimate over the batch sketch of everything
    seen."""
    from pyspark.sql import functions as FF

    from siridb_server_spark.operators import sketches as SK
    from siridb_server_spark.streaming import stateful as ST

    src = tmp_path / "in"
    src.mkdir()
    schema = "key string, id long, value double"
    rows1 = [("a", i, float((i * 37) % 500)) for i in range(400)] + \
            [("b", 10_000 + i, float(i)) for i in range(100)]
    rows2 = [("a", 5_000 + i, float((i * 13) % 900))
             for i in range(300)]

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def run_once(out_name):
        out = str(tmp_path / out_name)

        def sink(bdf, bid):
            bdf.withColumn("bid", FF.lit(bid)) \
                .write.mode("append").parquet(out)

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (ST.streaming_quantiles(stream, key_col="key",
                                    value_col="value", id_col="id")
             .writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        res = spark.read.parquet(out)
        last = res.orderBy("bid").collect()
        return {r["key"]: (r["sample_n"], r["p50"], r["p90"],
                           r["p99"])
                for r in last}  # later bids overwrite earlier

    write_batch(rows1)
    run_once("out_q")
    write_batch(rows2)
    got = run_once("out_q")

    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    sk = SK.quantile_sketch(batch_df, "key", "value", "id")
    est = SK.quantile_estimate(sk, "key",
                               [500000, 900000, 990000]).collect()
    want = {}
    for r in est:
        sn, p = want.setdefault(r["key"], [r["sample_n"], {}])
        p[r["q_ppm"]] = r["est"]
    for key, (sn, p) in want.items():
        assert got[key] == (sn, p[500000], p[900000], p[990000]), key


def test_sq_index_stream_ingest_exactly_once_and_compaction(
        spark, tmp_path):
    """Streaming SQIndex growth: batch-stamped overwrite deltas make
    redelivery a no-op (marker) or a replace (partial write), the
    loaded index equals the batch-append path over the same deltas
    (shared _sq_assign), and delta compaction folds dirs without
    changing any search result — crash leftovers re-fold
    harmlessly."""
    import os
    import shutil

    from pyspark.sql import functions as FF

    from siridb_server_spark.operators import similarity as SIM
    from siridb_server_spark.sources.testdata import load
    from siridb_server_spark.streaming import corpus as SC

    emb = load(spark, "/root/testdata/sf0.001", "embeddings") \
        .where("vec_id <> 0")
    base = emb.where("vec_id % 5 = 0")
    d1 = emb.where("vec_id % 5 = 1")
    d2 = emb.where("vec_id % 5 = 2")
    q = [float(x) for x in
         load(spark, "/root/testdata/sf0.001", "embeddings")
         .where("vec_id = 0").first()["embedding"]]

    streamed = str(tmp_path / "streamed")
    batched = str(tmp_path / "batched")
    for p in (streamed, batched):
        idx = SIM.SQIndex.from_labels(base)
        idx.save(p)
        idx.unpersist()

    sink = SC.make_sq_index_ingest_sink(streamed)
    # partial previous attempt for batch 0: half the rows, no
    # marker -> the redelivered sink call must REPLACE it
    half = d1.limit(max(1, d1.count() // 2))
    (SIM._sq_assign(spark, streamed, half)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(streamed, "cells_delta", "batch=0")))
    sink(d1, 0)
    sink(d1, 0)          # marker present -> no-op, no duplicates
    sink(d2, 1)

    SIM.sq_index_append(spark, batched, d1)
    SIM.sq_index_append(spark, batched, d2)

    want_n = base.count() + d1.count() + d2.count()
    got_idx = SIM.SQIndex.load(spark, streamed)
    assert got_idx.cells.count() == want_n
    got = [(r["vec_id"], r["cos"]) for r in
           got_idx.search(q, k=10, nprobe=3).collect()]
    want = [(r["vec_id"], r["cos"]) for r in
            SIM.SQIndex.load(spark, batched)
            .search(q, k=10, nprobe=3).collect()]
    assert got == want

    # compaction folds the two delta dirs into one negative base
    folded = SC.compact_sq_index(spark, streamed)
    assert folded == {"cells_delta": 2}
    ddirs = [d for d in os.listdir(
        os.path.join(streamed, "cells_delta"))
        if d.startswith("batch=")]
    assert ddirs == ["batch=-1"]
    after = [(r["vec_id"], r["cos"]) for r in
             SIM.SQIndex.load(spark, streamed)
             .search(q, k=10, nprobe=3).collect()]
    assert after == want

    # crash-refold: a consumed dir resurfacing re-folds harmlessly
    # (distinct on full rows)
    src = os.path.join(streamed, "cells_delta", "batch=-1")
    shutil.copytree(src, os.path.join(streamed, "cells_delta",
                                      "batch=7"))
    SC.compact_sq_index(spark, streamed)
    again = [(r["vec_id"], r["cos"]) for r in
             SIM.SQIndex.load(spark, streamed)
             .search(q, k=10, nprobe=3).collect()]
    assert again == want
    n_after = SIM.SQIndex.load(spark, streamed).cells.count()
    assert n_after == want_n


def test_ann_query_stream_serves_index_results(spark, tmp_path):
    """A real availableNow query stream answered against the saved
    SQIndex: per-batch results equal the batch knn_join over the
    same queries, redelivery is a marker no-op, and queries see
    index growth from an interleaved ingest delta."""
    import os

    from pyspark.sql import functions as FF

    from siridb_server_spark.operators import similarity as SIM
    from siridb_server_spark.sources.testdata import load
    from siridb_server_spark.streaming import corpus as SC

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.where("vec_id >= 20")
    queries = emb.where("vec_id < 3") \
        .select(FF.col("vec_id").alias("qid"), "embedding")
    ipath = str(tmp_path / "idx")
    idx = SIM.SQIndex.from_labels(corpus)
    idx.save(ipath)
    idx.unpersist()

    src = tmp_path / "qin"
    src.mkdir()
    queries.coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "res")
    stream = spark.readStream \
        .schema("qid long, embedding array<float>") \
        .parquet(str(src) + "/*")
    q = SC.stream_ann_queries(
        stream, ipath, out, k=5, nprobe=2, rerank=4,
        checkpoint=str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)
    q.stop()

    got = sorted(tuple(r) for r in spark.read.parquet(out)
                 .select("qid", "vec_id", "cos", "rank").collect())
    want = sorted(tuple(r) for r in
                  SIM.SQIndex.load(spark, ipath)
                  .knn_join(queries, k=5, nprobe=2, rerank=4)
                  .collect())
    assert got == want and len(got) > 0

    # redelivery with the same batch id is a no-op (marker)
    sink = SC.make_ann_query_sink(ipath, out, k=5, nprobe=2)
    before = os.listdir(out)
    sink(queries, 0)
    assert os.listdir(out) == before

    # an ingest delta is visible to the NEXT query batch
    delta = emb.where("(vec_id >= 3) AND (vec_id < 20)") \
        .select("vec_id", "embedding")
    SC.make_sq_index_ingest_sink(ipath)(delta, 0)
    sink2 = SC.make_ann_query_sink(ipath, out, k=5, nprobe=2,
                                   rerank=4)
    sink2(queries, 9)
    seen = {r["vec_id"] for r in spark.read.parquet(
        os.path.join(out, "batch=9")).collect()}
    grown = SIM.SQIndex.load(spark, ipath)
    want2 = {r["vec_id"] for r in
             grown.knn_join(queries, k=5, nprobe=2, rerank=4)
             .collect()}
    assert seen == want2


def test_sq_drift_stream_snapshots_per_batch(spark, tmp_path):
    """A real drift-snapshot stream: per-batch reports equal the
    batch sq_index_drift over the same rows, land batch-stamped,
    and redelivery is a marker no-op."""
    import os

    from pyspark.sql import functions as FF

    from siridb_server_spark.operators import similarity as SIM
    from siridb_server_spark.sources.testdata import load
    from siridb_server_spark.streaming import corpus as SC

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where("vec_id % 5 = 0")
    delta = emb.where("vec_id % 5 = 1") \
        .select("vec_id", "embedding")
    ipath = str(tmp_path / "idx")
    idx = SIM.SQIndex.from_labels(base)
    idx.save(ipath)
    idx.unpersist()

    src = tmp_path / "din"
    src.mkdir()
    delta.coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "drift")
    stream = spark.readStream \
        .schema("vec_id long, embedding array<float>") \
        .parquet(str(src) + "/*")
    q = SC.stream_sq_index_drift(
        stream, ipath, out, checkpoint=str(tmp_path / "ck"),
        available_now=True)
    q.awaitTermination(120)
    q.stop()

    got = sorted(tuple(r) for r in spark.read.parquet(out)
                 .drop("batch").collect())
    want = sorted(tuple(r) for r in SIM.sq_index_drift(
        spark, ipath, delta).collect())
    assert got == want and len(got) > 0

    sink = SC.make_sq_drift_sink(ipath, out)
    before = sorted(os.listdir(out))
    sink(delta, 0)                       # marker -> no-op
    assert sorted(os.listdir(out)) == before


def test_index_lifecycle_committer_end_to_end(spark, tmp_path,
                                              monkeypatch):
    """The FULL index lifecycle under the object-store contract
    (fs='committer', no directory rename anywhere), for BOTH
    SQIndex and PQIndex: save → REAL streaming append (availableNow
    file stream, one file per micro-batch) → committer compaction
    with a crash injected BETWEEN the fold and the delta tombstones
    → self-healing refold → rebuild (snapshot rotation) → serve.
    The served answers after the healed compaction equal a plain
    batch-append twin that never compacted or crashed; previously
    only covered piecewise (r11 verdict #5)."""
    import shutil

    from siridb_server_spark.operators import similarity as SIM
    from siridb_server_spark.sources.testdata import load
    from siridb_server_spark.streaming import corpus as SC

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where("vec_id % 5 = 0 AND vec_id <> 0")
    d1 = emb.where("vec_id % 5 = 1").select("vec_id", "embedding")
    d2 = emb.where("vec_id % 5 = 2").select("vec_id", "embedding")
    qvec = [float(x) for x in
            emb.where("vec_id = 0").first()["embedding"]]
    want_n = base.count() + d1.count() + d2.count()

    def crash_compact(fn, path):
        # fold lands, every consumed delta survives (the crash
        # window between publish and tombstones)
        real = shutil.rmtree
        monkeypatch.setattr(
            shutil, "rmtree",
            lambda *a, **kw: (_ for _ in ()).throw(
                RuntimeError("injected pre-tombstone crash")))
        try:
            with pytest.raises(RuntimeError,
                               match="pre-tombstone"):
                fn(spark, path, fs="committer")
        finally:
            monkeypatch.setattr(shutil, "rmtree", real)

    def stream_in(start_fn, path, tag):
        src = tmp_path / f"src-{tag}"
        src.mkdir()
        d1.coalesce(1).write.parquet(str(src / "f1"))
        d2.coalesce(1).write.parquet(str(src / "f2"))
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*"))
        q = start_fn(stream, path,
                     checkpoint=str(tmp_path / f"ck-{tag}"),
                     available_now=True)
        q.awaitTermination(120)
        q.stop()

    # ---- SQIndex ----
    sq_stream, sq_batch = str(tmp_path / "sqs"), str(tmp_path / "sqb")
    idx = SIM.SQIndex.from_labels(base)
    for p in (sq_stream, sq_batch):
        idx.save(p)
    idx.unpersist()
    stream_in(SC.stream_sq_index_ingest, sq_stream, "sq")
    SIM.sq_index_append(spark, sq_batch, d1)
    SIM.sq_index_append(spark, sq_batch, d2)
    assert SIM.SQIndex.load(spark, sq_stream).cells.count() == want_n

    crash_compact(SC.compact_sq_index, sq_stream)
    ddir = os.path.join(sq_stream, "cells_delta")
    dirs = sorted(d for d in os.listdir(ddir)
                  if d.startswith("batch="))
    assert "batch=-1" in dirs and len(dirs) == 3, dirs
    # refold self-heals: one negative base, duplicates distinct'd
    assert SC.compact_sq_index(spark, sq_stream, fs="committer") \
        == {"cells_delta": 3}
    assert sorted(d for d in os.listdir(ddir)
                  if d.startswith("batch=")) == ["batch=-2"]
    healed = SIM.SQIndex.load(spark, sq_stream)
    assert healed.cells.count() == want_n
    got = [tuple(r) for r in
           healed.search(qvec, k=10, nprobe=3).collect()]
    want = [tuple(r) for r in
            SIM.SQIndex.load(spark, sq_batch)
            .search(qvec, k=10, nprobe=3).collect()]
    assert got == want and len(got) == 10
    # rebuild rotates a NEW snapshot from the healed index: every
    # indexed (id) row lands in the new one, and it serves
    sq_new = str(tmp_path / "sq-rebuilt")
    new = SIM.sq_index_rebuild(spark, sq_stream, sq_new, iters=2)
    try:
        old_ids = {r["vec_id"] for r in
                   healed.cells.select("vec_id").collect()}
        new_ids = {r["vec_id"] for r in
                   new.cells.select("vec_id").collect()}
        assert new_ids == old_ids
    finally:
        new.unpersist()
    assert len(SIM.SQIndex.load(spark, sq_new)
               .search(qvec, k=10).collect()) == 10

    # ---- PQIndex ----
    pq_stream, pq_batch = str(tmp_path / "pqs"), str(tmp_path / "pqb")
    pidx = SIM.PQIndex.train(base, m=4, k=8, iters=2)
    for p in (pq_stream, pq_batch):
        pidx.save(p)
    pidx.unpersist()
    stream_in(SC.stream_pq_index_ingest, pq_stream, "pq")
    SIM.pq_index_append(spark, pq_batch, d1)
    SIM.pq_index_append(spark, pq_batch, d2)
    assert SIM.PQIndex.load(spark, pq_stream).codes.count() == want_n

    crash_compact(SC.compact_pq_index, pq_stream)
    cdir = os.path.join(pq_stream, "codes_delta")
    dirs = sorted(d for d in os.listdir(cdir)
                  if d.startswith("batch="))
    assert "batch=-1" in dirs and len(dirs) == 3, dirs
    assert SC.compact_pq_index(spark, pq_stream, fs="committer") \
        == {"codes_delta": 3}
    assert sorted(d for d in os.listdir(cdir)
                  if d.startswith("batch=")) == ["batch=-2"]
    phealed = SIM.PQIndex.load(spark, pq_stream)
    assert phealed.codes.count() == want_n
    pgot = [tuple(r) for r in phealed.search(qvec, k=10).collect()]
    pwant = [tuple(r) for r in
             SIM.PQIndex.load(spark, pq_batch)
             .search(qvec, k=10).collect()]
    assert pgot == pwant and len(pgot) == 10
    # rebuild: PQ honestly requires the source vectors (codes are
    # lossy); rotation from the caller-owned corpus serves
    pq_new = str(tmp_path / "pq-rebuilt")
    pnew = SIM.pq_index_rebuild(
        spark, pq_stream, pq_new,
        emb=base.select("vec_id", "embedding")
        .unionByName(d1).unionByName(d2), iters=1)
    try:
        assert pnew.codes.count() == want_n
    finally:
        pnew.unpersist()
    assert len(SIM.PQIndex.load(spark, pq_new)
               .search(qvec, k=10).collect()) == 10


def test_pq_ann_query_stream_serves_batches(spark, tmp_path):
    """The PQ serving twin of the SQ ANN query stream: a real
    availableNow stream of query vectors answered against a saved
    PQIndex — per-batch results equal PQIndex.load().knn_join over
    the same queries (ADC path), redelivery with the same batch id
    is a marker no-op, and with emb_path the sink serves the
    exactly re-ranked shortlist instead."""
    import os

    from siridb_server_spark.operators import similarity as SIM
    from siridb_server_spark.sources.testdata import load
    from siridb_server_spark.streaming import corpus as SC

    emb = load(spark, "/root/testdata/sf0.001", "embeddings") \
        .where("vec_id <> 0")
    queries = emb.where("vec_id < 4") \
        .select((F.col("vec_id") + 1000).alias("qid"), "embedding")
    ipath = str(tmp_path / "pq-idx")
    idx = SIM.PQIndex.train(emb, m=4, k=8, iters=2)
    idx.save(ipath)
    idx.unpersist()

    src = tmp_path / "qin"
    src.mkdir()
    queries.coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "res")
    stream = spark.readStream \
        .schema("qid long, embedding array<float>") \
        .parquet(str(src) + "/*")
    q = SC.stream_pq_ann_queries(
        stream, ipath, out, k=5,
        checkpoint=str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)
    q.stop()

    got = sorted(tuple(r) for r in spark.read.parquet(out)
                 .select("qid", "vec_id", "adc", "rank").collect())
    want = sorted(tuple(r) for r in
                  SIM.PQIndex.load(spark, ipath)
                  .knn_join(queries, k=5).collect())
    assert got == want and len(got) == 15

    # redelivery with the same batch id is a no-op (marker)
    sink = SC.make_pq_query_sink(ipath, out, k=5)
    before = sorted(os.listdir(out))
    sink(queries, 0)
    assert sorted(os.listdir(out)) == before

    # emb_path switches the sink to the exact re-ranked serving
    epath = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(epath)
    out2 = str(tmp_path / "res-rr")
    sink_rr = SC.make_pq_query_sink(ipath, out2, k=5,
                                    emb_path=epath, shortlist=30)
    sink_rr(queries, 7)
    got_rr = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(out2, "batch=7"))
        .select("qid", "vec_id", "d2", "rank").collect())
    want_rr = sorted(tuple(r) for r in
                     SIM.PQIndex.load(spark, ipath)
                     .knn_join(queries, k=5,
                               emb=spark.read.parquet(epath),
                               shortlist=30).collect())
    assert got_rr == want_rr and len(got_rr) == 15

    # 0-row micro-batch through BOTH query sinks: marker published
    # (redelivery no-op), NO file-less batch dir poisoning the
    # consumer's parquet read (the sink-choreography rule)
    empty = queries.where("qid < 0")
    out3 = str(tmp_path / "res-empty")
    SC.make_pq_query_sink(ipath, out3, k=5)(empty, 3)
    assert os.path.exists(os.path.join(out3, "_batch-3.done"))
    assert not os.path.exists(os.path.join(out3, "batch=3"))
    sq_ipath = str(tmp_path / "sq-for-empty")
    sidx = SIM.SQIndex.from_labels(emb)
    sidx.save(sq_ipath)
    sidx.unpersist()
    SC.make_ann_query_sink(sq_ipath, out3, k=5)(empty, 4)
    assert os.path.exists(os.path.join(out3, "_batch-4.done"))
    assert not os.path.exists(os.path.join(out3, "batch=4"))


def test_bloom_novelty_gate_stream(spark, tmp_path):
    """The Bloom novelty gate end to end: batch 0 (fresh bloom)
    accepts everything and seeds the bits; batch 1 rejects
    re-crawled batch-0 docs and a barely-edited near-copy, accepts
    genuinely new text; redelivery is a marker no-op; a
    crash-window redelivery (marker removed) REPLACES the batch's
    output instead of duplicating it; compacting the bit deltas
    changes no verdict."""
    import os

    from siridb_server_spark.localdf import arrow_df
    from siridb_server_spark.streaming import corpus as SC

    bloom = str(tmp_path / "bloom")
    acc = str(tmp_path / "acc")
    rej = str(tmp_path / "rej")
    sink = SC.make_bloom_novelty_sink(
        bloom, acc, rejected_path=rej, min_novel_ppm=500_000, n=3)

    b0 = arrow_df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different document about spark engines"),
        (3, "an entirely different document about spark engines"),
    ], "doc_id long, text string")  # in-batch exact dup collapses
    sink(b0, 0)
    a0 = spark.read.parquet(os.path.join(acc, "docs", "batch=0"))
    assert a0.count() == 2
    assert os.path.isdir(os.path.join(bloom, "bits", "batch=0"))

    b1 = arrow_df(spark, [
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "the quick brown cat jumps over the lazy dog today"),
        (12, "totally novel words that nothing before contained"),
    ], "doc_id long, text string")
    sink(b1, 1)
    a1 = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(acc, "docs", "batch=1")).collect()}
    r1 = {r["doc_id"]: (r["n_ngrams"], r["n_seen"]) for r in
          spark.read.parquet(os.path.join(rej, "batch=1"))
          .collect()}
    # 10 = verbatim re-crawl (0 novel); 11 = one changed word (3 of
    # 8 grams novel < 50%); 12 = all novel
    assert a1 == {12}
    assert set(r1) == {10, 11}
    assert r1[10][1] == r1[10][0]          # fully seen
    assert 0 < r1[11][1] < r1[11][0]       # partially seen

    # redelivery: marker no-op
    before = sorted(os.listdir(os.path.join(acc, "docs")))
    sink(b1, 1)
    assert sorted(os.listdir(os.path.join(acc, "docs"))) == before

    # crash-window redelivery replaces, never duplicates — AND the
    # batch's own bits/batch=1 delta (already written by the
    # "crashed" first attempt) must NOT poison the re-score: the
    # sink excludes its own partition, so the verdicts are
    # identical, accepted stays {12} and rejected stays {10, 11}
    # (doc 12 must not flip to rejected against its own bits)
    os.remove(os.path.join(acc, "_batch-1.done"))
    assert os.path.isdir(os.path.join(bloom, "bits", "batch=1"))
    sink(b1, 1)
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(acc, "docs", "batch=1")).collect()} == {12}
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(rej, "batch=1")).collect()} == {10, 11}

    # NULL-text docs cannot vanish: shingles() maps NULL/empty text
    # to the single empty-string shingle (concat_ws skips NULLs),
    # so the FIRST one is genuinely novel and accepted, and every
    # later one scores fully-seen and rejects — accepted ∪ rejected
    # partitions every batch either way
    bnull = arrow_df(spark, [
        (40, None),
        (41, "fresh words appearing here for the first time")],
        "doc_id long, text string")
    sink(bnull, 9)
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(acc, "docs", "batch=9")).collect()} \
        == {40, 41}
    assert not os.path.isdir(os.path.join(rej, "batch=9"))
    sink(arrow_df(spark, [(50, None)],
                  "doc_id long, text string"), 10)
    assert not os.path.isdir(os.path.join(acc, "docs", "batch=10"))
    rnull = {r["doc_id"]: (r["n_ngrams"], r["n_seen"]) for r in
             spark.read.parquet(os.path.join(rej, "batch=10"))
             .collect()}
    assert rnull == {50: (1, 1)}

    # compaction folds the deltas; the distinct bit set and the
    # verdicts are unchanged (doc 10 re-sent in a new batch still
    # rejects)
    n_bits = spark.read.parquet(os.path.join(bloom, "bits")) \
        .select("bit").distinct().count()
    folded = SC.compact_bloom(spark, bloom)
    assert folded == {"bits": 3}  # batch=0, batch=1, batch=9
    assert sorted(d for d in os.listdir(os.path.join(bloom, "bits"))
                  if d.startswith("batch=")) == ["batch=-1"]
    assert spark.read.parquet(os.path.join(bloom, "bits")) \
        .select("bit").distinct().count() == n_bits
    b2 = b1.where("doc_id = 10").withColumn(
        "doc_id", F.col("doc_id") + 100)
    sink(b2, 2)
    assert not os.path.isdir(os.path.join(acc, "docs", "batch=2"))
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(rej, "batch=2")).collect()} == {110}

    # empty micro-batch: marker only, no poisoned dirs
    sink(b1.where("doc_id < 0"), 3)
    assert os.path.exists(os.path.join(acc, "_batch-3.done"))
    assert not os.path.isdir(os.path.join(acc, "docs", "batch=3"))


def test_bloom_compact_skips_crashed_batch_then_redelivers(
        spark, tmp_path):
    """The crash → compact → redeliver interleaving: a batch whose
    first attempt wrote its bits delta but crashed before the
    marker must NOT have those bits folded into the negative-id
    base — marker-aware compact_bloom (accepted_path passed) leaves
    the unmarked delta in place, so the redelivery's
    ``batch != id`` self-exclusion still works and genuinely novel
    docs are accepted, not permanently self-rejected."""
    import os

    from siridb_server_spark.localdf import arrow_df
    from siridb_server_spark.streaming import corpus as SC

    bloom = str(tmp_path / "bloom")
    acc = str(tmp_path / "acc")
    rej = str(tmp_path / "rej")
    sink = SC.make_bloom_novelty_sink(
        bloom, acc, rejected_path=rej, min_novel_ppm=500_000, n=3)

    sink(arrow_df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string"), 0)
    b1 = arrow_df(spark, [
        (10, "totally novel words that nothing before contained")],
        "doc_id long, text string")
    sink(b1, 1)
    # simulate the crash window: bits/batch=1 exists, marker gone
    os.remove(os.path.join(acc, "_batch-1.done"))

    # marker-aware compaction folds ONLY the marked batch=0 delta;
    # the crashed batch=1 delta survives in place
    folded = SC.compact_bloom(spark, bloom, accepted_path=acc)
    assert folded == {}  # batch=0 alone: nothing to fold (<=1 dir)
    sink(arrow_df(spark, [
        (2, "more fresh sentences to make a second marked delta")],
        "doc_id long, text string"), 2)
    folded = SC.compact_bloom(spark, bloom, accepted_path=acc)
    assert folded == {"bits": 2}  # batch=0 + batch=2 only
    dirs = sorted(d for d in os.listdir(os.path.join(bloom, "bits"))
                  if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=1"]

    # redelivery of the crashed batch: its own surviving delta is
    # excluded by batch != 1, so doc 10 is still judged novel and
    # ACCEPTED (the unguarded fold flipped it to rejected forever)
    sink(b1, 1)
    assert {r["doc_id"] for r in spark.read.parquet(
        os.path.join(acc, "docs", "batch=1")).collect()} == {10}
    assert not os.path.isdir(os.path.join(rej, "batch=1"))

    # with every batch marked, a later compaction folds the rest
    folded = SC.compact_bloom(spark, bloom, accepted_path=acc)
    assert folded == {"bits": 2}  # batch=-1 + batch=1
    dirs = sorted(d for d in os.listdir(os.path.join(bloom, "bits"))
                  if d.startswith("batch="))
    assert dirs == ["batch=-2"]
